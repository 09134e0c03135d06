package perfbench

import java.nio.file.{Files, Path => JPath, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (see `run.py`). */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      data: String, work: String, fixtures: String, out: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toInt,
      req("trace") == "1", req("data"), req("work"), req("fixtures"), req("out"))
  }
}

/** What one measurement pass reports. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def put(name: String, value: Double, unit: String): Unit = { metrics(name) = value -> unit; () }
  def note(k: String, v: Any): Unit = { notes(k) = v.toString; () }
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
    ()
  }

  def toJson(correct: Boolean): String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s""""${Json.esc(k)}":{"value":${Json.num(v)},"unit":"${Json.esc(u)}"}"""
    }.mkString("{", ",", "}")
    val ns = notes.map { case (k, v) => s""""${Json.esc(k)}":"${Json.esc(v)}"""" }
      .mkString("{", ",", "}")
    val fs = failures.take(20).map(f => "\"" + Json.esc(f) + "\"").mkString("[", ",", "]")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$ms,"notes":$ns,"failures":$fs}"""
  }
}

/** Session lifecycle shared by the workloads: the engine's own session
  * settings plus the benchmark's probes, re-registered on every new
  * session. */
final class Bench(val args: Args) {
  val cpus: Int = Runtime.getRuntime.availableProcessors
  val trace = new Trace(args.trace)
  val jobs = new JobProbe(trace)
  val progress = new ProgressProbe(trace)
  private var current: SparkSession = _

  def spark: SparkSession = current

  def startSession(): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.inMemoryColumnarStorage.partitionPruning", "false")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.hadoop.fs.pbfs.impl", classOf[PbFs].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.pbfs.impl", classOf[PbAfs].getName)
    current = graft.SessionTuning(b).getOrCreate()
    current.sparkContext.setLogLevel("ERROR")
    current.sparkContext.addSparkListener(jobs)
    current.streams.addListener(progress)
    current
  }

  def stopSession(): Unit = {
    if (current != null) current.stop()
    current = null
  }

  /** A fresh directory under the run's work dir. */
  def dir(name: String): JPath = {
    val p = Paths.get(args.work, name)
    Bench.deleteTree(p)
    Files.createDirectories(p)
  }

  /** Root URI for a topic's output: plain `file:` untraced, the
    * counting filesystem traced. */
  def uri(p: JPath, traced: Boolean): String =
    (if (traced) s"${PbFs.Scheme}://" else "file://") + p.toAbsolutePath.toString

  /** Run `body` as one benchmark operation: its Spark jobs carry the op
    * id, and a span records it. Returns (result, milliseconds). */
  def timed[A](opId: String, name: String)(body: => A): (A, Double) = {
    val sc = spark.sparkContext
    sc.setLocalProperty(JobProbe.OpProperty, opId)
    val t0 = System.nanoTime()
    try {
      val r = body
      val t1 = System.nanoTime()
      trace.add(Span(opId, "run", name, t0, t1))
      r -> (t1 - t0) / 1e6
    } finally sc.setLocalProperty(JobProbe.OpProperty, null)
  }
}

object Bench {
  private val t0 = System.nanoTime()
  /** Progress line on stderr (the run's log), stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%8.2f] $msg")

  def fs(spark: SparkSession, uri: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(uri).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def deleteTree(p: JPath): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  def copyTree(src: JPath, dst: JPath): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    } finally s.close()
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val bench = new Bench(args)
    val report = new Report
    val ok =
      try {
        args.workload match {
          case "ingest_gated_aged" => new Ingest(bench).run(report)
          case "query_mix" => new QueryMix(bench).run(report)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        val (native, live) = Memory.footprintMb()
        report.put("footprint_mb", native + live, "MiB")
        report.note("footprint", f"native high-water $native%.1f MiB + peak live heap $live%.1f MiB; live samples ${Memory.samples.mkString(",")}")
        true
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          report.failures += s"run aborted: $e"
          false
      } finally {
        try bench.stopSession() catch { case _: Throwable => () }
      }
    if (args.trace) bench.trace.write(Paths.get(args.work, "trace.jsonl"))
    val correct = ok && report.failed == 0 && report.attempted > 0
    Files.write(Paths.get(args.out), report.toJson(correct).getBytes("UTF-8"))
    System.exit(if (ok) 0 else 1)
  }
}
