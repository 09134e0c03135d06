package perfbench

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, DelegateToFileSystem, FileStatus, LocalFileSystem, LocatedFileStatus, Path, RawLocalFileSystem, RemoteIterator}
import org.apache.hadoop.fs.Options.ChecksumOpt
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The raw local filesystem under the benchmark-only `pbfs` scheme. */
class PbRawFs extends RawLocalFileSystem {
  override def getUri: URI = PbFs.Uri
  override def getScheme: String = PbFs.Scheme
}

/** Counting wrapper: the checksummed local filesystem under the `pbfs`
  * scheme, counting metadata ops, listed entries and time spent per
  * path class. Used for traced runs only. Its rename refuses an
  * existing destination file, as the `file:` implementation Spark
  * resolves here (Hive's `ProxyLocalFileSystem`) does, so `CommitLog`'s
  * rename-CAS probe passes on both schemes alike. */
class PbFs extends LocalFileSystem(new PbRawFs) {
  override def getUri: URI = PbFs.Uri
  override def getScheme: String = PbFs.Scheme

  private def count[A](p: Path)(body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally PbFs.record(p, System.nanoTime() - t0)
  }

  override def getFileStatus(f: Path): FileStatus = count(f)(super.getFileStatus(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    count(f)(super.mkdirs(f, permission))
  override def delete(f: Path, recursive: Boolean): Boolean =
    count(f)(super.delete(f, recursive))
  override def rename(src: Path, dst: Path): Boolean =
    count(dst)(!super.isFile(dst) && super.rename(src, dst))
  override def open(f: Path, bufferSize: Int) = count(f)(super.open(f, bufferSize))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable) =
    count(f)(super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
  override protected def primitiveMkdir(f: Path, permission: FsPermission): Boolean =
    count(f)(super.primitiveMkdir(f, permission))
  override protected def primitiveCreate(f: Path, permission: FsPermission,
      flag: java.util.EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable, checksumOpt: ChecksumOpt) =
    count(f)(super.primitiveCreate(f, permission, flag, bufferSize, replication,
      blockSize, progress, checksumOpt))
  override def listStatus(f: Path): Array[FileStatus] = count(f) {
    val r = super.listStatus(f)
    PbFs.listed.add(r.length.toLong)
    r
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = count(f) {
    val it = super.listLocatedStatus(f)
    new RemoteIterator[LocatedFileStatus] {
      def hasNext: Boolean = it.hasNext
      def next(): LocatedFileStatus = { PbFs.listed.increment(); it.next() }
    }
  }
}

/** [[PbFs]] for `FileContext` users (Spark's streaming checkpoint
  * manager), so checkpoint I/O takes the same path as on `file:`. */
class PbAfs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new PbFs, conf, PbFs.Scheme, false)

object PbFs {
  val Scheme = "pbfs"
  val Uri: URI = URI.create(s"$Scheme:///")
  /** Path classes, in match order. */
  val Classes: Seq[String] = Seq("commitlog", "index", "checkpoint", "data")

  private val ops = Classes.map(_ -> new LongAdder).toMap
  val listed = new LongAdder
  val nanos = new LongAdder

  def classOf(p: Path): String = {
    val s = p.toUri.getPath
    if (s.contains("/_commitlog")) "commitlog"
    else if (s.contains("/_fp") || s.contains("/_stats") || s.contains("/_bloom")) "index"
    else if (s.contains("/ckpt")) "checkpoint"
    else "data"
  }

  def record(p: Path, ns: Long): Unit = {
    ops(classOf(p)).increment()
    nanos.add(ns)
  }

  final case class Snap(ops: Map[String, Long], listed: Long, nanos: Long) {
    def -(o: Snap): Snap = Snap(ops.map { case (k, v) => k -> (v - o.ops(k)) },
      listed - o.listed, nanos - o.nanos)
  }
  def snap(): Snap = Snap(ops.map { case (k, v) => k -> v.sum() }, listed.sum(), nanos.sum())
}

/** One span: a layer boundary with its cause. Batch spans come from
  * the progress listener, op spans from the benchmark's own calls, job
  * spans from the Spark listener via the job property. */
final case class Span(id: String, parent: String, name: String,
                      startNs: Long, endNs: Long)

/** In-memory span store, written out when the run ends. */
final class Trace(val enabled: Boolean) {
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  def add(s: Span): Unit = if (enabled) { spans.add(s); () }
  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span name: duration minus the union of the
    * intervals its direct children cover. */
  def selfMsByName: Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((acc, end), (a, b)) =>
            if (a >= end) (acc + (b - a), b)
            else if (b > end) (acc + (b - end), b)
            else (acc, end)
          }._1
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":"${s.id}","parent":"${s.parent}","name":"${Json.esc(s.name)}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    val self = selfMsByName.toSeq.sortBy(-_._2).map { case (n, ms) =>
      s"""{"self_ms_total":{"name":"${Json.esc(n)}","ms":$ms}}"""
    }
    java.nio.file.Files.write(path, (lines ++ self).asJava)
    ()
  }
}

/** Spark job/stage/task accounting with exact attribution: every job
  * carries either Spark's `streaming.sql.batchId` local property (set
  * on the micro-batch thread) or the benchmark's own [[OpProperty]],
  * and its stages' task metrics roll up to that owner. */
final class JobProbe(trace: Trace) extends SparkListener {
  import JobProbe._
  final class Acc {
    val jobs = new LongAdder; val stages = new LongAdder; val tasks = new LongAdder
    val cpuNs = new LongAdder; val shuffleBytes = new LongAdder
    val spillBytes = new LongAdder; val inputRows = new LongAdder
  }
  private val byOwner = new ConcurrentHashMap[String, Acc]()
  private val stageOwner = new ConcurrentHashMap[Int, String]()
  private val jobInfo = new ConcurrentHashMap[Int, (String, Long)]()

  def acc(owner: String): Acc = byOwner.computeIfAbsent(owner, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val owner = props.flatMap(p => Option(p.getProperty(OpProperty)))
      .orElse(props.flatMap(p => for {
        q <- Option(p.getProperty("sql.streaming.queryId"))
        b <- Option(p.getProperty("streaming.sql.batchId"))
      } yield batchOwner(q, b.toLong)))
      .getOrElse("other")
    acc(owner).jobs.increment()
    e.stageIds.foreach(s => stageOwner.put(s, owner))
    jobInfo.put(e.jobId, (owner, System.nanoTime()))
    ()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobInfo.remove(e.jobId)).foreach { case (owner, t0) =>
      trace.add(Span(s"job:${e.jobId}", owner, "spark.job", t0, System.nanoTime()))
    }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageOwner.get(e.stageInfo.stageId)).foreach(acc(_).stages.increment())
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val owner = Option(stageOwner.get(e.stageId)).getOrElse("other")
    val a = acc(owner)
    a.tasks.increment()
    Option(e.taskMetrics).foreach { m =>
      a.cpuNs.add(m.executorCpuTime)
      a.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      a.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      a.inputRows.add(m.inputMetrics.recordsRead)
    }
  }
}

object JobProbe {
  /** Job property naming the benchmark operation a job belongs to. */
  val OpProperty = "perfbench.op"
  /** Owner of a micro-batch's jobs: batch ids restart with every query. */
  def batchOwner(queryId: String, batchId: Long): String = s"batch:$queryId:$batchId"
}

/** Progress events of the streaming query, timestamped at receipt. */
final class ProgressProbe(trace: Trace) extends StreamingQueryListener {
  import ProgressProbe.Progress
  val events = new java.util.concurrent.LinkedBlockingQueue[Progress]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val now = System.nanoTime()
    val p = e.progress
    val end = Option(p.sources).flatMap(_.headOption).flatMap(s => Option(s.endOffset))
      .map(_.trim).filter(_.forall(_.isDigit)).map(_.toLong).getOrElse(-1L)
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    if (p.numInputRows > 0 || end >= 0) {
      events.put(Progress(now, p.id.toString, p.runId.toString, p.batchId, end, p.numInputRows, d))
      // the batch span and its phase children, laid back from receipt
      val total = d.getOrElse("triggerExecution", 0L) * 1000000L
      val id = JobProbe.batchOwner(p.id.toString, p.batchId)
      trace.add(Span(id, "stream", "streaming.batch", now - total, now))
      var t = now - total
      Seq("latestOffset", "queryPlanning", "walCommit", "addBatch", "commitOffsets")
        .foreach { k =>
          d.get(k).foreach { ms =>
            trace.add(Span(s"$id/$k", id, s"streaming.$k", t, t + ms * 1000000L))
            t += ms * 1000000L
          }
        }
    }
  }
}

object ProgressProbe {
  final case class Progress(receivedNs: Long, queryId: String, runId: String, batchId: Long, endOffset: Long,
                            rows: Long, durations: Map[String, Long])
}

object Gc {
  def millis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
}

/** Memory footprint under the fixed, pre-touched heap `run.py` starts
  * the JVM with: the process's high-water resident set less the heap
  * (resident from the start whatever the program does), plus the
  * largest live heap seen after a full collection. The workloads take a
  * sample at the end of set-up and at the end of the measured window,
  * outside every timed span. */
object Memory {
  private var peakLive = 0L
  val samples = mutable.ArrayBuffer.empty[Long]

  /** Collect fully and record the live heap. */
  def sample(): Unit = synchronized {
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    samples += used >> 20
    peakLive = math.max(peakLive, used)
  }

  /** (native high-water MiB, peak live heap MiB). */
  def footprintMb(): (Double, Double) = synchronized {
    if (peakLive == 0L) sample()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted
    val hwm = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong * 1024L)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    ((hwm - heap) / 1048576.0, peakLive / 1048576.0)
  }
}

/** Order statistics as the benchmark reports them. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  /** The highest percentile, at most p95, with at least ten samples
    * beyond it; returns (value, percentile). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val q = math.min(0.95, math.max(0.5, 1.0 - 10.0 / xs.size))
    (quantile(xs, q), q)
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}

/** Per-operation latency samples with their kind. */
final class Samples {
  val buf = mutable.ArrayBuffer.empty[(String, Double)]
  def add(kind: String, ms: Double): Unit = synchronized { buf += kind -> ms; () }
  def of(kind: String): Seq[Double] = synchronized(buf.collect { case (k, v) if k == kind => v }.toSeq)
  def all: Seq[Double] = synchronized(buf.map(_._2).toSeq)
}
