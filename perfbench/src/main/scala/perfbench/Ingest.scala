package perfbench

import java.nio.file.Files
import java.util.concurrent.TimeUnit

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ingest.CommitLog
import graft.streaming.DedupIngest

/** The streaming workload: `DedupIngest.startLoggedDeduped` on a copy
  * of the aged gated topic, driven through two phases: a steady open
  * loop at a fixed offered rate, then a closed-loop catch-up of
  * fixed-size batches. */
final class Ingest(b: Bench) {
  import Ingest._

  private val topic = Fixtures.GatedTopic

  /** One stream on one topic copy, plus the generator that feeds it. */
  private final class Live(val out: String, val q: StreamingQuery, ms: MemoryStream[DocRec],
                           val gen: Inputs.DocGen, val recoverMs: Double, val baseVersion: Long) {
    val events = mutable.ArrayBuffer.empty[ProgressProbe.Progress]
    /** Offer `n` more records; returns the stream offset that covers them. */
    def add(n: Int): Long = ms.addData(gen.take(n)).json().toLong
    /** Block until a progress event covering MemoryStream offset `o`
      * has been received; false on timeout. */
    def await(o: Long, timeoutMs: Long): Boolean = {
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      while (!events.exists(_.endOffset >= o)) {
        val left = deadline - System.nanoTime()
        if (left <= 0 || !q.isActive) return false
        val e = b.progress.events.poll(math.min(left, 50000000L), TimeUnit.NANOSECONDS)
        if (e != null && e.runId == q.runId.toString) events += e
      }
      true
    }
    def drain(): Unit = {
      var e = b.progress.events.poll()
      while (e != null) { if (e.runId == q.runId.toString) events += e; e = b.progress.events.poll() }
    }
  }

  private lazy val docs = Inputs.loadDocs(b.spark, b.args.data)

  /** Set-up: copy the aged topic into place, recover the committed
    * offsets and the gate's index, start the stream, and commit its
    * first batch. */
  private def setUp(rep: Int, traced: Boolean): Live = {
    Bench.log(s"set-up $rep")
    val spark = b.spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val root = b.dir(s"${if (traced) "traced" else "plain"}-$rep")
    val outDir = root.resolve("out")
    Files.createDirectories(outDir)
    val out = b.uri(outDir, traced)
    val ckpt = b.uri(root.resolve("ckpt"), traced)
    b.progress.events.clear()
    Bench.copyTree(Fixtures.gated(spark, b.args.fixtures, docs), outDir)
    val corpus = Fixtures.gatedCorpus(docs)
    val nextOff = Array.tabulate(Inputs.Parts)(p => corpus.count(_.part == p).toLong)
    val gen = new Inputs.DocGen(docs, b.args.seed, corpus, nextOff, DupShare)
    val ms = MemoryStream[DocRec]
    val (_, recoverMs) = b.timed(s"recover-$rep", "commitlog.recover") {
      CommitLog.maxOffsets(spark, out, topic)
      DedupIngest.reconcileFingerprints(spark, out, topic)
    }
    val q = DedupIngest.startLoggedDeduped(ms.toDF(), out, topic, FlushSize, ckpt)
    val live = new Live(out, q, ms, gen, recoverMs, CommitLog.latestVersion(spark, out, topic))
    commitBatch(live)
    live
  }

  private def commitBatch(live: Live): Unit =
    require(live.await(live.add(BatchRecords), 120000), "a set-up or warm-up batch did not commit")

  /** Steady phase: one chunk per tick at the offered rate, on a
    * schedule that does not slow when the sink does. Freshness of a
    * chunk runs from its scheduled time to the receipt of the progress
    * event of the batch that committed it. */
  private def steady(live: Live, r: Report, prefix: String, steadySec: Double): Unit = {
    val chunk = math.max(1, (Rate * TickMs / 1000.0).round.toInt)
    val ticks = (steadySec * 1000 / TickMs).toInt
    val sched = new Array[Long](ticks)
    val late = new Array[Double](ticks)
    val offs = new Array[Long](ticks)
    val t0 = System.nanoTime() + 20000000L
    val gen = new Thread(() => {
      var k = 0
      while (k < ticks) {
        val due = t0 + k * TickMs * 1000000L
        val wait = due - System.nanoTime()
        if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
        sched(k) = due
        late(k) = (System.nanoTime() - due) / 1e6
        offs(k) = live.add(chunk)
        k += 1
      }
    }, "perfbench-generator")
    val firstEvent = live.events.size
    gen.start()
    gen.join()
    val endNs = System.nanoTime()
    live.drain()
    val covered = live.events.filter(_.receivedNs <= endNs).map(_.endOffset).maxOption.getOrElse(-1L)
    val backlog = offs.count(_ > covered).toLong * chunk
    r.check(live.await(offs.last, 120000), s"$prefix steady phase did not drain")
    val evs = live.events.drop(firstEvent).toIndexedSeq
    val fresh = sched.indices.flatMap { k =>
      evs.find(_.endOffset >= offs(k)).map(e => (e.receivedNs - sched(k)) / 1e6)
    }
    r.check(fresh.size == ticks, s"$prefix ${ticks - fresh.size} chunks never committed")
    val (p95, q) = Stats.tail(fresh)
    r.put("latency_p50_ms", Stats.median(fresh), "ms")
    r.put("latency_p95_ms", p95, "ms")
    r.note("latency_samples", s"${fresh.size} chunks of $chunk records at $Rate records/s; tail percentile p${(q * 100).round}")
    r.put("streaming.rows_per_batch_p50", Stats.median(evs.map(_.rows.toDouble)), "count")
    r.put("streaming.backlog_end_rows", backlog.toDouble, "count")
    r.put("streaming.generator_late_share_p99", Stats.quantile(late.toSeq, 0.99) / TickMs, "ratio")
  }

  /** Catch-up phase: one client adds a fixed-size batch and waits for
    * its commit before adding the next. Returns the step that records
    * the batches' Spark job accounting, which arrives later on the
    * listener bus. */
  private def catchUp(live: Live, r: Report, prefix: String, catchupSec: Double): () => Unit = {
    val lat = mutable.ArrayBuffer.empty[Double]
    val firstEvent = live.events.size
    val fs0 = PbFs.snap()
    val gc0 = Gc.millis()
    val t0 = System.nanoTime()
    val end = t0 + (catchupSec * 1e9).toLong
    var records = 0L
    while (System.nanoTime() < end) {
      val a = System.nanoTime()
      val o = live.add(BatchRecords)
      val ok = live.await(o, 120000)
      r.check(ok, s"$prefix catch-up batch at offset $o did not commit")
      if (ok) {
        lat += (live.events.find(_.endOffset >= o).get.receivedNs - a) / 1e6
        records += BatchRecords
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val gcMs = Gc.millis() - gc0
    val fs = PbFs.snap() - fs0
    val evs = live.events.drop(firstEvent).toIndexedSeq
    val n = math.max(1, evs.size).toDouble
    r.put("throughput_ps", records / wall, "1/s")
    // a run holds five to eight batches: compare the halves' means, as
    // fifths of at least three batches would overlap
    val half = lat.size / 2
    r.put("age_slowdown", lat.takeRight(half).sum / lat.take(half).sum, "ratio")
    r.note("catchup", s"${lat.size} batches of $BatchRecords records in ${"%.2f".format(wall)} s: " +
      lat.map(_.round).mkString(" "))
    // per-batch layer costs, attributed through the batch-id job property
    val accs = evs.map(e => b.jobs.acc(JobProbe.batchOwner(e.queryId, e.batchId)))
    def perBatch(f: JobProbe#Acc => Long): Double = accs.map(f).sum / n
    val trig = evs.map(_.durations.getOrElse("triggerExecution", 0L)).sum.toDouble
    def share(ks: String*): Double = evs.map(e => ks.map(e.durations.getOrElse(_, 0L)).sum).sum / trig
    r.put("streaming.batches", evs.size.toDouble, "count")
    r.put("streaming.add_batch_share", share("addBatch"), "ratio")
    r.put("streaming.offsets_share", share("walCommit", "commitOffsets"), "ratio")
    putFs(r, fs, n)
    () => putSpark(r, perBatch, gcMs / n)
  }

  def run(r: Report): Unit =
    if (!b.args.trace) {
      // set-up, repeated: session start, topic copy, recovery, first
      // batch; the first one warms the JVM and is not timed
      val setups = mutable.ArrayBuffer.empty[Double]
      var live: Live = null
      (0 to SetupReps).foreach { rep =>
        val t0 = System.nanoTime()
        if (rep > 0) { live.q.stop(); b.stopSession() }
        b.startSession()
        live = setUp(rep, traced = false)
        if (rep > 0) setups += (System.nanoTime() - t0) / 1e9
      }
      r.put("setup_s", Stats.median(setups.toSeq), "s")
      r.note("setup_samples", setups.map("%.3f".format(_)).mkString(","))
      Memory.sample()
      measure(live, r, "plain", b.args.seconds)
    } else {
      // untraced, traced, untraced: the first pass warms the JVM, the
      // overhead compares the traced pass with the last one, and the
      // per-layer numbers come from the traced pass. Each pass runs half
      // the run's time.
      def pass(rep: Int, traced: Boolean, into: Report): Live = {
        if (rep > 0) b.stopSession()
        b.startSession()
        val live = setUp(rep, traced)
        measure(live, into, if (traced) "traced" else s"plain$rep", b.args.seconds / 2.0)
        if (into ne r) { r.attempted += into.attempted; r.failed += into.failed; r.failures ++= into.failures }
        live
      }
      val before = new Report
      pass(0, traced = false, before)
      val live = pass(1, traced = true, r)
      val after = new Report
      pass(2, traced = false, after)
      r.put("trace.overhead_share",
        after.metrics("throughput_ps")._1 / r.metrics("throughput_ps")._1 - 1.0, "ratio")
      r.put("commitlog.recover_ms", live.recoverMs, "ms")
      Reads.forStream(b, live.out, topic, r)
      Idle.queries(r)
      r.metrics --= EndToEnd
    }

  /** Untimed warm-up batches, then the two phases, then the check. */
  private def measure(live: Live, r: Report, prefix: String, seconds: Double): Unit = {
    (1 to WarmBatches).foreach(_ => commitBatch(live))
    Bench.log(s"$prefix: steady phase")
    steady(live, r, prefix, seconds / 2)
    Bench.log(s"$prefix: catch-up phase")
    val jobAccounting = catchUp(live, r, prefix, seconds / 2)
    live.q.stop()
    Memory.sample()
    Bench.log(s"$prefix: verify")
    verify(live, r, prefix)
    jobAccounting()
  }

  /** Read the run's appends back through the log: every offered
    * (part, off) that should be admitted is committed exactly once with
    * the generator's payload, and nothing else is; the aged corpus's
    * files all stay live. */
  private def verify(live: Live, r: Report, prefix: String): Unit = {
    val spark = b.spark
    import spark.implicits._
    val want = live.gen.novel.toDS().toDF()
    val base = CommitLog.snapshot(spark, live.out, topic, asOf = live.baseVersion)
    val head = CommitLog.snapshot(spark, live.out, topic).toSet
    r.check(base.size == Fixtures.GatedVersions && base.forall(head),
      s"$prefix: ${base.count(!head(_))} of the aged corpus's ${base.size} files are no longer live")
    val raw = CommitLog.readAddedSince(spark, live.out, topic, live.baseVersion)
    val got = raw.select(want.schema.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    def sig(df: DataFrame): (Long, Long, Long, Long) = {
      val cols = want.columns.sorted.map(col).toSeq
      val h = xxhash64(cols: _*)
      val row = df.agg(count(lit(1)), countDistinct(col("part"), col("off")),
        bit_xor(h), sum(pmod(h, lit(2147483647L)))).head()
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    }
    val (gs, ws) = (sig(got), sig(want))
    r.check(gs._1 == gs._2, s"$prefix: ${gs._1 - gs._2} (part, off) committed more than once")
    r.check(gs == ws, s"$prefix: topic read-back $gs != generator ledger $ws")
    val admitted = gs._1.toDouble / live.gen.offered
    val novel = live.gen.novelCount.toDouble / live.gen.offered
    r.check(admitted == novel, s"$prefix: admitted share $admitted != expected novel share $novel")
    val f = Bench.fs(spark, live.out)
    val fpDir = new org.apache.hadoop.fs.Path(s"${live.out}/$topic/_fp")
    r.put("gate.admitted_share", admitted, "ratio")
    r.put("gate.index_files_end",
      if (f.exists(fpDir)) f.listStatus(fpDir).count(_.getPath.getName.endsWith(".parquet")).toDouble else 0.0,
      "count")
    if (b.args.trace) Storage.put(spark, live.out, topic, r)
  }
}

object Ingest {
  /** Offered rate of the steady phase, records/s: a sixth of the
    * catch-up capacity on a quiet 4-core machine, and still under half
    * of it when a busy host halves the machine's speed. Nearer capacity,
    * freshness swung with the machine's speed far more than batch
    * latency did (a slower batch also queues more records). */
  val Rate = 200
  val BatchRecords = 1500
  val FlushSize = 500
  /** Share of offered records that re-send an earlier payload verbatim.
    * An assumption, not a measured figure: no source at hand gives a
    * producer re-send rate. */
  val DupShare = 0.2
  val TickMs = 25L
  /** Timed set-ups per run, after one untimed warm-up set-up. */
  val SetupReps = 3
  /** Untimed batches before measuring, on top of the first batch each
    * of the four set-ups commits: the JIT is still compiling the commit
    * path after a single set-up, and batch latency falls for several
    * batches more. */
  val WarmBatches = 1
  val EndToEnd = Seq("setup_s", "latency_p50_ms", "latency_p95_ms", "throughput_ps", "age_slowdown")

  def putSpark(r: Report, perOp: (JobProbe#Acc => Long) => Double, gcPerOp: Double): Unit = {
    r.put("spark.jobs_per_op", perOp(_.jobs.sum()), "count")
    r.put("spark.stages_per_op", perOp(_.stages.sum()), "count")
    r.put("spark.tasks_per_op", perOp(_.tasks.sum()), "count")
    r.put("spark.cpu_s_per_op", perOp(_.cpuNs.sum()) / 1e9, "s")
    r.put("spark.shuffle_bytes_per_op", perOp(_.shuffleBytes.sum()), "bytes")
    r.put("spark.spill_bytes_per_op", perOp(_.spillBytes.sum()), "bytes")
    r.put("spark.gc_ms_per_op", gcPerOp, "ms")
  }

  def putFs(r: Report, fs: PbFs.Snap, n: Double): Unit = {
    PbFs.Classes.foreach(c => r.put(s"ingest.fs_ops_per_op.$c", fs.ops(c) / n, "count"))
    r.put("ingest.fs_listed_entries_per_op", fs.listed / n, "count")
    r.put("ingest.fs_ms_per_op", fs.nanos / 1e6 / n, "ms")
  }
}

/** Storage cost of a topic's live files. */
object Storage {
  def put(spark: SparkSession, out: String, topic: String, r: Report): Unit = {
    val f = Bench.fs(spark, out)
    val live = CommitLog.snapshot(spark, out, topic)
    val bytes = live.map(rel => f.getFileStatus(new org.apache.hadoop.fs.Path(s"$out/$topic/$rel")).getLen).sum[Long]
    val rows = CommitLog.read(spark, out, topic).count()
    r.put("ingest.files_per_krecord", live.size * 1000.0 / rows, "count")
    r.put("ingest.bytes_per_record", bytes.toDouble / rows, "bytes")
  }
}
