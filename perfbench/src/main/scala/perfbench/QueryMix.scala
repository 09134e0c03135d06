package perfbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{CommitLog, FileBloom, FileStats}

/** Log-backed table reads over a committed topic: point and range
  * lookups through the pruning planes, and HEAD, time-travel and
  * incremental scans. Each read materializes to rows on the driver,
  * summarized as (row count, digest) so it can be checked against the
  * same read done unpruned. */
object Reads {
  final case class Result(rows: Long, digest: String)

  def digest(rows: Array[Row]): Result = {
    val md = MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    Result(rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  /** Exact aggregate of a scan: per `by` value, rows and the decimal sum
    * of `value` (order-independent, unlike a double sum). */
  def agg(df: DataFrame, by: String, value: Option[String]): Result = {
    val sums = value.map(v => sum(col(v).cast("decimal(20,2)"))).toSeq
    digest(df.groupBy(by).agg(count(lit(1)), sums: _*).collect())
  }

  /** The timed per-layer reads a streaming run does on the topic it
    * wrote (traced runs only): snapshots, one HEAD scan and one key
    * lookup. */
  def forStream(b: Bench, out: String, topic: String, r: Report): Unit = {
    val spark = b.spark
    val versions = CommitLog.latestVersion(spark, out, topic)
    val (_, headMs) = b.timed("snap-head", "commitlog.snapshot")(CommitLog.snapshot(spark, out, topic))
    val (_, asofMs) = b.timed("snap-asof", "commitlog.snapshot")(
      CommitLog.snapshot(spark, out, topic, asOf = versions / 2))
    val scans = Seq(b.timed("scan", "commitlog.scan")(agg(CommitLog.read(spark, out, topic), "lang", None))._2)
    val keyCol = "tag"
    val keys = CommitLog.read(spark, out, topic).select(keyCol).orderBy(keyCol)
      .limit(1).collect().map(_.get(0))
    val looks = keys.toSeq.zipWithIndex.map { case (k, i) =>
      lookup(b, s"lookup-$i", out, topic, col(keyCol) === lit(k))
    }
    r.put("commitlog.versions", (versions + 1).toDouble, "count")
    r.put("commitlog.snapshot_head_ms", headMs, "ms")
    r.put("commitlog.snapshot_asof_ms", asofMs, "ms")
    r.put("commitlog.scan_ms_p50", Stats.median(scans), "ms")
    putLookups(b, r, looks)
  }

  final case class Lookup(id: String, ms: Double, pruneMs: Double, kept: Double, result: Result)

  /** A pruned point/range read: prune through the stats and Bloom
    * planes (timed on its own as the planes' cost), then the full
    * pruned read as the user runs it. */
  def lookup(b: Bench, id: String, out: String, topic: String, pred: Column): Lookup = {
    val spark = b.spark
    val snap = CommitLog.snapshot(spark, out, topic)
    // the planes' own cost, timed apart in traced runs only (it repeats
    // the pruning readPruned does)
    val (kept, pruneMs) =
      if (!b.args.trace) (snap, 0.0)
      else b.timed(s"$id-prune", "tables.prune") {
        FileBloom.pruneRels(spark, out, topic, pred,
          FileStats.pruneRels(spark, out, topic, pred, snap))
      }
    val (res, ms) = b.timed(id, "tables.lookup")(
      digest(FileBloom.readPruned(spark, out, topic, pred).collect()))
    Lookup(id, ms, pruneMs, kept.size.toDouble / snap.size, res)
  }

  /** Lookup metrics; call once the lookups' Spark jobs have been
    * reported, so their input rows are in. */
  def putLookups(b: Bench, r: Report, ls: Seq[Lookup]): Unit = {
    r.put("tables.lookup_ms_p50", Stats.median(ls.map(_.ms)), "ms")
    r.put("tables.prune_ms_p50", Stats.median(ls.map(_.pruneMs)), "ms")
    r.put("tables.files_kept_share", Stats.median(ls.map(_.kept)), "ratio")
    r.put("tables.input_rows_per_lookup",
      Stats.median(ls.map(l => b.jobs.acc(l.id).inputRows.sum().toDouble)), "count")
  }
}

/** The read workload: one client in a closed loop over a seeded
  * interleaving of registered analytic queries and log-backed reads of
  * an aged events topic. */
final class QueryMix(b: Bench) {
  import QueryMix._
  private val topic = Fixtures.EventsTopic

  /** The run's operations, drawn once from the seed: every analytic
    * query, point lookups by user, narrow time-range lookups, and a
    * time-travel and an incremental scan at a seeded pin. Each round
    * runs all of them in a fresh seeded order. */
  private def ops(rng: scala.util.Random, users: IndexedSeq[Long], t0: Long, latest: Long): Seq[Op] = {
    val points = (0 until PointLookups).map { _ =>
      val u = users(rng.nextInt(users.size))
      val p = col("user_id") === lit(u)
      Look(s"point:$u", p, p)
    }
    val ranges = (0 until RangeLookups).map { _ =>
      val a = t0 + rng.nextInt(Fixtures.EventRecords) * 20L * 1000000L
      val p = col("ts") >= lit(micros(a)) && col("ts") < lit(micros(a + RangeMicros))
      Look(s"range:$a", p, p)
    }
    // a pin in the middle tenth of the log: both pinned reads then
    // touch about half the topic's files whatever the seed
    val pin = latest / 2 - latest / 20 + rng.nextInt((latest / 10).toInt + 1)
    val scans = Seq(
      Scan(s"asof:$pin", (s, o) => CommitLog.read(s, o, topic, asOf = pin), Fixtures.asOf(pin)),
      Scan(s"since:$pin", (s, o) => CommitLog.readAddedSince(s, o, topic, pin), !Fixtures.asOf(pin)))
    Analytics.map(Analytic) ++ points ++ ranges ++ scans
  }

  def run(r: Report): Unit = {
    var src: IndexedSeq[Inputs.Ev] = null
    val setups = mutable.ArrayBuffer.empty[Double]
    var out = ""
    // the first set-up warms the JVM and is not timed
    val reps = if (b.args.trace) 1 else SetupReps + 1
    (0 until reps).foreach { rep =>
      val t0 = System.nanoTime()
      if (rep > 0) b.stopSession()
      b.startSession()
      if (src == null) src = Inputs.loadEvents(b.spark, b.args.data)
      out = setUp(rep, src, traced = false)
      if (rep > 0 || b.args.trace) setups += (System.nanoTime() - t0) / 1e9
    }
    r.put("setup_s", Stats.median(setups.toSeq), "s")
    r.note("setup_samples", setups.map("%.3f".format(_)).mkString(","))
    val users = Fixtures.typicalUsers(src)
    // untimed warm-up that also yields the results for the golden check
    Analytics.foreach { q =>
      graft.SparkEntry.queries(q)(b.spark, b.args.data)
        .write.mode("overwrite").parquet(s"${b.args.work}/results/$q")
      release(b.spark)
    }
    Memory.sample()
    loop(out, src, users, r, "plain", if (b.args.trace) b.args.seconds / 2.0 else b.args.seconds)
    Memory.sample()
    if (b.args.trace) {
      // the overhead compares the traced pass with a second untraced
      // pass after it, when the JVM is as warm
      b.stopSession(); b.startSession()
      val tout = setUp(1, src, traced = true)
      val traced = new Report
      val fs0 = PbFs.snap()
      val gc0 = Gc.millis()
      val n = loop(tout, src, users, traced, "traced", b.args.seconds / 2.0)
      val fs = PbFs.snap() - fs0
      b.stopSession(); b.startSession()
      val after = new Report
      loop(setUp(2, src, traced = false), src, users, after, "plain2", b.args.seconds / 2.0)
      val overhead = traced.metrics("mean_ms")._1 / after.metrics("mean_ms")._1 - 1.0
      r.attempted += after.attempted; r.failed += after.failed; r.failures ++= after.failures
      r.metrics.clear()
      r.put("trace.overhead_share", overhead, "ratio")
      traced.metrics.foreach { case (k, v) => if (k.contains(".")) r.metrics(k) = v }
      r.attempted += traced.attempted; r.failed += traced.failed; r.failures ++= traced.failures
      Ingest.putSpark(r, f => n.ops.map(o => f(b.jobs.acc(o)) + f(b.jobs.acc(s"$o-prune"))).sum.toDouble / n.ops.size,
        (Gc.millis() - gc0).toDouble / n.ops.size)
      Ingest.putFs(r, fs, n.ops.size.toDouble)
      val (_, recoverMs) = b.timed("recover", "commitlog.recover")(CommitLog.maxOffsets(b.spark, tout, topic))
      r.put("commitlog.recover_ms", recoverMs, "ms")
      val latest = CommitLog.latestVersion(b.spark, tout, topic)
      r.put("commitlog.versions", (latest + 1).toDouble, "count")
      r.put("commitlog.snapshot_head_ms", b.timed("snap-head", "commitlog.snapshot")(
        CommitLog.snapshot(b.spark, tout, topic))._2, "ms")
      r.put("commitlog.snapshot_asof_ms", b.timed("snap-asof", "commitlog.snapshot")(
        CommitLog.snapshot(b.spark, tout, topic, asOf = latest / 2))._2, "ms")
      Storage.put(b.spark, tout, topic, r)
      Idle.stream(r)
    } else r.metrics.remove("mean_ms")
  }

  /** Set-up: copy the aged topic into place and run a first operation
    * of each kind. */
  private def setUp(rep: Int, src: IndexedSeq[Inputs.Ev], traced: Boolean): String = {
    val spark = b.spark
    val fx = Fixtures.events(spark, b.args.fixtures, src)
    val root = b.dir(s"${if (traced) "traced" else "plain"}-$rep")
    Bench.copyTree(fx, root)
    val out = b.uri(root, traced)
    graft.SparkEntry.queries(Analytics.head)(spark, b.args.data).write.format("noop").mode("overwrite").save()
    release(spark)
    Reads.agg(CommitLog.read(spark, out, topic), "event_type", Some("value"))
    FileBloom.readPruned(spark, out, topic, col("user_id") === lit(0L)).collect()
    out
  }

  private def release(spark: SparkSession): Unit = {
    graft.queries.TrackedCache.releaseAll()
    spark.catalog.clearCache()
  }

  private final class Outcome(val ops: Seq[String])

  private def micros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000).toInt)
    t
  }

  /** The closed loop: whole rounds of the run's operations, each in a
    * fresh seeded order, while the run's time lasts. Every lookup and
    * scan is checked afterwards against the same read done unpruned on
    * the HEAD table. */
  private def loop(out: String, src: IndexedSeq[Inputs.Ev], users: IndexedSeq[Long],
                   r: Report, prefix: String, seconds: Double): Outcome = {
    val spark = b.spark
    val rng = new scala.util.Random(b.args.seed)
    val runOps = ops(rng, users, src.head.ts, CommitLog.latestVersion(spark, out, topic))
    val samples = new Samples
    val byOp = mutable.ArrayBuffer.empty[(Op, Double, Option[Reads.Result])]
    val lookups = mutable.ArrayBuffer.empty[Reads.Lookup]
    val opIds = mutable.ArrayBuffer.empty[String]
    val start = System.nanoTime()
    val end = start + (seconds * 1e9).toLong
    var n = 0
    while (System.nanoTime() < end) {
      rng.shuffle(runOps).foreach { op =>
        n += 1
        val id = s"$prefix-$n-${op.id}"
        opIds += id
        try {
          val (res, ms) = op match {
            case Analytic(q) =>
              val (_, ms) = b.timed(id, s"queries.$q") {
                graft.SparkEntry.queries(q)(spark, b.args.data).write.format("noop").mode("overwrite").save()
              }
              release(spark)
              None -> ms
            case Look(_, pred, _) =>
              val l = Reads.lookup(b, id, out, topic, pred)
              lookups += l
              Some(l.result) -> l.ms
            case Scan(_, read, _) =>
              val (res, ms) = b.timed(id, "commitlog.scan")(Reads.agg(read(spark, out), "event_type", Some("value")))
              Some(res) -> ms
          }
          samples.add(op.kind, ms)
          byOp += ((op, ms, res))
          Bench.log(f"$id ${ms}%.1f ms")
          r.check(ok = true, id)
        } catch {
          case e: Exception => r.check(ok = false, s"$id threw $e")
        }
      }
    }
    val wall = (System.nanoTime() - start) / 1e9
    // correctness of every log-backed read against the unpruned HEAD read
    val head = CommitLog.read(spark, out, topic).persist()
    val refs = mutable.Map.empty[String, Reads.Result]
    byOp.foreach {
      case (l: Look, _, Some(got)) =>
        val want = refs.getOrElseUpdate(l.id, Reads.digest(head.filter(l.ref).collect()))
        r.check(got == want, s"$prefix ${l.id}: pruned read $got != unpruned $want")
      case (s: Scan, _, Some(got)) =>
        val want = refs.getOrElseUpdate(s.id, Reads.agg(head.filter(s.ref), "event_type", Some("value")))
        r.check(got == want, s"$prefix ${s.id}: scan $got != unpruned $want")
      case _ => ()
    }
    head.unpersist()
    val all = samples.all
    // the mix is 13 operations of two latency bands (analytic queries
    // and log-backed reads), run in whole rounds, so a percentile over
    // all samples would jump with the round count; the latency metrics
    // are percentiles over each operation's median latency instead
    val med = byOp.groupBy(_._1.id).map { case (k, xs) => k -> Stats.median(xs.map(_._2).toSeq) }
    r.put("latency_p50_ms", Stats.median(med.values.toSeq), "ms")
    r.put("latency_p95_ms", Stats.quantile(med.values.toSeq, 0.95), "ms")
    r.put("throughput_ps", all.size / wall, "1/s")
    r.put("mean_ms", all.sum / all.size, "ms")
    r.note("latency_samples", s"${all.size} operations in ${all.size / runOps.size} rounds; " +
      "percentiles over the medians of each of the mix's operations")
    // growth over the run: each op's latency relative to its own
    // median, second half of the run against the first; means, as with
    // a few rounds a third or more of these ratios are exactly 1
    val rel = byOp.map { case (op, ms, _) => ms / med(op.id) }.toSeq
    val half = rel.size / 2
    r.put("age_slowdown", rel.drop(half).sum / (rel.size - half) / (rel.take(half).sum / half), "ratio")
    // per-layer: analytic queries and table reads
    val qMed = Analytics.map(q => q -> byOp.collect { case (Analytic(`q`), ms, _) => ms })
      .filter(_._2.nonEmpty).map { case (q, ms) => q -> Stats.median(ms.toSeq) }.toMap
    val passMs = qMed.values.sum
    Analytics.foreach(q => r.put(s"queries.${q}_share", qMed.getOrElse(q, Double.NaN) / passMs, "ratio"))
    Reads.putLookups(b, r, lookups.toSeq)
    r.put("commitlog.scan_ms_p50", Stats.median(samples.of("scan")), "ms")
    r.put("gate.admitted_share", 0.0, "ratio")
    r.put("gate.index_files_end", 0.0, "count")
    new Outcome(opIds.toSeq)
  }
}

object QueryMix {
  private[perfbench] sealed trait Op { def kind: String; def id: String }
  private[perfbench] final case class Analytic(name: String) extends Op {
    def kind = "analytic"; def id = s"q:$name"
  }
  private[perfbench] final case class Look(id: String, pred: Column, ref: Column) extends Op { def kind = "lookup" }
  private[perfbench] final case class Scan(id: String, read: (SparkSession, String) => DataFrame, ref: Column)
    extends Op { def kind = "scan" }

  /** The analytic list: cheap-to-moderate registered bench queries over
    * the relational, text/dedup and similarity families, each with a
    * DuckDB oracle. */
  val Analytics: Seq[String] = Seq(
    "q6_forecast_revenue", "q14_promo_revenue_share", "agg_distinct_users",
    "dedup_exact", "top_tokens", "sim_lsh_buckets", "sim_topk_bruteforce")
  val PointLookups = 2
  val RangeLookups = 2
  val RangeMicros: Long = 30L * 60 * 1000000
  val SetupReps = 3
}

/** Zero readings for the layers a workload does not run. */
object Idle {
  def queries(r: Report): Unit =
    QueryMix.Analytics.foreach(q => r.put(s"queries.${q}_share", 0.0, "ratio"))

  def stream(r: Report): Unit = {
    Seq("streaming.batches", "streaming.rows_per_batch_p50", "streaming.backlog_end_rows")
      .foreach(r.put(_, 0.0, "count"))
    Seq("streaming.generator_late_share_p99", "streaming.add_batch_share", "streaming.offsets_share")
      .foreach(r.put(_, 0.0, "ratio"))
  }
}

/** Prints the DuckDB oracle SQL of the analytic list as JSON, for
  * `make_golden.py`. */
object GoldenSql {
  def main(argv: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val missing = QueryMix.Analytics.filterNot(sql.contains)
    require(missing.isEmpty, s"no oracle for ${missing.mkString(", ")}")
    println(QueryMix.Analytics.map(q => s""""$q":"${Json.esc(sql(q))}"""").mkString("{", ",", "}"))
  }
}
