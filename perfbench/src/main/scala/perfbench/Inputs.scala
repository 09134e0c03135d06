package perfbench

import java.nio.file.{Files, Path => JPath, Paths}
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{BatchWriter, CommitLog, FileBloom, FileStats}
import graft.streaming.DedupIngest

/** An events-shaped stream record (the sf0.1 `events` columns plus the
  * stream envelope). `event_id` is the record's global sequence number. */
final case class EvRec(part: Long, off: Long, event_id: Long, ts: Timestamp,
                       user_id: Long, event_type: String, value: Double, props: String)

/** A document stream record; `tag` makes every novel payload unique. */
final case class DocRec(part: Long, off: Long, tag: String, text: String,
                        lang: String, source: String)

object Inputs {
  val Parts = 4

  /** A seeded stream of records; the same seed gives the same sequence. */
  trait Gen[R] {
    def next(): R
    def take(n: Int): Seq[R] = Seq.fill(n)(next())
  }

  final case class Ev(ts: Long, user: Long, typ: String, value: Double, props: String)

  def loadEvents(spark: SparkSession, data: String): IndexedSeq[Ev] =
    graft.tables.Tables.events(spark, data)
      .select(unix_micros(col("ts")), col("user_id"), col("event_type"), col("value"), col("props"))
      .collect().map(r => Ev(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getString(4)))
      .toIndexedSeq

  /** Events-shaped records: record `i` resamples a seeded source row,
    * lands in partition `i % 4` at offset `i / 4`, and its timestamp
    * keeps the source's time order so time-range reads stay narrow. */
  final class EventGen(src: IndexedSeq[Ev], seed: Long) extends Gen[EvRec] {
    private var i = 0L
    def next(): EvRec = {
      val h = mix(seed, i)
      val e = src(((h >>> 1) % src.size).toInt)
      val ts = src.head.ts + i * 20000000L + (h & 0xffff) // 20 s apart in event time
      val r = EvRec(i % Parts, i / Parts, i, new Timestamp(ts / 1000),
        e.user, e.typ, e.value, e.props)
      r.ts.setNanos(((ts % 1000000) * 1000).toInt)
      i += 1
      r
    }
  }

  final case class Doc(text: String, lang: String, source: String)

  def loadDocs(spark: SparkSession, data: String): IndexedSeq[Doc] =
    graft.tables.Tables.documents(spark, data).select("text", "lang", "source")
      .collect().map(r => Doc(r.getString(0), r.getString(1), r.getString(2))).toIndexedSeq

  def novelDoc(src: IndexedSeq[Doc], seed: Long, tag: String, i: Long,
               part: Long, off: Long): DocRec = {
    val h = mix(seed ^ 0x5bd1e995L, i)
    val d = src(((h >>> 1) % src.size).toInt)
    val words = d.text.split(' ')
    val k = ((h >>> 33) % math.max(1, words.length)).toInt
    DocRec(part, off, tag, (words.drop(k) ++ words.take(k)).mkString(" "), d.lang, d.source)
  }

  /** The gated workload's offered stream. Every record lands in
    * partition `i % 4`; a seeded share re-sends an earlier payload of
    * the SAME partition verbatim at a new offset — half from the last
    * few records (usually the same micro-batch), half from the aged
    * corpus. A re-send therefore always sits at a higher offset than
    * its original in one partition, so the gate's keep-lowest-(part,
    * off) rule admits exactly the novel records whatever the batch
    * boundaries are. */
  final class DocGen(src: IndexedSeq[Doc], seed: Long, corpus: IndexedSeq[DocRec],
                     nextOff: Array[Long], dupShare: Double) extends Gen[DocRec] {
    private val rng = new scala.util.Random(seed * 31 + 7)
    private val recent = Array.fill(Parts)(mutable.ArrayBuffer.empty[DocRec])
    private val corpusByPart = corpus.groupBy(_.part).map { case (p, rs) => p -> rs.toIndexedSeq }
    private var i = 0L
    /** The novel records offered so far as (sequence number, offset);
      * payloads are regenerated on demand, so the ledger adds nothing
      * that grows with the run to the heap the benchmark measures. */
    private val novelIds = mutable.ArrayBuffer.empty[(Long, Long)]
    var offered = 0L

    def novelCount: Int = novelIds.size
    def novel: Seq[DocRec] = novelIds.toSeq.map { case (j, off) =>
      novelDoc(src, seed, s"s$seed-r$j", j, j % Parts, off)
    }

    def next(): DocRec = {
      val p = i % Parts
      val off = nextOff(p.toInt)
      nextOff(p.toInt) += 1
      val u = rng.nextDouble()
      val rec =
        if (u < dupShare / 2 && recent(p.toInt).nonEmpty) {
          val r = recent(p.toInt)
          r(r.size - 1 - rng.nextInt(math.min(8, r.size))).copy(off = off)
        } else if (u < dupShare && corpusByPart.contains(p)) {
          val c = corpusByPart(p)
          c(rng.nextInt(c.size)).copy(off = off)
        } else {
          val n = novelDoc(src, seed, s"s$seed-r$i", i, p, off)
          recent(p.toInt) += n
          if (recent(p.toInt).size > 64) recent(p.toInt).remove(0)
          novelIds += i -> off
          n
        }
      i += 1
      offered += 1
      rec
    }
  }

  /** splitmix64 of (seed, i). */
  def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** Aged topics, built once through the public write API into a cache
  * directory and copied into place at set-up. Their content does not
  * depend on the run's seed (the offered stream does): publishing lists
  * the whole log, so a build is quadratic in versions and takes most of
  * a minute. `run.py` keys the cache directory on the digest of the
  * sources it builds the harness from, so every build of the code under
  * test writes its own fixtures. Each build is staged under a temporary
  * name and renamed when complete. */
object Fixtures {
  val Seed = 0L
  val GatedTopic = "docs"
  val EventsTopic = "events"
  /** Gated corpus: 3200 documents in 800 log versions of one file each,
    * one compacted `_fp` index file, no log checkpoint (the gated loop
    * writes none). */
  val GatedRecords = 3200
  val GatedFlush = 4
  val GatedVersions: Int = GatedRecords / GatedFlush
  /** Query topic: 40000 events in 200 log versions, a log checkpoint
    * every 64 versions (the plain loop's default cadence), and the
    * stats and Bloom planes installed. */
  val EventRecords = 40000
  val EventFlush = 200
  val EventCheckpointEvery = 64

  /** Rows of the events fixture visible at log version `v`: files are
    * published in (start offset, partition) order, one per version. */
  def asOf(v: Long): org.apache.spark.sql.Column = {
    val block = v / Inputs.Parts
    col("off") < lit(block * EventFlush) ||
      (col("off") < lit((block + 1) * EventFlush) && col("part") <= lit(v % Inputs.Parts))
  }

  /** Users whose event count in the query topic is within a tenth of
    * the median count, so a point lookup costs about the same whichever
    * of them the seed picks. */
  def typicalUsers(src: IndexedSeq[Inputs.Ev]): IndexedSeq[Long] = {
    val counts = new Inputs.EventGen(src, Seed).take(EventRecords)
      .groupBy(_.user_id).map { case (u, rs) => u -> rs.size }
    val median = counts.values.toSeq.sorted.apply(counts.size / 2)
    counts.collect { case (u, n) if math.abs(n - median) <= median / 10 => u }.toIndexedSeq.sorted
  }

  def gatedCorpus(src: IndexedSeq[Inputs.Doc]): IndexedSeq[DocRec] =
    (0 until GatedRecords).map { j =>
      Inputs.novelDoc(src, Seed + 1000003L, s"c$j", j, j % Inputs.Parts, j / Inputs.Parts)
    }

  private def cached(root: String, name: String)(build: String => Unit): JPath = {
    val dst = Paths.get(root, name)
    if (!Files.exists(dst)) {
      val tmp = Paths.get(root, s".tmp-$name-${ProcessHandle.current().pid()}")
      Bench.deleteTree(tmp)
      Files.createDirectories(tmp)
      Bench.log(s"building fixture $name")
      build("file://" + tmp.toAbsolutePath)
      Bench.log(s"built fixture $name")
      try Files.move(tmp, dst) catch {
        case _: java.nio.file.FileAlreadyExistsException => Bench.deleteTree(tmp)
      }
    }
    dst
  }

  /** Write `df` as one file per `flush` records and publish each file
    * as its own log version, in offset order. */
  private def publishOneByOne(spark: SparkSession, out: String, topic: String,
                              df: DataFrame, flush: Int,
                              afterEach: Long => Unit = _ => ()): Unit = {
    val files = BatchWriter.write(df, out, topic, flush)
      .sortBy(f => (f.startOffset, f.partition))
    files.foreach { f =>
      val v = CommitLog.publish(spark, out, topic,
        Seq(s"partition=${f.partition}/${new org.apache.hadoop.fs.Path(f.path).getName}"))
      afterEach(v)
    }
  }

  def gated(spark: SparkSession, root: String, src: IndexedSeq[Inputs.Doc]): JPath =
    cached(root, "gated") { out =>
      import spark.implicits._
      publishOneByOne(spark, out, GatedTopic, gatedCorpus(src).toDS().toDF(), GatedFlush)
      DedupIngest.reconcileFingerprints(spark, out, GatedTopic)
      DedupIngest.compactFingerprints(spark, out, GatedTopic)
      ()
    }

  def events(spark: SparkSession, root: String, src: IndexedSeq[Inputs.Ev]): JPath =
    cached(root, "events") { out =>
      import spark.implicits._
      val df = new Inputs.EventGen(src, Seed).take(EventRecords).toDS().toDF()
      publishOneByOne(spark, out, EventsTopic, df, EventFlush, v =>
        if (v > 0 && v % EventCheckpointEvery == 0) { CommitLog.checkpoint(spark, out, EventsTopic); () })
      FileStats.install(spark, out, EventsTopic, Seq("user_id", "ts", "event_id"))
      FileBloom.install(spark, out, EventsTopic, Seq("user_id"))
      ()
    }

  /** Build both fixtures: `Fixtures <data dir> <fixture dir>`. */
  def main(argv: Array[String]): Unit = {
    val Array(data, root) = argv
    val b = new Bench(Args("fixtures", Seed, 0, trace = false, data, s"$root/.work", root, ""))
    val spark = b.startSession()
    try {
      gated(spark, root, Inputs.loadDocs(spark, data))
      events(spark, root, Inputs.loadEvents(spark, data))
    } finally b.stopSession()
    Bench.deleteTree(Paths.get(root, ".work"))
  }
}
