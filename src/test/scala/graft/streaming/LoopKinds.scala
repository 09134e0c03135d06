package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ingest.{BatchWriter, CommitLog, GraftConfig, MaterializedAgg}
import graft.operators.{IvfIndex, KMeans, LinearClassifier}

/** Every logged streaming loop kind, started the same way for the
  * loop-invariant specs ([[LogCadenceSpec]], [[LoopJobCountSpec]]):
  * each consumes one `(part, off, text)` stream and maps it to its own
  * input shape. `written` maps `(part, off, text)` rows to the rows
  * the loop commits, so [[LoopKinds.ageTo]] can pre-age its log with
  * files the loop itself would have written; `logRoot` and `topic`
  * locate that log under the output dir, and `prepare` builds whatever
  * the loop needs before it can start (an index to grow). */
final class LoopKinds(spark: SparkSession) {
  import LoopKinds._
  import spark.implicits._

  private val cfg = GraftConfig(Map("flush.size" -> s"$Flush"))

  /** Embedding rows: one axis per offset band — aged, the first six
    * streamed, the rest — so every streamed batch of six is orthogonal
    * to all committed vectors and the gate admits it. */
  private def withVec(df: DataFrame) = df.withColumn("vec",
    when(col("off") < FirstStreamed, typedLit(Seq(1.0, 0.0, 0.0, 0.0)))
      .when(col("off") < FirstStreamed + 6, typedLit(Seq(0.0, 1.0, 0.0, 0.0)))
      .otherwise(typedLit(Seq(0.0, 0.0, 1.0, 0.0))))

  /** Index rows `(id, v)`: the offset is the vector id. */
  private def vecs(df: DataFrame) =
    df.select(col("off").as("id"), array(col("off"), col("off")).as("v"))

  private val indexBase = Seq(
    0L -> Seq(0L, 1L), 1L -> Seq(100L, 99L), 2L -> Seq(1L, 0L),
    3L -> Seq(99L, 100L), 4L -> Seq(2L, 2L), 5L -> Seq(101L, 101L))

  /** Quality weights: a +1 bias, and the token `spam` sinks a record. */
  private lazy val qualityWeights: Map[Long, Long] = {
    val spamBucket = spark.range(1).select(pmod(call_function("hash60_md5",
        concat(lit("qcf:"), lit("spam")).cast("binary")),
      lit(QualityBuckets.toLong))).as[Long].head()
    Map(LinearClassifier.BiasBucket -> 1L, spamBucket -> -5L)
  }

  private lazy val blocklist = {
    val bad = Seq(textOf(FirstStreamed + 1)).toDF("text")
    bad.select(DedupIngest.fingerprint(bad).as("fp"))
  }

  val plain = Kind("plain", (s, out, ck) =>
    StreamIngest.startLogged(s, out, "t", Flush, ck))

  val dedupGates = Seq(
    Kind("exact-dedup", (s, out, ck) =>
      DedupIngest.startLoggedDeduped(s, out, "t", Flush, ck)),
    Kind("minhash", (s, out, ck) =>
      DedupIngest.startLoggedMinhashDeduped(s, out, "t", Flush, ck,
        textCol = "text")),
    Kind("embedding", (s, out, ck) =>
      DedupIngest.startLoggedEmbDeduped(withVec(s), out, "t", Flush, ck,
        vecCol = "vec", dims = 4),
      written = (_, df) => withVec(df)),
    Kind("blocklist", (s, out, ck) =>
      DedupIngest.startLoggedBlocklisted(s, out, "t", blocklist, Flush, ck)))

  val otherGates = Seq(
    Kind("quality", (s, out, ck) =>
      QualityGate.startLoggedQualityFiltered(
        s.withColumn("text", when(col("off") % 3 === 0,
          concat(lit("spam "), col("text"))).otherwise(col("text"))),
        out, "t", qualityWeights, QualityBuckets, Flush, ck)),
    Kind("cardinality", (s, out, ck) =>
      CardinalityMonitor.startLoggedMonitored(s, out, "t", Flush, ck)))

  /** Plain `startLogged` and every admission gate. */
  val gated: Seq[Kind] = plain +: (dedupGates ++ otherGates)

  /** Every logged loop kind. */
  val all: Seq[Kind] = gated ++ Seq(
    Kind("cfg", (s, out, ck) => StreamIngest.startLogged(s, out, "t", cfg, ck),
      logRoot = cfg.topicsRoot),
    Kind("hive", (s, out, ck) =>
      StreamIngest.startLoggedHive(s, out, "t", Flush, ck,
        table = "loop_kinds_hive"),
      prepare = _ => { spark.sql("DROP TABLE IF EXISTS loop_kinds_hive"); () }),
    Kind("views", (s, out, ck) =>
      StreamIngest.startLoggedWithViews(s, out, "t", Flush, ck,
        views = Seq(MaterializedAgg.ViewDef("t_view", Seq("text"), Seq("off"))))),
    Kind("multi", (s, out, ck) =>
      StreamIngest.startLoggedMulti(s.withColumn("topic", lit("t")), out,
        Flush, ck)),
    Kind("ivf", (s, out, ck) =>
      IndexIngest.startIvfIngest(vecs(s), out, ck, flushSize = Flush),
      written = (out, df) =>
        KMeans.assign(vecs(df), IvfIndex.centroids(spark, out))
          .select(col("cell").as("part"), col("id").as("off"), col("v"),
            col("cell")),
      topic = IvfIndex.VectorsTopic,
      prepare = out => { IvfIndex.build(indexBase.toDF("id", "v"), out,
        k = 2, iters = 2); () }),
    Kind("ivfpq", (s, out, ck) =>
      IndexIngest.startIvfPqIngest(vecs(s), out, ck, flushSize = Flush),
      written = (out, df) => {
        val (books, subDims) = IvfIndex.pqBooks(spark, out,
          IvfIndex.IvfPqCodebooksTopic)
        IvfIndex.ivfPqEncodeFrame(vecs(df), IvfIndex.centroids(spark, out),
          books, subDims)
      },
      topic = IvfIndex.IvfPqCodesTopic,
      prepare = out => { IvfIndex.buildIvfPq(indexBase.toDF("id", "v"), out,
        k = 2, iters = 2, m = 1, subDims = 2, pqK = 2, pqIters = 2); () }),
    Kind("pq", (s, out, ck) =>
      IndexIngest.startPqIngest(vecs(s), out, ck, flushSize = Flush),
      written = (out, df) => {
        val (books, subDims) = IvfIndex.pqBooks(spark, out)
        IvfIndex.pqEncodeFrame(vecs(df), books, subDims, parts = 4)
      },
      topic = IvfIndex.PqCodesTopic,
      prepare = out => { IvfIndex.buildPq(indexBase.toDF("id", "v"), out,
        m = 2, subDims = 1, k = 2, iters = 1); () }))

  /** `(part, off, text)` rows for offsets `offs`. */
  def rows(offs: Seq[Long]): Seq[(Long, Long, String)] =
    offs.map(o => (o % 2, o, textOf(o)))

  /** Start `kind` on a fresh `(part, off, text)` memory stream. */
  def start(kind: Kind, out: String, ckpt: String)
      : (MemoryStream[(Long, Long, String)], StreamingQuery) = {
    implicit val sqlCtx = spark.sqlContext
    val s = MemoryStream[(Long, Long, String)]
    (s, kind.start(s.toDF().toDF("part", "off", "text"), out, ckpt))
  }

  /** Prepare `kind` under `out`, then publish one-record versions of
    * aged rows (offsets from 100, below [[FirstStreamed]]) until its
    * log's latest version is `version`. */
  def ageTo(kind: Kind, out: String, version: Long): Unit = {
    kind.prepare(out)
    val root = kind.logRoot(out)
    val missing = version - CommitLog.latestVersion(spark, root, kind.topic)
    val aged = rows((0L until missing).map(100L + _))
      .toDF("part", "off", "text")
    BatchWriter.write(kind.written(out, aged), root, kind.topic, flushSize = 1)
      .sortBy(_.startOffset).foreach { f =>
        CommitLog.publish(spark, root, kind.topic,
          Seq(StreamIngest.relPath(root, kind.topic, f.path)))
      }
    require(CommitLog.latestVersion(spark, root, kind.topic) == version)
  }
}

object LoopKinds {
  final case class Kind(
      name: String,
      start: (DataFrame, String, String) => StreamingQuery,
      written: (String, DataFrame) => DataFrame = (_, df) => df,
      logRoot: String => String = identity,
      topic: String = "t",
      prepare: String => Unit = _ => ())

  val Flush = 10
  /** Streamed offsets start here, above every aged one. */
  val FirstStreamed = 1000L
  private val QualityBuckets = 1 << 20

  /** Four tokens, all unique to the offset: no two records share a
    * shingle, so no near-dup gate ever matches them. */
  def textOf(off: Long): String = s"alpha$off beta$off gamma$off delta$off"
}
