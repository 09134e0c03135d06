package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{DedupFunctions => DF, NativeExpressions, SimilarityFunctions => SF, TextFunctions => TF}
import graft.ingest.CommitLog
import graft.operators.{IvfIndex, KMeans, LinearClassifier, NearestCentroid, Shuffle, Winnowing}
import graft.streaming.DedupIngest
import graft.tables.Tables

/** Large-scale training-data-pipeline operators over `documents` and
  * `embeddings`: exact + near dedup (MinHash-LSH, SimHash, n-gram
  * Jaccard), text analysis (lang-ID, quality, token stats), similarity
  * search (brute-force top-k baseline + hyperplane-LSH buckets), and
  * binary-column (multimodal) feature plumbing.
  *
  * Every oracle mirrors the portable `hash60` contract
  * (TextFunctions.scala): DuckDB `('0x' || substr(md5(x),1,15))::BIGINT`
  * == Spark `conv(substring(md5(x),1,15),16,10)`. All float outputs are
  * either exact IEEE single-op results (small-int divisions) or
  * identically-parenthesized expression trees, so hashes match bit-wise.
  */
object PipelineQueries {

  // ---- DuckDB SQL fragments generated from the same Scala constants
  //      (tokens/hash/shingles mirrors live in OracleSql, shared with
  //      CurationQueries) ----

  private def h60(x: String) = OracleSql.h60(x)
  private def toksSql(t: String) = OracleSql.toksSql(t)
  private def shinglesSql(n: Int): String = OracleSql.shinglesSql(n)

  /** Signed projection Σ ±v[i] of quantized vector `v` onto hyperplane
    * `j` — the ±1 components become literal +/− terms, the unrolled
    * form of what Spark's native `lsh_bucket_packed_q` and
    * `banded_lsh_keys_q` kernels compute (`SF.signBitsQ` is the same
    * unrolled form on the Spark side, kept as their test reference). */
  private def signSumSql(j: Int, dims: Int, v: String): String =
    SF.plane(j, dims).zipWithIndex.map { case (s, i) =>
      if (i == 0) { if (s > 0) s"$v[1]" else s"-$v[1]" }
      else { if (s > 0) s" + $v[${i + 1}]" else s" - $v[${i + 1}]" }
    }.mkString

  /** Packed `numPlanes`-bit LSH bucket (mirror of `SF.lshBucketQ`). */
  private def bucketSumSql(numPlanes: Int, dims: Int, v: String): String =
    (0 until numPlanes).map { j =>
      s"CASE WHEN (${signSumSql(j, dims, v)}) > 0 THEN ${1L << j} ELSE 0 END"
    }.mkString("\n  + ")


  /** One k-means assignment block (mirror of `KMeans.assign`): CTEs
    * `<out>_d`/`<out>_r`/`<out>`, every `src` vector to its nearest
    * `cents` centroid, distance ties to the lower centroid id. */
  private def kmAssignSql(src: String, cents: String, out: String): String =
    s"""${out}_d AS (SELECT id, v, c_id,
       |    CAST(list_sum(list_transform(list_zip(v, cv),
       |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d2
       |  FROM $src CROSS JOIN $cents),
       |${out}_r AS (SELECT *, row_number() OVER (PARTITION BY id
       |    ORDER BY d2 ASC, c_id ASC) AS rnk FROM ${out}_d),
       |$out AS (SELECT id, v, c_id AS cell, d2 FROM ${out}_r WHERE rnk = 1)"""
      .stripMargin

  /** One k-means floor-mean update block (mirror of the recompute step):
    * exact-multiple numerator, so `//` here equals Spark's `div`. */
  private def kmUpdateSql(asg: String, out: String, dims: Int): String =
    s"""${out}_s AS (SELECT cell, j, CAST(sum(v[j]) AS BIGINT) AS s,
       |    count(*) AS n
       |  FROM $asg CROSS JOIN range(1, ${dims + 1}) t(j) GROUP BY cell, j),
       |$out AS (SELECT cell AS c_id,
       |    list(((s - ((s % n) + n) % n) // n) ORDER BY j) AS cv
       |  FROM ${out}_s GROUP BY cell)""".stripMargin

  /** Banded-LSH shape shared by the embedding blocking/search queries:
    * 4 bands, rows-per-band DERIVED from the corpus size by the module's
    * own sizing rule (rowsPerBand ≈ log2(n / targetBucketSize), see
    * SimilarityFunctions header) so the candidate self-join stays
    * ~linear as n grows — doubling the corpus adds one plane per band
    * instead of quadrupling every bucket's pair count. Plane indexing is
    * strided at the cap (`EmbMaxRows`) so the width can vary with data
    * while the static DuckDB mirror computes the full-width signature
    * once and masks it to `2^rows`. */
  private val EmbBands = 4
  private val EmbMaxRows = 16
  private val EmbTargetBucket = 16L
  private val EmbDims = 64

  /** Data-derived rows-per-band (one cheap count against the corpus).
    * An empty corpus gets width 1 — matching the SQL mirror's CASE
    * chain (q=0 ≤ 2 → 1), which must agree so both engines emit the
    * same (empty) result instead of the Spark side throwing. */
  private def embRows(n: Long): Int =
    if (n == 0) 1
    else math.min(EmbMaxRows, SF.recommendedRowsPerBand(n, EmbTargetBucket))

  /** SQL mirror of [[embRows]]: ceil(log2(ceil(n/target))) capped at
    * `EmbMaxRows`, as an exact integer CASE chain (no floating log —
    * same rationale as `recommendedRowsPerBand`). Expects column `n`. */
  private def embRowsCaseSql: String = {
    val branches = (1 until EmbMaxRows)
      .map(k => s"WHEN q <= ${1L << k} THEN $k").mkString(" ")
    s"(SELECT CASE $branches ELSE $EmbMaxRows END FROM (SELECT" +
      s" (n + ${EmbTargetBucket - 1}) // $EmbTargetBucket AS q))"
  }

  /** DuckDB CTE `prm(rows)` deriving the band width from the corpus
    * count — prepend to any query using [[bandedKeysMaskedSql]]. */
  private def embPrmSql: String =
    s"prm AS (SELECT $embRowsCaseSql AS rows FROM" +
      " (SELECT count(*) AS n FROM embeddings))"

  /** Banded LSH key list with data-dependent width (mirror of
    * `SF.bandedLshKeysQ` at stride [[EmbMaxRows]]): the full
    * stride-width signature is computed from fixed planes and masked to
    * `2^rows` — bit r of band b is plane `b*EmbMaxRows + r`, so masking
    * the packed value keeps exactly the planes Spark's derived-width
    * key uses. Expects `prm` (see [[embPrmSql]]) to be cross-joined in
    * scope. */
  private def bandedKeysMaskedSql(bands: Int, dims: Int, v: String): String = {
    val keys = (0 until bands).map { b =>
      val sig = (0 until EmbMaxRows).map { rr =>
        s"(CASE WHEN (${signSumSql(b * EmbMaxRows + rr, dims, v)}) > 0 THEN ${1L << rr} ELSE 0 END)"
      }.mkString(" + ")
      s"concat_ws(':', '$b', (($sig) % (1::BIGINT << prm.rows))::VARCHAR)"
    }
    keys.mkString("[", ",\n    ", "]")
  }

  /** Banded-LSH blocked, exact-cosine-verified near-dup pairs over the
    * embedding corpus (vec_a, vec_b, cosine ≥ 0.35), unordered —
    * shared by `dedup_embedding_cosine` (reports the pairs) and
    * `dedup_embedding_clusters` (connected components over them). The
    * signature frame is persisted (referenced by both self-join sides
    * and the verify join-back); the returned thunk releases it once
    * the pairs have been materialized. */
  private def embNearDupPairs(s: org.apache.spark.sql.SparkSession,
                              d: String)
      : (org.apache.spark.sql.DataFrame, () => Unit) = {
    val (withB, release) = embSignatureFrame(s, d)
    // same hot-key cap as [[candidatePairs]]: a degenerate LSH cell
    // (e.g. a mass of near-identical embeddings) must not go quadratic
    val bk = dropHotBandsPinned(
      withB.select(col("vec_id"), explode(col("keys")).as("k")), "k")
    val cand = bk.as("a").join(bk.as("b"),
        col("a.k") === col("b.k") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val joined = cand
      .join(withB.as("x"), col("vec_a") === col("x.vec_id"))
      .join(withB.as("y"), col("vec_b") === col("y.vec_id"))
    // per-pair dot is the native codegen'd DotI64 expression — a
    // tight getLong loop per candidate pair (the HOF intDot stays
    // the portable fallback; a per-dimension element_at expansion
    // measured 3× slower than even the HOF in join context)
    val dt = call_function("dot_i64", col("x.v"), col("y.v"))
    val cos = dt.cast("double") /
      (sqrt(col("x.n2").cast("double")) * sqrt(col("y.n2").cast("double")))
    // dt > 0 excludes the zero-quantized degenerate, where cosine is
    // 0/0 and the ENGINES DISAGREE: Spark under its default ANSI mode
    // throws DIVIDE_BY_ZERO (NULL with ANSI off — pair dropped), while
    // DuckDB yields NaN, which compares greater-than-threshold and
    // reports the pair. The guard makes both sides agree that an
    // undefined similarity is no pair (mirrored in the oracle and in
    // the streaming gate's multiplicative form).
    val pairs = joined.filter(dt > 0)
      .select(col("vec_a"), col("vec_b"), cos.as("cosine"))
      .filter(col("cosine") >= 0.35)
    (pairs, release)
  }

  /** The PERSISTED banded-signature frame (vec_id, v, keys, n2) every
    * embedding blocking consumer shares — quantized vector, derived-
    * width band keys, squared norm. Eagerly-materializing callers
    * release via the thunk; lazy callers leave it to the harness's
    * [[TrackedCache.releaseAll]] after the query materializes. */
  /** Corpus-count cache keyed by (session, sf dir): the width-sizing
    * count is a pure property of the input table, but every banded
    * consumer used to re-run it — one extra scan per query on the
    * bench path (the r7 `sim_lsh_buckets` regression). One count per
    * (session, dir) amortizes it across the whole run. */
  private val embCountCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String), Long]

  private def embSignatureFrame(s: org.apache.spark.sql.SparkSession,
                                d: String)
      : (org.apache.spark.sql.DataFrame, () => Unit) = {
    NativeExpressions.register(s)
    val rows = embRows(embCountCache.getOrElseUpdate((s, d),
      Tables.embeddings(s, d).count()))
    val qv = Tables.embeddings(s, d).select(col("vec_id"),
      SF.quantize(col("embedding")).as("v"))
    val withB = TrackedCache.persist(qv.select(col("vec_id"), col("v"),
      SF.bandedLshKeysQ(col("v"), EmbBands, rows, EmbDims,
        EmbMaxRows).as("keys"),
      SF.intDot(col("v"), col("v")).as("n2")))
    (withB, () => TrackedCache.release(withB))
  }

  /** DuckDB CTE prefix shared by every banded-blocking consumer:
    * `prm` (derived width), `qv` (quantized vectors) and `wb`
    * (vec_id, v, n2, keys). Prepend `WITH`/`WITH RECURSIVE`. */
  private def embWbSql: String =
    s"""$embPrmSql,
       |qv AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
       |  FROM embeddings),
       |wb AS (SELECT vec_id, v,
       |    CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2,
       |    ${bandedKeysMaskedSql(EmbBands, EmbDims, "v")} AS keys
       |  FROM qv CROSS JOIN prm)""".stripMargin

  /** DuckDB mirror of [[embNearDupPairs]]: the CTE chain (prepend
    * `WITH`, or `WITH RECURSIVE` when chaining a recursive consumer),
    * ending in CTE `vp` = (vec_a, vec_b, cosine). */
  private def embPairsSql: String =
    s"""$embWbSql,
       |bk AS ${dropHotBandsSql("(SELECT vec_id, unnest(keys) AS k FROM wb)", "k")},
       |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bk a JOIN bk b ON a.k = b.k AND a.vec_id < b.vec_id),
       |pd AS (SELECT vec_a, vec_b,
       |    CAST(list_sum(list_transform(list_zip(x.v, y.v), p -> p[1] * p[2])) AS BIGINT) AS dot,
       |    x.n2 AS na2, y.n2 AS nb2
       |  FROM cand JOIN wb x ON x.vec_id = vec_a JOIN wb y ON y.vec_id = vec_b),
       |vp AS (SELECT vec_a, vec_b,
       |    CAST(dot AS DOUBLE) / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))) AS cosine
       |  FROM pd
       |  WHERE dot > 0
       |    AND CAST(dot AS DOUBLE) / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))) >= 0.35)"""
      .stripMargin

  /** Banded-multiprobe ANN search (q_id, neighbor_id, dot, rnk ≤ 5),
    * unordered — each band key is a coarse cell and a query probes all
    * `EmbBands` of its cells; candidates dedup BEFORE scoring, top-k
    * through the bounded-heap aggregate (candidates reduce map-side to
    * ≤k rows per partition before the exchange). Shared by
    * `sim_ivf_topk` and the `sim_lsh_recall` evaluation. */
  private def bandedTopk(s: org.apache.spark.sql.SparkSession,
                         d: String): org.apache.spark.sql.DataFrame = {
    val (withK, _) = embSignatureFrame(s, d)
    val bk = withK.select(col("vec_id"), explode(col("keys")).as("k"))
    val qk = bk.filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("q_id"), col("k"))
    val cand = bk.join(broadcast(qk), Seq("k"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"))
      .distinct()
    val q = withK.filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    NativeExpressions.register(s)
    cand.join(withK, col("neighbor_id") === col("vec_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("neighbor_id"),
        call_function("dot_i64", col("qv"), col("v")).as("dot"))
      .groupBy(col("q_id"))
      .agg(call_function("topk_pairs", col("dot"), col("neighbor_id"),
        lit(5)).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("q_id"), col("p.id").as("neighbor_id"),
        col("p.ord").as("dot"), (col("pos") + 1).cast("int").as("rnk"))
  }

  /** DuckDB mirror of [[bandedTopk]]: CTE chain (prepend `WITH`),
    * ending in CTE `lsh` = (q_id, neighbor_id, dot, rnk ≤ 5); `qv`
    * stays in scope for consumers needing the quantized corpus. */
  private def bandedTopkSql: String =
    s"""$embPrmSql,
       |qv AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
       |  FROM embeddings),
       |wk AS (SELECT vec_id, v,
       |    ${bandedKeysMaskedSql(EmbBands, EmbDims, "v")} AS keys
       |  FROM qv CROSS JOIN prm),
       |bk AS (SELECT vec_id, unnest(keys) AS k FROM wk),
       |lcand AS (SELECT DISTINCT q.vec_id AS q_id, a.vec_id AS neighbor_id
       |  FROM bk a JOIN bk q ON a.k = q.k
       |  WHERE q.vec_id IN (0, 1, 2) AND a.vec_id <> q.vec_id),
       |ldots AS (SELECT q_id, neighbor_id,
       |    CAST(list_sum(list_transform(list_zip(qq.v, a.v), p -> p[1] * p[2])) AS BIGINT) AS dot
       |  FROM lcand JOIN qv a ON a.vec_id = neighbor_id JOIN qv qq ON qq.vec_id = q_id),
       |lr AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY dot DESC, neighbor_id ASC) AS rnk FROM ldots),
       |lsh AS (SELECT q_id, neighbor_id, dot, rnk FROM lr WHERE rnk <= 5)"""
      .stripMargin

  /** Full-corpus kNN edges (q_id, neighbor_id, dot, rnk ≤ 3),
    * unordered: every vector's top-3 among its banded-LSH candidates —
    * band equi-join candidates (~linear in n by the derived width),
    * bounded-heap top-k (exchange O(n·k), never the candidate set).
    * Shared by `knn_graph` and the kNN label vote. */
  private def knnGraphEdges(s: org.apache.spark.sql.SparkSession,
                            d: String): org.apache.spark.sql.DataFrame = {
    val (cand, withB) = knnCandidates(s, d)
    knnScoreTopk(cand, withB, k = 3)
  }

  /** The all-vectors banded candidate pairs (q_id, neighbor_id),
    * deduped, plus the signature frame — shared by the kNN graph and
    * hard-negative mining. */
  private def knnCandidates(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val (withB, _) = embSignatureFrame(s, d)
    // hot-key cap mirrors [[candidatePairs]] — see MaxBandMembers
    val bk = dropHotBandsPinned(
      withB.select(col("vec_id"), explode(col("keys")).as("k")), "k")
    val cand = bk.as("a").join(bk.as("b"),
        col("a.k") === col("b.k") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("q_id"), col("b.vec_id").as("neighbor_id"))
      .distinct()
    (cand, withB)
  }

  /** Score candidate pairs with the codegen'd integer dot and keep
    * each q_id's top-k through the bounded heap: (q_id, neighbor_id,
    * dot, rnk ≤ k), unordered. */
  private def knnScoreTopk(cand: org.apache.spark.sql.DataFrame,
                           withB: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame =
    cand
      .join(withB.as("x"), col("q_id") === col("x.vec_id"))
      .join(withB.as("y"), col("neighbor_id") === col("y.vec_id"))
      .select(col("q_id"), col("neighbor_id"),
        call_function("dot_i64", col("x.v"), col("y.v")).as("dot"))
      .groupBy(col("q_id"))
      .agg(call_function("topk_pairs", col("dot"), col("neighbor_id"),
        lit(k)).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("q_id"), col("p.id").as("neighbor_id"),
        col("p.ord").as("dot"), (col("pos") + 1).cast("int").as("rnk"))

  /** DuckDB mirror of [[knnGraphEdges]]: CTE chain appended after
    * [[embWbSql]] (prepend `WITH`), ending in `gr` — filter
    * `rnk <= 3` for the edge set. */
  private def knnGraphSql: String =
    s"""bk AS ${dropHotBandsSql("(SELECT vec_id, unnest(keys) AS k FROM wb)", "k")},
       |gc AS (SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS neighbor_id
       |  FROM bk a JOIN bk b ON a.k = b.k AND a.vec_id <> b.vec_id),
       |gd AS (SELECT q_id, neighbor_id,
       |    CAST(list_sum(list_transform(list_zip(x.v, y.v),
       |      p -> p[1] * p[2])) AS BIGINT) AS dot
       |  FROM gc JOIN wb x ON x.vec_id = q_id
       |          JOIN wb y ON y.vec_id = neighbor_id),
       |gr AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY dot DESC, neighbor_id ASC) AS rnk FROM gd)"""
      .stripMargin

  /** Connected components over the verified embedding near-dup pairs
    * (vec_id, cluster_id = min reachable id), unordered — shared by
    * `dedup_embedding_clusters` and the canonical-representative
    * selection. */
  private def embClustersFrame(s: org.apache.spark.sql.SparkSession,
                               d: String): org.apache.spark.sql.DataFrame = {
    val (pairs, release) = embNearDupPairs(s, d)
    // star contraction, not min-propagation: at a 0.35 cosine
    // threshold the near-dup graph carries CHAINS whose diameter
    // grows with corpus size (observed > 25 hops at a 20k-vector
    // corpus — min-propagation's round budget, which pays one shuffle
    // PER HOP, stopped short there and mislabeled the chain tails);
    // star contraction converges in O(log n) rounds at any scale.
    // Measured r14 at sf0.1: runAdaptive is ~1.7× SLOWER here — the
    // chains blow through its propagation budget, so the prop rounds
    // are pure overhead. Chain-shaped graph → star directly; the
    // near-clique minhash graph takes the adaptive loop instead.
    val (comp, _) = graft.operators.ConnectedComponents.runStarContraction(
      Tables.embeddings(s, d).select(col("vec_id").as("id")),
      pairs.select(col("vec_a").as("src"), col("vec_b").as("dst")))
    // run() materialized every round (localCheckpoint) — the cached
    // signature frame is no longer reachable from the result
    release()
    comp.select(col("id").as("vec_id"), col("comp").as("cluster_id"))
  }

  /** DuckDB mirror of [[embClustersFrame]]: CTE chain (prepend
    * `WITH RECURSIVE`), ending in `eclusters` = (vec_id, cluster_id);
    * `qv` (quantized vectors) stays in scope for consumers. */
  private def embClustersSql: String =
    s"""$embPairsSql,
       |ed AS (SELECT vec_a AS src, vec_b AS dst FROM vp
       |  UNION SELECT vec_b, vec_a FROM vp),
       |reach(id, comp) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT e.dst, r.comp FROM reach r JOIN ed e ON e.src = r.id),
       |eclusters AS (SELECT id AS vec_id, min(comp) AS cluster_id
       |  FROM reach GROUP BY id)""".stripMargin

  private val mmP = DF.MinhashPrime

  /** Native hash60 (same md5 value as `TF.hash60`, no hex-string
    * round-trip) — for the per-shingle/per-token hot paths. Callers
    * must have run `NativeExpressions.register(spark)`. */
  private def h60n(c: org.apache.spark.sql.Column) =
    call_function("hash60_md5", c.cast("binary"))

  /** 64-bit simhash as 4 × 16-bit band values (doc_id, band0..band3),
    * unordered — shared by `dedup_simhash_pairs` (blocking + verify)
    * and `simhash_band_stats` (the candidate-bound monitor). Banded
    * representation: a 64-bit signature never exists as one
    * (sign-problematic) long on either engine; hamming distance is the
    * sum of per-band `bit_count(xor)`. Callers need
    * `NativeExpressions.register`. */
  private def simhash64Bands(s: org.apache.spark.sql.SparkSession,
                             d: String): org.apache.spark.sql.DataFrame = {
    val bits = 64
    val bandBits = 16
    val ex = Tables.documents(s, d)
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("t"))
      .select(col("doc_id"),
        call_function("hash64_md5", col("t").cast("binary")).as("h"))
    val agg = ex.groupBy(col("doc_id")).agg(
      DF.bitSums(col("h"), bits).head,
      DF.bitSums(col("h"), bits).tail :+ count(lit(1)).as("total"): _*)
    val bandCols = DF.simhashBandsFromBitSums(
      (0 until bits).map(i => col(s"bit$i")), col("total"), bandBits)
    agg.select(col("doc_id") +: bandCols.zipWithIndex.map { case (c, b) =>
      c.as(s"band$b") }: _*)
  }

  /** DuckDB mirror of one [[simhash64Bands]] band value: band b covers
    * global bits [16b, 16b+16) of the md5-prefix hash64, i.e. hex
    * chars 1+4*(3-b)..4+4*(3-b) of md5(t). Expects a `toks` column. */
  private def simhashBandSql(b: Int): String = (0 until 16).map { j =>
    s"""CASE WHEN 2 * coalesce(list_sum(list_transform(toks,
       |    t -> ((('0x' || substr(md5(t), ${1 + 4 * (3 - b)}, 4))::BIGINT >> $j) & 1))), 0) > len(toks)
       |  THEN ${1L << j} ELSE 0 END""".stripMargin
  }.mkString("\n  + ")

  /** DuckDB CTE producing the banded signatures (doc_id, band0..3). */
  private def simhashSigSql: String =
    s"""WITH tok AS (SELECT doc_id, ${OracleSql.toksSql("text")} AS toks FROM documents),
       |sig AS (SELECT doc_id,
       |  ${(0 until 4).map(b => s"(${simhashBandSql(b)}) AS band$b").mkString(",\n  ")}
       |FROM tok WHERE len(toks) > 0)""".stripMargin

  /** Tokenize-once text stats (doc_id, n_tokens, n_bpeish, n_punct,
    * lang, stop_ratio, quality), unordered — shared by `text_stats`
    * and the quality filter. */
  private def textStatsFrame(s: org.apache.spark.sql.SparkSession,
                             d: String,
                             withSource: Boolean = false): org.apache.spark.sql.DataFrame = {
    val idCols = if (withSource) Seq(col("doc_id"), col("source"))
      else Seq(col("doc_id"))
    val base = Tables.documents(s, d).select(idCols ++ Seq(
      TF.tokenCount(col("text")).cast("long").as("n_tokens"),
      TF.bpeishCount(col("text")).cast("long").as("n_bpeish"),
      TF.punctCount(col("text")).cast("long").as("n_punct"),
      array(TF.langMarkers.map { case (_, ms) =>
        TF.langScore(col("text"), ms) }: _*).as("scores"),
      TF.stopwordCount(col("text")).as("n_stops"),
      length(col("text")).as("len")): _*)
    val stopRatio = TF.stopwordRatioFrom(col("n_stops"), col("n_tokens"))
    base.select(idCols ++ Seq(col("n_tokens"), col("n_bpeish"),
      col("n_punct"),
      TF.langFromScores(col("scores")).as("lang"),
      stopRatio.as("stop_ratio"),
      TF.qualityScoreFrom(stopRatio, col("n_tokens"), col("n_punct"),
        col("len")).as("quality")): _*)
  }

  /** DuckDB mirror of [[textStatsFrame]] (no ORDER BY); `extraCols`
    * threads passthrough document columns (e.g. ", source"). */
  private def textStatsSql(extraCols: String): String = {
    val scoreList = TF.langMarkers.map { case (_, ms) =>
      s"len(regexp_extract_all(lower(text), '\\b(${ms.mkString("|")})\\b'))"
    }.mkString("[", ",\n      ", "]")
    val langList = TF.langMarkers.map(m => s"'${m._1}'").mkString("[", ", ", "]")
    val stops = s"len(regexp_extract_all(lower(text), '\\b(${TF.stopwords.mkString("|")})\\b'))"
    s"""WITH base AS (SELECT doc_id$extraCols, text,
       |    len(${toksSql("text")})::BIGINT AS n_tokens,
       |    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_bpeish,
       |    len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::BIGINT AS n_punct,
       |    $scoreList AS scores,
       |    ($stops) AS n_stops
       |  FROM documents),
       |scored AS (SELECT *, list_max(scores) AS best,
       |    CAST(n_stops AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE) AS stop_ratio,
       |    least(CAST(n_tokens AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) AS len_score,
       |    CAST(1.0 AS DOUBLE) - least(CAST(n_punct AS DOUBLE) / CAST(greatest(len(text), 1) AS DOUBLE) * CAST(5.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) AS punct_score
       |  FROM base)
       |SELECT doc_id$extraCols, n_tokens, n_bpeish, n_punct,
       |  CASE WHEN best > 0 THEN ($langList)[list_position(scores, best)]
       |    ELSE 'und' END AS lang,
       |  stop_ratio,
       |  CAST(0.4 AS DOUBLE) * stop_ratio + CAST(0.3 AS DOUBLE) * len_score
       |    + CAST(0.3 AS DOUBLE) * punct_score AS quality
       |FROM scored""".stripMargin
  }

  private val textStatsCoreSql: String = textStatsSql("")

  // ---- DSIR-style importance resampling (hashed n-gram importance
  //      weights, after Xie et al.'s Data Selection via Importance
  //      Resampling): bag-of-hashed-bigram models of a TARGET
  //      distribution (the heuristic-quality top slice — the usual
  //      "looks like wiki/books" stand-in) and the RAW corpus; a doc's
  //      weight is Σ n_b · log(p_target(b)/p_raw(b)) over its feature
  //      buckets. Log-ratios are quantized to WHOLE BITS computed from
  //      binary-string lengths (floor-log2 sums), so the whole
  //      pipeline — histograms, weights, scores, the keep decision —
  //      is integer-exact in both engines with no float log anywhere;
  //      finer fixed-point is a real deployment's tuning knob. ----

  private val DsirBuckets = 1024L
  private val DsirTargetQuality = 0.6

  /** floor(log2 x) + 1 for x ≥ 1 — the binary-string length. The +1s
    * cancel in any num-vs-den difference of equal term count. */
  private def bitsOf(c: org.apache.spark.sql.Column) =
    length(bin(c)).cast("long")

  /** (doc_id, bucket) per bigram occurrence — the hashed feature
    * stream both the weight histograms and the per-doc scorer
    * consume. Callers persist (two consumers). */
  private def dsirGrams(s: org.apache.spark.sql.SparkSession,
                        d: String): org.apache.spark.sql.DataFrame = {
    NativeExpressions.register(s)
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(TF.shingles(TF.tokens(col("text")), 2)).as("big"))
      .select(col("doc_id"),
        (h60n(concat(lit("dsir:"), col("big"))) % DsirBuckets).as("bucket"))
  }

  /** Per-bucket weight table (bucket, target_cnt, raw_cnt, llr_bits) —
    * B rows, the broadcast side of every scoring join. Smoothing is
    * +1 per bucket (so the sum-of-floor-log2 form never sees zero);
    * totals enter as (tot + B), the add-one-normalized denominator. */
  private def dsirWeightsFrame(s: org.apache.spark.sql.SparkSession,
                               d: String,
                               grams: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val target = textStatsFrame(s, d)
      .filter(col("quality") >= DsirTargetQuality).select(col("doc_id"))
    val raw = grams.groupBy(col("bucket")).agg(count(lit(1)).as("raw_cnt"))
    val tgt = grams.join(target, Seq("doc_id"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("target_cnt"))
    // jw pinned (r17): the totals aggregate and the final weight
    // projection both consume it, and without the pin the two gram
    // histograms + their join (and the target-quality text-stats scan
    // feeding tgt) executed twice. B rows — a metadata-scale pin.
    val jw = TrackedCache.persist(raw.join(tgt, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("target_cnt"), lit(0L)).as("target_cnt"),
        col("raw_cnt")))
    val tot = broadcast(jw.agg(sum(col("target_cnt")).as("t_tot"),
      sum(col("raw_cnt")).as("r_tot")))
    jw.crossJoin(tot).select(col("bucket"), col("target_cnt"),
      col("raw_cnt"),
      (bitsOf(col("target_cnt") + 1) + bitsOf(col("r_tot") + DsirBuckets)
        - bitsOf(col("raw_cnt") + 1) - bitsOf(col("t_tot") + DsirBuckets))
        .as("llr_bits"))
  }

  /** DuckDB mirror of [[dsirGrams]] + [[dsirWeightsFrame]]: CTE chain
    * ending in `w(bucket, target_cnt, raw_cnt, llr_bits)` (plus `gb`,
    * the gram stream, for scoring consumers). */
  private def dsirWeightsSql: String =
    s"""tok AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
       |bg AS (SELECT doc_id, unnest(${shinglesSql(2)}) AS big FROM tok),
       |gb AS (SELECT doc_id, ${h60("'dsir:' || big")} % $DsirBuckets AS bucket FROM bg),
       |tdoc AS (SELECT doc_id FROM ($textStatsCoreSql)
       |  WHERE quality >= $DsirTargetQuality),
       |draw AS (SELECT bucket, count(*)::BIGINT AS raw_cnt FROM gb GROUP BY 1),
       |dtgt AS (SELECT bucket, count(*)::BIGINT AS target_cnt
       |  FROM gb JOIN tdoc USING (doc_id) GROUP BY 1),
       |jw AS (SELECT bucket, coalesce(target_cnt, 0)::BIGINT AS target_cnt,
       |    raw_cnt FROM draw LEFT JOIN dtgt USING (bucket)),
       |wtot AS (SELECT sum(target_cnt)::BIGINT AS t_tot,
       |    sum(raw_cnt)::BIGINT AS r_tot FROM jw),
       |w AS (SELECT bucket, target_cnt, raw_cnt,
       |    (length(bin(target_cnt + 1)) + length(bin(r_tot + $DsirBuckets))
       |     - length(bin(raw_cnt + 1)) - length(bin(t_tot + $DsirBuckets)))::BIGINT
       |      AS llr_bits
       |  FROM jw CROSS JOIN wtot)""".stripMargin

  // ---- Linear quality classifier (train_quality_classifier /
  //      quality_classifier_score): hashed bag-of-words features,
  //      heuristic-quality teacher labels, batch-perceptron sweeps ----

  // 256 buckets and 2 sweeps, picked by measurement: sweep 2 with the
  // bias feature is the agreement peak (353/500 vs the 264/500
  // majority floor); later sweeps cycle — the classic perceptron
  // oscillation on non-separable data — so more iterations only
  // deepen the lineage for worse weights
  private val QcBuckets = 256
  private val QcIters = 2

  /** The classifier's (features, labels) pair, both persisted: every
    * sweep consumes each of them twice. Teacher labels are the
    * heuristic quality score's keep decision (±1). */
  private def qcFeatLabels(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val feat = TrackedCache.persist(
      LinearClassifier.hashedFeatures(Tables.documents(s, d), QcBuckets))
    val labels = TrackedCache.persist(
      textStatsFrame(s, d).select(col("doc_id").as("id"),
        when(col("quality") >= 0.5, 1L).otherwise(-1L).as("y")))
    (feat, labels)
  }

  /** CTE chain `lbl`, `feat`, `w1`..`w[[QcIters]]` replaying
    * `LinearClassifier.fit` exactly: sweep 1 closes to Σ y·x (zero
    * initial weights), each later sweep recomputes margins, selects
    * y·margin ≤ 0, and adds Σ y·x over the misclassified. */
  private def qcTrainSql: String = {
    val steps = (2 to QcIters).map { i =>
      s"""m$i AS (SELECT f.id, CAST(sum(f.cnt * coalesce(w.w, 0))
         |    AS BIGINT) AS margin
         |  FROM feat f LEFT JOIN w${i - 1} w USING (bucket)
         |  GROUP BY f.id),
         |mis$i AS (SELECT id, y FROM m$i JOIN lbl USING (id)
         |  WHERE y * margin <= 0),
         |dw$i AS (SELECT bucket, CAST(sum(y * cnt) AS BIGINT) AS dw
         |  FROM feat JOIN mis$i USING (id) GROUP BY bucket),
         |w$i AS (SELECT coalesce(a.bucket, b.bucket) AS bucket,
         |    coalesce(a.w, 0) + coalesce(b.dw, 0) AS w
         |  FROM w${i - 1} a FULL JOIN dw$i b ON a.bucket = b.bucket)"""
        .stripMargin
    }.mkString(",\n")
    s"""lbl AS (SELECT doc_id AS id,
       |    CAST(CASE WHEN quality >= 0.5 THEN 1 ELSE -1 END AS BIGINT) AS y
       |  FROM ($textStatsCoreSql)),
       |feat AS (SELECT doc_id AS id,
       |    ${h60("'qcf:' || t")} % $QcBuckets AS bucket,
       |    count(*)::BIGINT AS cnt
       |  FROM (SELECT doc_id, unnest(${toksSql("text")}) AS t FROM documents)
       |  GROUP BY 1, 2
       |  UNION ALL
       |  SELECT doc_id AS id, -1 AS bucket, 1::BIGINT AS cnt FROM documents),
       |w1 AS (SELECT bucket, CAST(sum(y * cnt) AS BIGINT) AS w
       |  FROM feat JOIN lbl USING (id) GROUP BY bucket)${
        if (QcIters > 1) ",\n" + steps else ""}""".stripMargin
  }

  /** CTE suffix `h` for the evaluation queries: the (margin → pos/neg
    * count) histogram of the trained classifier's scores against the
    * teacher. Appended after [[qcTrainSql]]. */
  private def qcHistSql: String =
    s"""sc AS (SELECT f.id, CAST(sum(f.cnt * coalesce(w.w, 0))
       |    AS BIGINT) AS margin
       |  FROM feat f LEFT JOIN w$QcIters w USING (bucket)
       |  GROUP BY f.id),
       |h AS (SELECT margin,
       |    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS np,
       |    CAST(sum(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS nn
       |  FROM lbl JOIN sc USING (id) GROUP BY margin)""".stripMargin

  /** Quality-classifier weights fitted ONCE per (JVM, corpus) and
    * re-entering every SCORING plan as a (buckets+1)-row local
    * relation — the served-model twin of [[servedCentroids]]
    * (`train_quality_classifier` remains the training query and keeps
    * its inline fit; the fit is integer-deterministic, so the cached
    * weights are bit-identical to what any consumer would train and
    * every oracle still replays the sweeps). */
  private val qcWeightsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Long, Long]]()
  private def qcFittedWeights(s: org.apache.spark.sql.SparkSession,
                              d: String,
                              feat: org.apache.spark.sql.DataFrame,
                              labels: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = qcWeightsCache.computeIfAbsent(d, _ =>
      LinearClassifier.collectWeights(
        LinearClassifier.fit(feat, labels, iters = QcIters)))
    import s.implicits._
    w.toSeq.toDF("bucket", "w")
  }

  /** The Spark side of [[qcHistSql]]: one map-side-combined aggregate
    * whose cardinality is the number of DISTINCT integer margins —
    * value-domain-scale, never corpus-scale. Scores under the served
    * weights ([[qcFittedWeights]]). */
  private def qcMarginHist(s: org.apache.spark.sql.SparkSession, d: String,
                           feat: org.apache.spark.sql.DataFrame,
                           labels: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    labels.join(LinearClassifier.margins(feat,
        qcFittedWeights(s, d, feat, labels)), Seq("id"))
      .groupBy(col("margin"))
      .agg(sum(when(col("y") === 1L, 1L).otherwise(0L)).as("np"),
        sum(when(col("y") === -1L, 1L).otherwise(0L)).as("nn"))

  // ---- One-of-C quality-tier router (train_tier_centroids /
  //      tier_confusion_matrix / tier_classifier_report): per-mille
  //      hashed-ratio features, the heuristic quality score bucketed
  //      into 4 tiers as the teacher, nearest-centroid (Rocchio)
  //      training (operators/NearestCentroid) — the multiclass member
  //      of the classifier family. 81% corpus agreement vs the 49%
  //      majority floor at sf0.01; a batch multiclass perceptron was
  //      probed first and oscillates at the floor (see the operator's
  //      scaladoc). ----

  private val DcBuckets = 256
  /** Tier names, index = class id: the quality score (< 0.35,
    * < 0.5, < 0.6, rest) — edges picked off the corpus distribution
    * so every tier is populated at both probe SFs. */
  private val TierNames = Seq("q0_low", "q1_mid", "q2_high", "q3_top")

  /** (vectors, labels): dense per-mille ratio vectors under the
    * `dcf:` salt and tier labels from the heuristic quality teacher.
    * Both persist — training and every evaluation query reuse them. */
  private def dcVecsLabels(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val vecs = TrackedCache.persist(
      NearestCentroid.ratioVectors(Tables.documents(s, d), DcBuckets))
    val labels = TrackedCache.persist(
      textStatsFrame(s, d).select(col("doc_id").as("id"),
        when(col("quality") < 0.35, 0).when(col("quality") < 0.5, 1)
          .when(col("quality") < 0.6, 2).otherwise(3).as("y")))
    (vecs, labels)
  }

  /** CTE chain `lbl`, `r`, `csz`, `c` replaying
    * `NearestCentroid.ratioVectors` + `fit` exactly: sparse
    * (id, pos, x) features — per-mille token ratios (floor division)
    * at pos < buckets, the raw token count at pos = buckets — and
    * per-class floor-mean centroids over the FULL class size (slots
    * absent from every class member sum to 0 and stay absent: a 0
    * centroid slot). */
  private def dcTrainSql: String =
    s"""lbl AS (SELECT doc_id AS id,
       |    CASE WHEN quality < 0.35 THEN 0 WHEN quality < 0.5 THEN 1
       |      WHEN quality < 0.6 THEN 2 ELSE 3 END AS y
       |  FROM ($textStatsCoreSql)),
       |tk AS (SELECT doc_id AS id, ${toksSql("text")} AS toks
       |  FROM documents),
       |tot AS (SELECT id, len(toks)::BIGINT AS tot FROM tk),
       |r AS (SELECT f.id, f.pos, (f.cnt * 1000) // t.tot AS x
       |  FROM (SELECT id, ${h60("'dcf:' || t")} % $DcBuckets AS pos,
       |      count(*)::BIGINT AS cnt
       |    FROM (SELECT id, unnest(toks) AS t FROM tk) GROUP BY 1, 2) f
       |  JOIN tot t USING (id)
       |  UNION ALL
       |  SELECT id, $DcBuckets AS pos, tot AS x FROM tot),
       |csz AS (SELECT y AS cls, count(*)::BIGINT AS n FROM lbl
       |  GROUP BY 1),
       |c AS (SELECT cls, pos, s // n AS c FROM (SELECT l.y AS cls,
       |      r.pos, CAST(sum(r.x) AS BIGINT) AS s
       |    FROM r JOIN lbl l USING (id) GROUP BY 1, 2)
       |  JOIN csz USING (cls))""".stripMargin

  /** CTE suffix `pred`: every document's argmin-d² class under the
    * fitted centroids (ties to the lower class id), over the dense
    * slot grid — absent feature and centroid slots are 0 on both
    * sides, mirroring the dense vectors. Appended after
    * [[dcTrainSql]]. */
  private def dcPredSql: String =
    s"""grid AS (SELECT l.id, s.cls, sl.pos FROM lbl l
       |  CROSS JOIN csz s
       |  CROSS JOIN (SELECT unnest(range(0, ${DcBuckets + 1})) AS pos) sl),
       |dx AS (SELECT g.id, g.cls, coalesce(r.x, 0) - coalesce(c.c, 0) AS e
       |  FROM grid g
       |    LEFT JOIN r ON r.id = g.id AND r.pos = g.pos
       |    LEFT JOIN c ON c.cls = g.cls AND c.pos = g.pos),
       |d2 AS (SELECT id, cls, CAST(sum(e * e) AS BIGINT) AS d2 FROM dx
       |  GROUP BY 1, 2),
       |pred AS (SELECT id, cls::INTEGER AS pred FROM (SELECT id, cls,
       |    row_number() OVER (PARTITION BY id
       |      ORDER BY d2 ASC, cls ASC) AS rn FROM d2)
       |  WHERE rn = 1)""".stripMargin

  /** The trained router's (id, y, pred) over the whole corpus — the
    * Spark side of [[dcPredSql]], shared by the confusion and report
    * queries. */
  /** Tier-router centroids fitted ONCE per (JVM, corpus) — same
    * served-model pattern as [[qcFittedWeights]]
    * (`train_tier_centroids` keeps its inline fit as the training
    * query; the Rocchio fit is integer-deterministic). */
  private val tierCentsCache = new java.util.concurrent
    .ConcurrentHashMap[String, Seq[KMeans.Centroid]]()
  private def tierCentroids(s: org.apache.spark.sql.SparkSession,
                            d: String): Seq[KMeans.Centroid] =
    tierCentsCache.computeIfAbsent(d, _ => {
      val (vecs, labels) = dcVecsLabels(s, d)
      NearestCentroid.fit(vecs, labels)
    })

  private def dcPredFrame(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val (vecs, labels) = dcVecsLabels(s, d)
    labels.join(NearestCentroid.predict(vecs, tierCentroids(s, d)), Seq("id"))
  }

  /** block → pair → verify → cluster: the shared body of
    * `dedup_clusters` and the canonical-doc rewrite. Unordered
    * (doc_id, cluster_id). */
  /** THE shingle → minhash-signature → band pipeline, shared by every
    * MinHash consumer (clusters, pair search, near-dup decon). Returns
    * LAZY (sh = (doc_id, sh), bands = (doc_id, band)) — each caller
    * persists the frame(s) it actually reuses. One definition owns the
    * banding parameters (3-gram shingles, 4 rows/band), so query and
    * oracle can never drift per consumer. */
  /** MinHash shingle frame over an arbitrary (doc_id, text) frame —
    * the ONE owner of the shingle width, so a consumer that pre-
    * filters its documents (the capstone's survivor set) still
    * shingles identically to the full-corpus consumers and the
    * oracle. */
  private def minhashShinglesOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), TF.shingles(TF.tokens(col("text")), 3).as("sh"))

  private def minhashShingleBands(s: org.apache.spark.sql.SparkSession,
                                  d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    NativeExpressions.register(s)
    val sh = minhashShinglesOf(Tables.documents(s, d))
    (sh, minhashBandsFrom(sh))
  }

  /** Band keys derived from an EXISTING (doc_id, sh) shingle frame.
    * Callers that persist the shingle frame chain bands off the CACHED
    * copy instead of re-tokenizing + re-shingling the corpus (banding
    * is per-doc, so filtering sh first and banding after is identical
    * to banding first) — at 100 TB that is one whole corpus regex pass
    * saved per consumer. Parameters stay owned here alongside
    * [[minhashShingleBands]], so consumers and oracle cannot drift. */
  private def minhashBandsFrom(sh: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // one md5 per shingle (native digest read — no hex round-trip);
    // map-side-combined min() per signature slot
    val hs = sh.select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), (h60n(col("s")) % mmP).as("h"))
    val sig = hs.groupBy(col("doc_id")).agg(
      DF.minhashAggExprs(col("h")).head, DF.minhashAggExprs(col("h")).tail: _*)
    val sigCols = (0 until DF.numMinhashes).map(i => col(s"sig$i"))
    sig.select(col("doc_id"),
      explode(DF.bandKeys(sigCols, 4)).as("band"))
  }

  /** DuckDB mirror of [[minhashShingleBands]]: the `tok`/`sh`/`hs`/
    * `sig`/`bands` CTE prefix every MinHash oracle chains from. */
  private val minhashBandsSql: String = {
    val sigExprs = DF.MinhashA.zip(DF.MinhashB).zipWithIndex.map {
      case ((a, b), i) =>
        s"list_min(list_transform(hs, h -> ($a * h + $b) % $mmP)) AS s$i"
    }.mkString(",\n    ")
    val bandExprs = (0 until DF.numMinhashes).grouped(4).zipWithIndex.map {
      case (g, bi) =>
        val elems = g.map(i => s"s$i::VARCHAR").mkString(", ")
        s"concat_ws(':', '$bi', $elems)"
    }.mkString(", ")
    s"""tok AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
       |sh AS (SELECT doc_id, ${shinglesSql(3)} AS sh FROM tok),
       |hs AS (SELECT doc_id, list_transform(sh, s -> ${h60("s")} % $mmP) AS hs
       |  FROM sh WHERE len(sh) > 0),
       |sig AS (SELECT doc_id,
       |    $sigExprs
       |  FROM hs),
       |bands AS (SELECT doc_id, unnest([$bandExprs]) AS band FROM sig)"""
      .stripMargin
  }

  /** Hot-band cap: a band key shared by m members contributes
    * O(m²) candidate pairs, so one boilerplate-heavy band (template
    * pages that survive exact dedup) can go quadratic at 100 TB even
    * though the DERIVED band width keeps the *expected* bucket size
    * constant. Bands above this cap are dropped before the self-join —
    * the standard LSH bucket-size bound. Recall cost is negligible: a
    * true near-dup pair collides in several of the independent bands,
    * and a band this hot carries almost no discriminating signal.
    * Observability: `minhash_banding_recall` measures recall WITH the
    * cap, and the `minhash_hot_bands` query reports the band-size
    * histogram with capped keys flagged `over_cap`, so a drop is
    * visible in the driver artifact rather than silent. */
  private[graft] val MaxBandMembers = 256

  /** Drop rows whose `key` value is shared by more than
    * [[MaxBandMembers]] rows. Shaped as a map-side-combined count of
    * the (almost always tiny, usually empty) HOT key set plus an
    * anti-join — not a window, whose per-key sort measurably slowed
    * the band self-joins (~1.5 s on `dedup_minhash_lsh` at sf0.1) and
    * broke their exchange reuse. The anti-join shuffles by the key the
    * downstream self-join also joins on, so its exchange is reused;
    * under AQE the near-empty hot side converts to a broadcast. */
  private[graft] def dropHotBands(df: org.apache.spark.sql.DataFrame,
                                  key: String)
      : org.apache.spark.sql.DataFrame = {
    val hot = df.groupBy(col(key)).agg(count(lit(1)).as("_bn"))
      .filter(col("_bn") > MaxBandMembers)
      .select(col(key))
    df.join(hot, Seq(key), "left_anti")
  }

  /** DuckDB mirror of [[dropHotBands]] — wraps a relation source in a
    * QUALIFY-capped subquery. */
  private def dropHotBandsSql(src: String, key: String): String =
    s"(SELECT * FROM $src QUALIFY count(*) OVER (PARTITION BY $key) <= $MaxBandMembers)"

  /** DuckDB mirror of the streaming gate's signature-agreement count
    * (DedupIngest's `agree`): the number of slots on which signatures
    * aliased `x` and `y` (columns s0..s15 from the `sig` CTE) agree. */
  private val slotAgreeSql: String =
    (0 until DF.numMinhashes)
      .map(i => s"CASE WHEN x.s$i = y.s$i THEN 1 ELSE 0 END")
      .mkString(" + ")

  /** THE band-blocked candidate generation every MinHash consumer
    * shares: distinct (lo, hi) doc-id pairs sharing a band key,
    * lo < hi, hot bands capped (see [[MaxBandMembers]]). One definition
    * owns the blocking contract (the same reason
    * [[minhashShingleBands]] owns the banding parameters), so the four
    * consumers — pair search, clusters, containment, the e2e pipeline —
    * can never drift on candidate generation. */
  /** [[dropHotBands]] with the hot-key set PINNED (r17): when the
    * capped frame feeds a SELF-join, both sides anti-join against the
    * hot set, and without the pin each side re-ran the full
    * count-per-key aggregate over the keys frame — one whole extra
    * aggregation pass at any scale (plan diff: two HashAggregate+
    * Exchange(key) subtrees → one InMemoryTableScan). The pinned set
    * is metadata-scale (almost always empty; bounded by
    * #keys / [[MaxBandMembers]]), so the pin is free. Self-join
    * candidate generators use this; single-consumer cappings keep the
    * plain [[dropHotBands]]. */
  private def dropHotBandsPinned(df: org.apache.spark.sql.DataFrame,
                                 key: String)
      : org.apache.spark.sql.DataFrame = {
    val hot = TrackedCache.persist(
      df.groupBy(col(key)).agg(count(lit(1)).as("_bn"))
        .filter(col("_bn") > MaxBandMembers)
        .select(col(key)))
    df.join(hot, Seq(key), "left_anti")
  }

  private[graft] def candidatePairs(bands: org.apache.spark.sql.DataFrame,
                                    loCol: String, hiCol: String)
      : org.apache.spark.sql.DataFrame = {
    val capped = dropHotBandsPinned(bands, "band")
    capped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as(loCol), col("b.doc_id").as(hiCol))
      .distinct()
  }

  /** DuckDB mirror of [[candidatePairs]] — a parenthesized subquery
    * (callers wrap it in their own CTE). */
  private def candPairsSql(lo: String, hi: String): String =
    s"""(SELECT DISTINCT a.doc_id AS $lo, b.doc_id AS $hi
       |  FROM ${dropHotBandsSql("bands", "band")} a
       |  JOIN ${dropHotBandsSql("bands", "band")} b
       |  ON a.band = b.band AND a.doc_id < b.doc_id)""".stripMargin

  private def dedupClustersFrame(s: org.apache.spark.sql.SparkSession,
                                 d: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, d)
    val (sh0, _) = minhashShingleBands(s, d)
    val sh = sh0.persist()
    val bands = minhashBandsFrom(sh).persist()
    val pairs = candidatePairs(bands, "src", "dst")
    val verified = pairs
      .join(sh.as("x"), col("src") === col("x.doc_id"))
      .join(sh.as("y"), col("dst") === col("y.doc_id"))
      .filter(DF.jaccard(col("x.sh"), col("y.sh")) >= 0.5)
      .select(col("src"), col("dst"))
    // adaptive CC (r14): min-propagation for a small budget — the
    // minhash cluster graph is near-cliques and converges there at one
    // cheap shuffle per round (pure star contraction measured ~2×
    // slower at sf0.1) — with a star-contraction finish over the
    // partial-label quotient if a pathological shingle chain outruns
    // the budget, so no input can make this query ABORT
    val (comp, _) = graft.operators.ConnectedComponents
      .runAdaptive(docs.select(col("doc_id").as("id")), verified)
    // the CC loop materialized every round (localCheckpoint), so the
    // cached shingle/band frames are no longer reachable from the
    // result — release them instead of leaking blocks into the session
    sh.unpersist()
    bands.unpersist()
    comp.select(col("id").as("doc_id"), col("comp").as("cluster_id"))
  }

  /** DuckDB mirror of [[dedupClustersFrame]]: the CTE chain (recursive
    * — callers prepend `WITH RECURSIVE`), ending in CTE `clusters` =
    * (doc_id, cluster_id). */
  private val dedupClustersSql: String = {
    s"""$minhashBandsSql,
       |pairs AS ${candPairsSql("src", "dst")},
       |verified AS (SELECT src, dst FROM (
       |  SELECT src, dst,
       |    CAST(len(list_filter(list_distinct(x.sh), s0 -> list_contains(list_distinct(y.sh), s0))) AS DOUBLE) AS inter,
       |    CAST(len(list_distinct(x.sh)) + len(list_distinct(y.sh)) AS DOUBLE) AS szsum
       |  FROM pairs JOIN sh x ON x.doc_id = src JOIN sh y ON y.doc_id = dst)
       |  WHERE inter / (szsum - inter) >= 0.5),
       |ed AS (SELECT src, dst FROM verified UNION SELECT dst, src FROM verified),
       |reach(id, comp) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.comp FROM reach r JOIN ed e ON e.src = r.id),
       |clusters AS (SELECT id AS doc_id, min(comp) AS cluster_id FROM reach
       |  GROUP BY id)""".stripMargin
  }

  /** THE IVF search construction — assign → multiprobe → bounded-heap
    * top-k over a given centroid table. Every IVF query variant
    * (`sim_ivf_centroid_topk`'s untrained first-K table,
    * `sim_ivf_trained_topk`/`sim_ivf_recall`'s Lloyd-fitted table)
    * differs ONLY in the centroid set it passes — one construction,
    * swappable quantizer, exactly the production contract. Unordered
    * output (q_id, neighbor_id, dot, rnk ≤ k). */
  private def ivfTopk(vecs: org.apache.spark.sql.DataFrame,
                      cents: Seq[KMeans.Centroid], queryIds: Seq[Long],
                      nprobe: Int, k: Int): org.apache.spark.sql.DataFrame = {
    val assigned = KMeans.assign(vecs, cents)
      .select(col("id"), col("v"), col("cell"))
    val probes = KMeans.probeCells(
        vecs.filter(col("id").isin(queryIds: _*)), cents, nprobe)
      .select(col("id").as("q_id"), col("v").as("qv"), col("cell"))
    IvfIndex.searchAssigned(assigned, probes, k)
  }

  private def embVecs(s: org.apache.spark.sql.SparkSession,
                      d: String): org.apache.spark.sql.DataFrame =
    Tables.embeddings(s, d).select(col("vec_id").as("id"),
      SF.quantize(col("embedding")).as("v"))

  /** The filtered trained-IVF search — shared by
    * `sim_filtered_ivf_topk` and its recall evaluation: the metadata
    * predicate semi-joins the ASSIGNED corpus before the probe join;
    * probes rank against the full shared centroid geometry. */
  private def filteredIvfTopk(s: org.apache.spark.sql.SparkSession,
                              d: String): org.apache.spark.sql.DataFrame = {
    NativeExpressions.register(s)
    val vecs = embVecs(s, d)
    val cents = servedCentroids(s, d)
    val en = Tables.documents(s, d).filter(col("lang") === "en")
      .select(col("doc_id").as("id"))
    val assigned = KMeans.assign(vecs, cents)
      .select(col("id"), col("v"), col("cell"))
      .join(en, Seq("id"), "left_semi")
    val probes = KMeans.probeCells(
        vecs.filter(col("id").isin(0L, 1L, 2L)), cents, nprobe = 2)
      .select(col("id").as("q_id"), col("v").as("qv"), col("cell"))
    IvfIndex.searchAssigned(assigned, probes, k = 5)
  }

  /** The filtered trained-IVF oracle chain (training + en filter +
    * probe + filtered search), ending in CTE `fivf` = (q_id,
    * neighbor_id, dot, rnk ≤ 5); `af`/`qv` remain visible for the
    * recall oracle's filtered brute-force side. */
  private def filteredIvfSql: String = filteredIvfSqlWhere("lang = 'en'")

  /** [[filteredIvfSql]] under an arbitrary metadata condition — the
    * one filtered-IVF oracle construction, shared by the lang
    * (stats-plane) and source (bloom-plane) filtered serving rows. */
  private def filteredIvfSqlWhere(cond: String): String =
    s"""$kmTrainSql,
       |en AS (SELECT doc_id FROM documents WHERE $cond),
       |af AS (SELECT * FROM a3
       |  WHERE id IN (SELECT doc_id FROM en)),
       |pr AS (SELECT id, v, c_id, row_number() OVER (PARTITION BY id
       |    ORDER BY d2 ASC, c_id ASC) AS rnk
       |  FROM a3_d WHERE id IN (0, 1, 2)),
       |probes AS (SELECT id AS q_id, v AS qv, c_id AS cell
       |  FROM pr WHERE rnk <= 2),
       |fcand AS (SELECT q_id, a.id AS neighbor_id,
       |    CAST(list_sum(list_transform(list_zip(qv, a.v),
       |      p -> p[1] * p[2])) AS BIGINT) AS dot
       |  FROM af a JOIN probes p ON a.cell = p.cell
       |  WHERE a.id <> p.q_id),
       |fr AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY dot DESC, neighbor_id ASC) AS rnk FROM fcand),
       |fivf AS (SELECT q_id, neighbor_id, dot, rnk FROM fr
       |  WHERE rnk <= 5)""".stripMargin

  /** One served-index build per (JVM, corpus dir): the train-once half
    * of `sim_ivf_served_topk`'s train-once / search-many lifecycle. In
    * production this is an ingestion-time job publishing into the
    * store; here the artifact lives in a session temp dir so repeated
    * query invocations (and bench's second run) pay ONLY the serving
    * plan. Same quantizer parameters as [[trainedIvfTopk]], so the
    * served result and the train-side result share one oracle. */
  private val servedIvfDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def servedIvfIndex(s: org.apache.spark.sql.SparkSession,
                             d: String): String =
    servedIvfDirs.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft-ivf-idx")
        .toString
      // lang + source ride along as filter metadata: lang with its
      // min/max stats plane (sim_filtered_served_topk), source with
      // the Bloom point plane (sim_filtered_bloom_topk — a 20-value
      // column interleaved across files, where a range never refutes
      // an equality but a per-file Bloom filter does). The
      // ingestion-time cost of file-skipping filtered serving; search
      // results without a predicate are unchanged (search() selects
      // only id/v/cell).
      IvfIndex.build(embVecs(s, d), dir, k = 8, iters = 2,
        meta = Some(Tables.documents(s, d)
          .select(col("doc_id").as("id"), col("lang"), col("source"))),
        statsCols = Seq("lang"), bloomCols = Seq("source"))
      dir
    })

  /** One served-PQ-index build per (JVM, corpus dir) — the PQ twin of
    * [[servedIvfIndex]], same parameters as [[pqCodebooks]] so the
    * served ADC ranking shares `sim_pq_adc_topk`'s oracle. */
  private val servedPqDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def servedPqIndex(s: org.apache.spark.sql.SparkSession,
                            d: String): String =
    servedPqDirs.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft-pq-idx")
        .toString
      IvfIndex.buildPq(embVecs(s, d), dir, PqM, PqSubDims, PqK, iters = 1)
      dir
    })

  /** The topic name the served curation corpus commits under — ONE
    * logical artifact for batch and streaming admission. */
  private[graft] val CurationTopic = "curated_docs"

  /** One committed-corpus plane build per (JVM, corpus dir) for
    * `curation_incremental`: the corpus is COMMITTED through the
    * transactional log (payload = the text column, envelope part/off
    * derived from doc_id), then the `_fp` exact-fingerprint and `_mh`
    * MinHash-signature planes are installed by the SAME
    * [[DedupIngest.rebuildFingerprints]]/[[DedupIngest.rebuildSignatures]]
    * hooks the streaming gates run after an erasure — so batch
    * admission and streaming admission read ONE served state in ONE
    * format, and the post-DML rebuild story covers both by
    * construction. The incremental query then pays ONLY the
    * batch-side work plus plane probes (the actual daily production
    * cost); the oracle still re-derives every decision from the raw
    * corpus, so the plane contents are hash-checked every round. */
  private val curationPlaneDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def servedCurationPlanes(s: org.apache.spark.sql.SparkSession,
                                   d: String): String =
    curationPlaneDirs.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft-cur-planes")
        .toString
      NativeExpressions.register(s)
      val corpus = Tables.documents(s, d)
        .filter(col("doc_id") % 5 =!= 0 && col("doc_id") >= 25)
        .select((col("doc_id") % 8).as("part"), col("doc_id").as("off"),
          col("text"))
      CommitLog.writeLogged(corpus, dir, CurationTopic, flushSize = 1 << 20)
      DedupIngest.rebuildFingerprints(s, dir, CurationTopic)
      DedupIngest.rebuildSignatures(s, dir, CurationTopic, "text")
      dir
    })

  /** One served IVF-PQ build per (JVM, corpus dir): coarse k=8/iters=2
    * quantizer (same parameters as the plain-IVF artifact, so the
    * coarse training replays through the one kmTrainSql oracle) +
    * residual-PQ codebooks at the [[PqM]]/[[PqK]] geometry. */
  private val servedIvfPqDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def servedIvfPqIndex(s: org.apache.spark.sql.SparkSession,
                               d: String): String =
    servedIvfPqDirs.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-idx")
        .toString
      // lang metadata + stats plane for the filtered serving twin
      // (sim_filtered_ivfpq_topk), source + bloom plane for the
      // equality-filtered twin (sim_filtered_bloom_ivfpq_topk);
      // unfiltered reads are unchanged — the ADC scan projects
      // (id, cell, codes) only
      IvfIndex.buildIvfPq(embVecs(s, d), dir, k = 8, iters = 2,
        m = PqM, subDims = PqSubDims, pqK = PqK, pqIters = 1,
        meta = Some(Tables.documents(s, d)
          .select(col("doc_id").as("id"), col("lang"), col("source"))),
        statsCols = Seq("lang"), bloomCols = Seq("source"))
      dir
    })

  /** The frozen k=8/iters=2 quantizer from the served index artifact —
    * what every assign-under-the-trained-quantizer consumer (drift
    * monitor, outlier scorer, cluster-balanced sampler, filtered
    * search) loads instead of re-running Lloyd per query. KMeans.fit
    * is deterministic, so the loaded centroids ARE what fitting inline
    * would compute and every oracle still replays training. */
  private def servedCentroids(s: org.apache.spark.sql.SparkSession,
                              d: String): Seq[KMeans.Centroid] =
    IvfIndex.centroids(s, servedIvfIndex(s, d))

  /** [[ivfTopk]] under the Lloyd-trained quantizer — the shared body
    * of `sim_ivf_trained_topk` and the recall evaluation. */
  private def trainedIvfTopk(s: org.apache.spark.sql.SparkSession,
                             d: String): org.apache.spark.sql.DataFrame = {
    NativeExpressions.register(s)
    val vecs = embVecs(s, d)
    ivfTopk(vecs, KMeans.fit(vecs, k = 8, iters = 2), Seq(0L, 1L, 2L),
      nprobe = 2, k = 5)
  }

  /** The oracle's IVF SEARCH half, shared by every variant: given the
    * final assignment CTEs `<asg>`/`<asg>_d` (from [[kmAssignSql]]),
    * rank each query's `nprobe` nearest cells and score candidates —
    * ends in CTE `ivf` = (q_id, neighbor_id, dot, rnk ≤ k). */
  private def ivfSearchSql(asg: String, nprobe: Int, k: Int,
                           queryIds: Seq[Long] = Seq(0L, 1L, 2L)): String =
    s"""pr AS (SELECT id, v, c_id, row_number() OVER (PARTITION BY id
       |    ORDER BY d2 ASC, c_id ASC) AS rnk
       |  FROM ${asg}_d WHERE id IN (${queryIds.mkString(", ")})),
       |probes AS (SELECT id AS q_id, v AS qv, c_id AS cell
       |  FROM pr WHERE rnk <= $nprobe),
       |cand AS (SELECT q_id, a.id AS neighbor_id,
       |    CAST(list_sum(list_transform(list_zip(qv, a.v),
       |      p -> p[1] * p[2])) AS BIGINT) AS dot
       |  FROM $asg a JOIN probes p ON a.cell = p.cell
       |  WHERE a.id <> p.q_id),
       |ivf_r AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY dot DESC, neighbor_id ASC) AS rnk FROM cand),
       |ivf AS (SELECT q_id, neighbor_id, dot, rnk FROM ivf_r
       |  WHERE rnk <= $k)""".stripMargin

  /** The Lloyd-training replay alone (k=8, iters=2), ending in the
    * final assignment CTE `a3` = (id, v, cell, d2) — shared by the
    * trained-IVF search and the outlier scorer. */
  private def kmTrainSql: String =
    s"""qv AS (SELECT vec_id AS id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
       |  FROM embeddings),
       |c0 AS (SELECT id AS c_id, v AS cv FROM qv ORDER BY id LIMIT 8),
       |${kmAssignSql("qv", "c0", "a1")},
       |${kmUpdateSql("a1", "c1", EmbDims)},
       |${kmAssignSql("qv", "c1", "a2")},
       |${kmUpdateSql("a2", "c2", EmbDims)},
       |${kmAssignSql("qv", "c2", "a3")}""".stripMargin

  /** The trained-IVF oracle CTE chain (training + probe + search),
    * ending in CTE `ivf` = (q_id, neighbor_id, dot, rnk ≤ 5). */
  private def trainedIvfSql: String =
    s"""$kmTrainSql,
       |${ivfSearchSql("a3", nprobe = 2, k = 5)}""".stripMargin

  /** Scalar (int8) quantization of the embedding corpus: SYMMETRIC
    * absmax codes `floor(x·127 / g)` in [-127, 127] under one GLOBAL
    * scale g = max|component| — symmetric-no-offset on purpose: an
    * affine per-dim code (x−lo)·255/span would add a constant offset
    * whose cross terms dominate the code dot product and destroy
    * inner-product ranking (measured recall@5 of exactly 0); absmax
    * scales the dot by the constant (127/g)², preserving order up to
    * rounding. The scale is learned in one map-side-combined aggregate
    * (one scalar out) and enters the encode projection as a plan
    * literal. Flooring goes through the subtract-the-remainder trick
    * in BOTH engines (pmod, the kmUpdateSql pattern): the numerator
    * becomes an exact multiple of g before dividing, so every
    * division convention agrees (DuckDB's `//` truncates toward zero,
    * not floor) and the oracle replays codes bit-for-bit.
    * Returns (id, c: array<long> of 64 codes). */
  private def sq8Codes(s: org.apache.spark.sql.SparkSession,
                       d: String): org.apache.spark.sql.DataFrame = {
    val vecs = embVecs(s, d)
    // one scalar; NULL on an empty corpus → g=1, codes frame is empty
    // anyway (engine-parity guard: the oracle emits an empty result,
    // so the Spark side must not throw — the embRows convention)
    val gRow = vecs.select(posexplode(col("v")).as(Seq("j", "x")))
      .agg(max(abs(col("x")))).head()
    val g = if (gRow.isNullAt(0)) 1L else math.max(gRow.getLong(0), 1L)
    vecs.select(col("id"), transform(col("v"), x => {
      val a = x * lit(127L)
      ((a - pmod(a, lit(g))) / lit(g)).cast("long")
    }).as("c"))
  }

  /** DuckDB mirror of [[sq8Codes]], ending in CTE `codes(id, c)`. */
  private def sq8Sql: String =
    s"""qv AS (SELECT vec_id AS id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
       |  FROM embeddings),
       |gs AS (SELECT GREATEST(max(abs(v[j])), 1) AS g
       |  FROM qv CROSS JOIN range(1, ${EmbDims + 1}) t(j)),
       |codes AS (SELECT id, list_transform(v,
       |    x -> ((x * 127) - (((x * 127) % g) + g) % g) // g) AS c
       |  FROM qv CROSS JOIN gs)""".stripMargin

  /** Product-quantization geometry: M subspaces of EmbDims/M dims,
    * K centroids each — codebooks are O(M·K·subdims) driver literals,
    * codes are M small ints per vector (the 100 TB memory story: 8
    * code bytes standing in for 512 vector bytes at search time). */
  private val PqM = 8
  private val PqSubDims = EmbDims / PqM
  private val PqK = 16

  /** One fitted codebook per subspace (Lloyd, 1 iteration, first-K
    * init) — each fit is the shuffle-free literal-assignment path.
    * `PqTrainMod` is the deterministic train-sample stride (id mod —
    * content-independent, oracle-replayable): at corpus scale codebook
    * training ALWAYS runs on a sample (training O(sample), encoding
    * O(corpus)). It is pinned to 1 (no sampling) after measurement:
    * this corpus is small enough that a 1-in-4 or 1-in-2 sample
    * underfits the M·K codebooks — recall@5 drops from ~0.5 avg to
    * ~0.1–0.2. The knob exists because production needs it; the
    * setting tells the truth about this data size. */
  private val PqTrainMod = 1
  private def pqCodebooks(vecs: org.apache.spark.sql.DataFrame)
      : Seq[Seq[KMeans.Centroid]] = {
    val sample = vecs.filter(col("id") % PqTrainMod === 0)
    // all M subspace trainings in one fused pass per Lloyd step —
    // bit-identical to per-subspace KMeans.fit (KMeansSpec pins it),
    // O(1 + iters) jobs instead of O(M·(1 + iters))
    KMeans.fitSubspaces(sample, PqM, PqSubDims, k = PqK, iters = 1)
  }

  /** The per-subspace PQ training+encoding CTE chain over source CTE
    * `src` (columns id, v): first-K init / assign / floor-mean update
    * / final assign per subspace, ending in `<tag>codes(id, m, code)`
    * and `<tag>cb(m, code, cv)`. `tag` prefixes every generated CTE so
    * two chains (raw-vector PQ, residual IVF-PQ) can coexist in one
    * oracle. */
  private def pqChainsSql(src: String, tag: String): String = {
    val perSub = (0 until PqM).map { m =>
      s"""${tag}s$m AS (SELECT id, array_slice(v, ${m * PqSubDims + 1}, ${(m + 1) * PqSubDims}) AS v FROM $src),
         |${tag}t$m AS (SELECT * FROM ${tag}s$m WHERE id % $PqTrainMod = 0),
         |${tag}c0_$m AS (SELECT id AS c_id, v AS cv FROM ${tag}t$m ORDER BY id LIMIT $PqK),
         |${kmAssignSql(s"${tag}t$m", s"${tag}c0_$m", s"${tag}a1_$m")},
         |${kmUpdateSql(s"${tag}a1_$m", s"${tag}c1_$m", PqSubDims)},
         |${kmAssignSql(s"${tag}s$m", s"${tag}c1_$m", s"${tag}e$m")}""".stripMargin
    }.mkString(",\n")
    val codesUnion = (0 until PqM)
      .map(m => s"SELECT id, $m AS m, cell AS code FROM ${tag}e$m")
      .mkString(" UNION ALL ")
    val cbUnion = (0 until PqM)
      .map(m => s"SELECT $m AS m, c_id AS code, cv FROM ${tag}c1_$m")
      .mkString(" UNION ALL ")
    s"""$perSub,
       |${tag}codes AS ($codesUnion),
       |${tag}cb AS ($cbUnion)""".stripMargin
  }

  /** DuckDB replay of [[pqCodebooks]] + encoding: per subspace the
    * first-K init / assign / floor-mean update / final assign chain,
    * ending in CTEs `codes(id, m, code)` and `cb(m, code, cv)`. */
  private def pqSql: String =
    s"""qv AS (SELECT vec_id AS id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
       |  FROM embeddings),
       |${pqChainsSql("qv", "")}""".stripMargin

  /** Exact brute-force top-5 (q_id, neighbor_id) of `frame` on vector
    * column `vc` — broadcast queries + bounded-heap aggregate; the
    * reference ranking every recall evaluation compares against (and
    * the quantized ranking itself when `vc` holds codes). */
  private def bruteTop5(frame: org.apache.spark.sql.DataFrame,
                        vc: String): org.apache.spark.sql.DataFrame = {
    val q = frame.filter(col("id").isin(0L, 1L, 2L))
      .select(col("id").as("q_id"), col(vc).as("qx"))
    frame.crossJoin(broadcast(q))
      .filter(col("id") =!= col("q_id"))
      .select(col("q_id"), col("id").as("neighbor_id"),
        call_function("dot_i64", col("qx"), col(vc)).as("ord"))
      .groupBy(col("q_id"))
      .agg(call_function("topk_pairs", col("ord"), col("neighbor_id"),
        lit(5)).as("top"))
      .select(col("q_id"), explode(col("top.id")).as("neighbor_id"))
  }

  /** recall@5 combiner: (q_id, n_hit, recall) of `approx` against
    * `exact`, both (q_id, neighbor_id) with 5 rows per query. */
  private def recallAt5(approx: org.apache.spark.sql.DataFrame,
                        exact: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val hits = approx.join(exact, Seq("q_id", "neighbor_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
    exact.select(col("q_id")).distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall", col("n_hit").cast("double") / 5.0)
      .orderBy(col("q_id"))
  }

  /** Oracle mirror of [[bruteTop5]] over the exact vectors: CTEs
    * `exd`/`exr`/`ext`, ending in `ext(q_id, neighbor_id)`. */
  private def exactTop5Sql: String =
    s"""exd AS (SELECT q.id AS q_id, a.id AS neighbor_id,
       |    CAST(list_sum(list_transform(list_zip(q.v, a.v),
       |      p -> p[1] * p[2])) AS BIGINT) AS ord
       |  FROM qv a CROSS JOIN
       |    (SELECT id, v FROM qv WHERE id IN (0, 1, 2)) q
       |  WHERE a.id <> q.id),
       |exr AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY ord DESC, neighbor_id ASC) AS rnk FROM exd),
       |ext AS (SELECT q_id, neighbor_id FROM exr WHERE rnk <= 5)""".stripMargin

  /** Oracle mirror of [[recallAt5]]: `cand` vs `ext` — the terminal
    * SELECT (not a CTE; append last). */
  private def recallTailSql(cand: String): String =
    s"""hits AS (SELECT s.q_id, count(*) AS n_hit
       |  FROM $cand s JOIN ext e
       |    ON s.q_id = e.q_id AND s.neighbor_id = e.neighbor_id
       |  GROUP BY 1)
       |SELECT q.q_id, coalesce(n_hit, 0) AS n_hit,
       |  CAST(coalesce(n_hit, 0) AS DOUBLE) / 5.0 AS recall
       |FROM (SELECT DISTINCT q_id FROM ext) q
       |LEFT JOIN hits USING (q_id)
       |ORDER BY q_id""".stripMargin

  /** The PQ ADC ranked frame (q_id, neighbor_id, adc, rnk ≤ 5),
    * unordered — the shared body of `sim_pq_adc_topk` and the recall
    * evaluation. Trains the codebooks on the (caller-persisted) `vecs`
    * frame. */
  private def pqAdcRanked(s: org.apache.spark.sql.SparkSession,
                          vecs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    // engine-parity guard (the embRows convention): an empty corpus
    // has no codebooks to train — KMeans.assign would reject the
    // empty centroid set — while the oracle's empty CTE chain yields
    // an empty result; return the same empty (typed) frame instead
    if (vecs.isEmpty)
      return Seq.empty[(Long, Long, Long, Long)]
        .toDF("q_id", "neighbor_id", "adc", "rnk")
    val books = pqCodebooks(vecs)
    val codes = vecs.select(col("id"),
      posexplode(array(books.zipWithIndex.map { case (cents, m) =>
        KMeans.cellOf(slice(col("v"), m * PqSubDims + 1, PqSubDims), cents)
      }.toSeq: _*)).as(Seq("m", "code")))
    val cdf = books.zipWithIndex.flatMap { case (cents, m) =>
      cents.map(c => (m, c.id, c.v))
    }.toDF("m", "code", "cv")
    val q = vecs.filter(col("id").isin(0L, 1L, 2L))
      .select(col("id").as("q_id"), col("v").as("qv"))
    val lut = q.crossJoin(broadcast(cdf))
      .select(col("q_id"), col("m"), col("code"),
        call_function("dot_i64",
          slice(col("qv"), col("m") * lit(PqSubDims) + lit(1), lit(PqSubDims)),
          col("cv")).as("partial"))
    codes.join(broadcast(lut), Seq("m", "code"))
      .filter(col("id") =!= col("q_id"))
      .groupBy(col("q_id"), col("id"))
      .agg(sum(col("partial")).as("adc"))
      .groupBy(col("q_id"))
      .agg(call_function("topk_pairs", col("adc"), col("id"),
        lit(5)).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("q_id"), col("p.id").as("neighbor_id"),
        col("p.ord").as("adc"), (col("pos") + 1).cast("long").as("rnk"))
  }

  /** ADC shortlist size for the two-stage refined search — the c in
    * "ADC top-c, exact re-rank top-k". 50 covers 2.5% of this corpus
    * (production uses c≈4k against billions — the same ~10⁻⁵..10⁻²
    * fraction band). */
  private val PqShortlist = 50

  /** Oracle mirror of the exact re-rank stage given [[pqRankSql]]'s
    * `r` (ADC ranking) and `q`/`qv`: shortlist = rnk ≤ [[PqShortlist]],
    * exact dot against full vectors, re-ranked — ends in
    * `rr(q_id, neighbor_id, dot, rnk)`. */
  private def pqRefineSql: String =
    s"""short AS (SELECT q_id, neighbor_id FROM r WHERE rnk <= $PqShortlist),
       |ex AS (SELECT s.q_id, s.neighbor_id,
       |    CAST(list_sum(list_transform(list_zip(qq.qv, a.v),
       |      p -> p[1] * p[2])) AS BIGINT) AS dot
       |  FROM short s JOIN qv a ON a.id = s.neighbor_id
       |    JOIN q qq ON qq.q_id = s.q_id),
       |rr AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY dot DESC, neighbor_id ASC) AS rnk FROM ex)""".stripMargin

  /** Oracle replay of the served IVF-PQ index (coarse Lloyd training,
    * residual computation, residual-PQ training+encoding, probe, ADC
    * score = centroid dot + residual LUT sum) — ends in CTE
    * `ir(q_id, neighbor_id, adc, rnk)`. All integer arithmetic, so
    * the served ranking hash-matches. */
  private def ivfPqSql(nprobe: Int, candFilter: String = ""): String =
    s"""$kmTrainSql,
       |rs AS (SELECT a3.id, list_transform(list_zip(a3.v, c2.cv),
       |    p -> p[1] - p[2]) AS v
       |  FROM a3 JOIN c2 ON a3.cell = c2.c_id),
       |${pqChainsSql("rs", "r")},
       |ipr AS (SELECT id, c_id, row_number() OVER (PARTITION BY id
       |    ORDER BY d2 ASC, c_id ASC) AS rnk FROM a3_d WHERE id IN (0, 1, 2)),
       |iprobe AS (SELECT p.id AS q_id, q.v AS qv, p.c_id AS cell
       |  FROM ipr p JOIN qv q ON q.id = p.id WHERE p.rnk <= $nprobe),
       |icdot AS (SELECT q_id, cell,
       |    CAST(list_sum(list_transform(list_zip(qv, cv),
       |      p -> p[1] * p[2])) AS BIGINT) AS cd
       |  FROM iprobe JOIN c2 ON cell = c_id),
       |ilut AS (SELECT q_id, m, code,
       |    CAST(list_sum(list_transform(
       |      list_zip(array_slice(qv, m * $PqSubDims + 1, (m + 1) * $PqSubDims), cv),
       |      p -> p[1] * p[2])) AS BIGINT) AS partial
       |  FROM (SELECT DISTINCT q_id, qv FROM iprobe) CROSS JOIN rcb),
       |icand AS (SELECT p.q_id, a.id AS neighbor_id, a.cell
       |  FROM a3 a JOIN iprobe p ON a.cell = p.cell
       |  WHERE a.id <> p.q_id$candFilter),
       |iadc AS (SELECT c.q_id, c.neighbor_id, c.cell,
       |    CAST(sum(partial) AS BIGINT) AS rsum
       |  FROM icand c JOIN rcodes rc ON rc.id = c.neighbor_id
       |    JOIN ilut l ON l.q_id = c.q_id AND l.m = rc.m AND l.code = rc.code
       |  GROUP BY 1, 2, 3),
       |iscore AS (SELECT i.q_id, neighbor_id, cd + rsum AS adc
       |  FROM iadc i JOIN icdot d ON i.q_id = d.q_id AND i.cell = d.cell),
       |ir AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY adc DESC, neighbor_id ASC) AS rnk FROM iscore)""".stripMargin

  /** Oracle mirror of [[pqAdcRanked]] given [[pqSql]]'s CTEs: ends in
    * `r(q_id, neighbor_id, adc, rnk)`. */
  private def pqRankSql: String =
    s"""q AS (SELECT id AS q_id, v AS qv FROM qv WHERE id IN (0, 1, 2)),
       |lut AS (SELECT q_id, m, code,
       |    CAST(list_sum(list_transform(
       |      list_zip(array_slice(qv, m * $PqSubDims + 1, (m + 1) * $PqSubDims), cv),
       |      p -> p[1] * p[2])) AS BIGINT) AS partial
       |  FROM q CROSS JOIN cb),
       |adc AS (SELECT q_id, c.id AS neighbor_id,
       |    CAST(sum(partial) AS BIGINT) AS adc
       |  FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.code
       |  WHERE c.id <> l.q_id GROUP BY 1, 2),
       |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY adc DESC, neighbor_id ASC) AS rnk FROM adc)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // ---- Exact dedup: hash-aggregate on a 16-byte fingerprint. ----
    QuerySpec("dedup_exact",
      (s, d) => DF.exactDedup(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("fingerprint")),
      Some("""SELECT md5(text) AS fingerprint, min(doc_id) AS keeper_id,
             |  count(*) AS dup_count
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = true),

    // ---- Bag-of-words + prefix fingerprints (order/dup-invariant). ----
    QuerySpec("dedup_fingerprint",
      (s, d) => Tables.documents(s, d).select(col("doc_id"),
          TF.contentFingerprint(col("text")).as("content_fp"),
          TF.prefixFingerprint(col("text")).as("prefix_fp"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
              |  md5(array_to_string(list_sort(list_distinct(${toksSql("text")})), ' ')) AS content_fp,
              |  md5(substr(lower(text), 1, 64)) AS prefix_fp
              |FROM documents ORDER BY doc_id""".stripMargin),
      bench = true),

    // ---- MinHash + LSH banding → candidate duplicate pairs. ----
    QuerySpec("dedup_minhash_lsh",
      (s, d) => {
        // persist before the self-join: both join sides would otherwise
        // re-run the whole shingle→hash→signature pipeline; bands is
        // tiny relative to the documents (4 short strings per doc)
        val bands = TrackedCache.persist(minhashShingleBands(s, d)._2)
        candidatePairs(bands, "doc_a", "doc_b")
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(
        s"""WITH $minhashBandsSql,
           |cand AS ${candPairsSql("doc_a", "doc_b")}
           |SELECT doc_a, doc_b FROM cand
           |ORDER BY doc_a, doc_b""".stripMargin),
      bench = true),

    // ---- Hot-band OBSERVABILITY: the band-size histogram behind the
    //      [[MaxBandMembers]] cap. `over_cap=true` rows are exactly the
    //      band keys [[dropHotBands]] drops before every self-join, so
    //      a capped (silently non-candidate-generating) band is visible
    //      in the driver artifact, not just in the recall number. One
    //      map-side-combined count per band, then a tiny second
    //      aggregate over the counts — no join, no window. ----
    QuerySpec("minhash_hot_bands",
      (s, d) => minhashShingleBands(s, d)._2
        .groupBy(col("band")).agg(count(lit(1)).as("members"))
        .groupBy(col("members")).agg(count(lit(1)).as("bands"))
        .select(col("members"), col("bands"),
          (col("members") > MaxBandMembers).as("over_cap"))
        .orderBy(col("members")),
      Some(s"""WITH $minhashBandsSql,
              |bs AS (SELECT band, count(*) AS members FROM bands GROUP BY band)
              |SELECT members, count(*) AS bands,
              |  members > $MaxBandMembers AS over_cap
              |FROM bs GROUP BY members ORDER BY members""".stripMargin)),

    // ---- Dedup THRESHOLD TUNING curve: how many pairs (and docs)
    //      would each candidate Jaccard threshold catch — the report
    //      that decides where to set the near-dup bar before running
    //      the full pipeline. Candidates come from the SAME one-pass
    //      banding; exact Jaccard is computed once as integer ppm and
    //      swept against a 3-row threshold frame (the non-equi join is
    //      against 3 literals — broadcast, trivially); div-by-zero
    //      (two empty shingle sets) nulls out identically via
    //      div/nullif in the two engines. ----
    QuerySpec("dedup_threshold_curve",
      (s, d) => {
        import s.implicits._
        val (sh0, _) = minhashShingleBands(s, d)
        val sh = TrackedCache.persist(sh0)
        val bands = TrackedCache.persist(minhashBandsFrom(sh))
        val jp = candidatePairs(bands, "src", "dst")
          .join(sh.as("x"), col("src") === col("x.doc_id"))
          .join(sh.as("y"), col("dst") === col("y.doc_id"))
          .select(col("src"), col("dst"),
            size(array_intersect(array_distinct(col("x.sh")),
              array_distinct(col("y.sh")))).cast("long").as("inter"),
            size(array_distinct(col("x.sh"))).cast("long").as("la"),
            size(array_distinct(col("y.sh"))).cast("long").as("lb"))
          .select(col("src"), col("dst"),
            expr("(inter * 1000000) div (la + lb - inter)").as("j_ppm"))
        val thr = Seq(10000L, 100000L, 500000L, 900000L).toDF("t_ppm")
        val hit = thr.join(jp, col("j_ppm") >= col("t_ppm"), "left")
        val nPairs = hit.groupBy(col("t_ppm"))
          .agg(count(col("src")).as("n_pairs"))
        val nDocs = hit.filter(col("src").isNotNull)
          .select(col("t_ppm"),
            explode(array(col("src"), col("dst"))).as("id"))
          .groupBy(col("t_ppm")).agg(countDistinct(col("id")).as("n_docs"))
        nPairs.join(nDocs, Seq("t_ppm"), "left")
          .select(col("t_ppm"), col("n_pairs"),
            coalesce(col("n_docs"), lit(0L)).as("n_docs"))
          .orderBy(col("t_ppm"))
      },
      Some(s"""WITH $minhashBandsSql,
              |cand AS ${candPairsSql("src", "dst")},
              |jp AS (SELECT src, dst,
              |    (inter * 1000000) // nullif(la + lb - inter, 0) AS j_ppm
              |  FROM (SELECT src, dst,
              |    len(list_filter(list_distinct(x.sh),
              |      s0 -> list_contains(list_distinct(y.sh), s0)))::BIGINT AS inter,
              |    len(list_distinct(x.sh))::BIGINT AS la,
              |    len(list_distinct(y.sh))::BIGINT AS lb
              |  FROM cand JOIN sh x ON src = x.doc_id
              |    JOIN sh y ON dst = y.doc_id)),
              |thr AS (SELECT unnest([10000, 100000, 500000, 900000]) AS t_ppm),
              |hit AS (SELECT t_ppm, src, dst FROM thr
              |  LEFT JOIN jp ON j_ppm >= t_ppm),
              |np AS (SELECT t_ppm, count(src)::BIGINT AS n_pairs
              |  FROM hit GROUP BY t_ppm),
              |nd AS (SELECT t_ppm, count(DISTINCT id)::BIGINT AS n_docs
              |  FROM (SELECT t_ppm, unnest([src, dst]) AS id FROM hit
              |    WHERE src IS NOT NULL) GROUP BY t_ppm)
              |SELECT np.t_ppm::BIGINT AS t_ppm, n_pairs,
              |  coalesce(n_docs, 0) AS n_docs
              |FROM np LEFT JOIN nd ON np.t_ppm = nd.t_ppm
              |ORDER BY t_ppm""".stripMargin)),

    // ---- Dedup clusters: the full production pipeline shape —
    //      block (LSH bands) → pair → VERIFY (true 3-gram Jaccard ≥ 0.5
    //      on candidates only; at sf0.01 this keeps the 25 real
    //      near-dup pairs, j ≥ 0.9, and drops 23 banding false
    //      positives, j ≈ 0.02) → cluster (connected components). ----
    QuerySpec("dedup_clusters",
      (s, d) => dedupClustersFrame(s, d).orderBy(col("doc_id")),
      Some(s"""WITH RECURSIVE $dedupClustersSql
              |SELECT doc_id, cluster_id FROM clusters
              |ORDER BY doc_id""".stripMargin)),

    // ---- Cluster-purity audit: do near-dup clusters respect the
    //      language labels? A cluster mixing languages usually means
    //      the shingle space is too coarse (or boilerplate dominates)
    //      — THE sanity report before trusting cluster-level survivor
    //      selection or leakage-safe splits. One doc-keyed join of
    //      the cluster assignment to its lang, a (cluster, lang)
    //      aggregate, and a cluster-scale majority pick through the
    //      max(struct) idiom — no window, no second corpus pass. ----
    QuerySpec("dedup_cluster_purity",
      (s, d) => {
        val assign = dedupClustersFrame(s, d)
          .join(Tables.documents(s, d).select(col("doc_id"), col("lang")),
            Seq("doc_id"))
        val byLang = assign.groupBy(col("cluster_id"), col("lang"))
          .agg(count(lit(1)).as("n"))
        byLang.groupBy(col("cluster_id"))
          .agg(sum(col("n")).as("n_docs"),
            count(lit(1)).as("n_langs"),
            max(struct(col("n"), col("lang"))).getField("n")
              .as("n_majority"))
          .filter(col("n_docs") > 1)
          .select(col("cluster_id"), col("n_docs"), col("n_langs"),
            expr("(n_majority * 1000000) div n_docs").as("purity_ppm"))
          .orderBy(col("cluster_id"))
      },
      Some(s"""WITH RECURSIVE $dedupClustersSql,
              |al AS (SELECT c.doc_id, c.cluster_id, d.lang
              |  FROM clusters c JOIN documents d ON c.doc_id = d.doc_id),
              |bl AS (SELECT cluster_id, lang, count(*)::BIGINT AS n
              |  FROM al GROUP BY 1, 2),
              |ag AS (SELECT cluster_id, sum(n)::BIGINT AS n_docs,
              |    count(*)::BIGINT AS n_langs,
              |    (max(struct_pack(n := n, lang := lang))).n AS n_majority
              |  FROM bl GROUP BY cluster_id)
              |SELECT cluster_id, n_docs, n_langs,
              |  ((n_majority * 1000000) // n_docs)::BIGINT AS purity_ppm
              |FROM ag WHERE n_docs > 1 ORDER BY cluster_id""".stripMargin)),

    // ---- Canonical-document selection: per duplicate cluster, keep
    //      the BEST doc (quality micro-units, ties to the lower id) —
    //      the rewrite step real pipelines run after clustering, where
    //      min-id would throw away the cleanest copy. Selection goes
    //      through the bounded-heap topk_pairs aggregate with k=1, so
    //      the exchange carries one row per cluster. ----
    QuerySpec("dedup_canonical_docs",
      (s, d) => {
        val q = textStatsFrame(s, d).select(col("doc_id"),
          floor(col("quality") * 1000000.0).cast("long").as("q"))
        dedupClustersFrame(s, d).join(q, Seq("doc_id"))
          .groupBy(col("cluster_id"))
          .agg(call_function("topk_pairs", col("q"), col("doc_id"),
            lit(1)).as("top"), count(lit(1)).as("n_docs"))
          .select(col("cluster_id"),
            element_at(col("top"), 1).getField("id").as("keeper_id"),
            element_at(col("top"), 1).getField("ord").as("keeper_q"),
            col("n_docs"))
          .orderBy(col("cluster_id"))
      },
      Some(s"""WITH RECURSIVE $dedupClustersSql,
              |q AS (SELECT doc_id, CAST(floor(quality * 1000000.0) AS BIGINT) AS q
              |  FROM (${textStatsSql("")})),
              |j AS (SELECT c.cluster_id, q.q, q.doc_id
              |  FROM clusters c JOIN q USING (doc_id)),
              |r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
              |    ORDER BY q DESC, doc_id ASC) AS rnk FROM j),
              |n AS (SELECT cluster_id, count(*) AS n_docs FROM j GROUP BY 1)
              |SELECT cluster_id, doc_id AS keeper_id, q AS keeper_q, n_docs
              |FROM r JOIN n USING (cluster_id) WHERE rnk = 1
              |ORDER BY cluster_id""".stripMargin)),

    // ---- Cluster-size histogram: the dedup-impact report (how much
    //      of the corpus sits in duplicate groups of what size) every
    //      dedup run logs — singletons dominate a healthy corpus, a
    //      fat tail means boilerplate. Two metadata-scale aggregates
    //      over the cluster assignment; the histogram's cardinality is
    //      the number of DISTINCT cluster sizes, value-domain-scale
    //      like token_length_quantiles' frame. ----
    QuerySpec("cluster_size_histogram",
      (s, d) => dedupClustersFrame(s, d)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("sz")),
      Some(s"""WITH RECURSIVE $dedupClustersSql,
              |szs AS (SELECT cluster_id, count(*)::BIGINT AS sz
              |  FROM clusters GROUP BY 1)
              |SELECT sz, count(*)::BIGINT AS n_clusters FROM szs
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- Duplicated-span fraction: the distributed approximation of
    //      exact substring dedup (suffix-array style). Per doc, the
    //      share of its 8-gram instances that also occur in OTHER
    //      docs: explode gram hashes (8 bytes, one md5 each — the
    //      minhash pipeline's shape), find cross-doc grams with a
    //      map-side-combined distinct-doc count, semi-join back, and
    //      divide. Docs above a threshold get their duplicated spans
    //      cut in a real pipeline; here the signal itself is
    //      oracle-checked. Shuffles gram hashes, never text. ----
    QuerySpec("dedup_span_fraction",
      (s, d) => {
        NativeExpressions.register(s)
        // persisted: three consumers (duplicate set, per-doc totals,
        // per-doc hits) would otherwise re-run tokenize+shingle+md5
        val ex = TrackedCache.persist(Tables.documents(s, d)
          .select(col("doc_id"),
            explode(TF.shingles(TF.tokens(col("text")), 8)).as("g"))
          .select(col("doc_id"), h60n(col("g")).as("h")))
        val dup = ex.groupBy(col("h"))
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2).select(col("h"))
        val tot = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
        val hit = ex.join(dup, Seq("h"), "left_semi")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
        tot.join(hit, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_grams"),
            coalesce(col("n_dup"), lit(0L)).as("n_dup"))
          .withColumn("dup_frac",
            col("n_dup").cast("double") / col("n_grams").cast("double"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
              |sh AS (SELECT doc_id, ${shinglesSql(8)} AS sh FROM tok),
              |ex AS (SELECT doc_id, ${h60("g")} AS h
              |  FROM (SELECT doc_id, unnest(sh) AS g FROM sh WHERE len(sh) > 0)),
              |dup AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd
              |  FROM ex GROUP BY h) WHERE nd >= 2),
              |tot AS (SELECT doc_id, count(*) AS n_grams FROM ex GROUP BY 1),
              |hit AS (SELECT doc_id, count(*) AS n_dup FROM ex
              |  WHERE h IN (SELECT h FROM dup) GROUP BY 1)
              |SELECT t.doc_id, n_grams, coalesce(n_dup, 0) AS n_dup,
              |  CAST(coalesce(n_dup, 0) AS DOUBLE) / CAST(n_grams AS DOUBLE) AS dup_frac
              |FROM tot t LEFT JOIN hit USING (doc_id)
              |ORDER BY t.doc_id""".stripMargin)),

    // ---- Duplicated-span REMOVAL — the transform dedup_span_fraction
    //      only measures (the ExactSubstr-style cleanup: rewrite each
    //      doc dropping every token covered by a cross-doc duplicated
    //      8-gram). Scale shape: the global duplicate set is an 8-byte
    //      gram-hash shuffle (text never shuffles); duplicated start
    //      positions come back per doc as one small array, and the
    //      rewrite is a row-local index-aware filter — token i is
    //      dropped iff some duplicated gram starts in [i-7, i]. The
    //      per-token exists() is O(dup_starts) worst case; spam-heavy
    //      docs stay bounded because starts holds only THIS doc's
    //      duplicated grams. ----
    QuerySpec("remove_duplicate_spans",
      (s, d) => {
        NativeExpressions.register(s)
        // tok intentionally NOT pinned: it feeds the gram build and the
        // final rewrite join, but re-scan+tokenize measured free next
        // to the shingle+md5 it avoids, and caching tokenized text is
        // corpus-scale storage at the 100 TB tier
        val tok = Tables.documents(s, d)
          .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
        // persisted: the gram table feeds BOTH the duplicate-set
        // aggregation and the per-doc starts semi-join — without the
        // pin the tokenize+shingle+md5 pipeline runs twice
        val gh = TrackedCache.persist(tok
          .select(col("doc_id"),
            posexplode(TF.shingles(col("toks"), 8)).as(Seq("pos", "g")))
          .select(col("doc_id"), col("pos"), h60n(col("g")).as("h")))
        val dup = gh.groupBy(col("h"))
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2).select(col("h"))
        val starts = gh.join(dup, Seq("h"), "left_semi")
          .groupBy(col("doc_id"))
          .agg(collect_list(col("pos")).as("starts"))
        tok.join(starts, Seq("doc_id"), "left")
          .select(col("doc_id"), col("toks"),
            coalesce(col("starts"), array().cast("array<int>")).as("starts"))
          .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
            expr("filter(toks, (t, i) -> NOT exists(starts, " +
              "s -> s <= i AND i <= s + 7))").as("kept"))
          .select(col("doc_id"), col("n_tokens"),
            (col("n_tokens") - size(col("kept"))).cast("long").as("n_dropped"),
            concat_ws(" ", col("kept")).as("cleaned_text"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
              |shd AS (SELECT doc_id, ${shinglesSql(8)} AS sh
              |  FROM tok),
              |gh AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM
              |  (SELECT doc_id, unnest(list_transform(sh,
              |      (g, i) -> {'pos': i - 1, 'h': ${h60("g")}})) AS u
              |    FROM shd WHERE len(sh) > 0)),
              |dup AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd
              |  FROM gh GROUP BY h) WHERE nd >= 2),
              |ds AS (SELECT doc_id, list(pos) AS starts FROM gh
              |  WHERE h IN (SELECT h FROM dup) GROUP BY doc_id),
              |k AS (SELECT t.doc_id, len(toks)::BIGINT AS n_tokens,
              |    list_filter(toks, (tk, i) -> len(list_filter(
              |      coalesce(starts, []::BIGINT[]),
              |      s -> s <= i - 1 AND i - 1 <= s + 7)) = 0) AS kept
              |  FROM tok t LEFT JOIN ds USING (doc_id))
              |SELECT doc_id, n_tokens,
              |  n_tokens - len(kept)::BIGINT AS n_dropped,
              |  coalesce(array_to_string(kept, ' '), '') AS cleaned_text
              |FROM k ORDER BY doc_id""".stripMargin),
      bench = true),

    // ---- SimHash signatures (16-bit), via per-bit set-count agg. ----
    QuerySpec("dedup_simhash",
      (s, d) => {
        NativeExpressions.register(s)
        val bits = 16
        val ex = Tables.documents(s, d)
          .select(col("doc_id"), explode(TF.tokens(col("text"))).as("t"))
          .select(col("doc_id"), DF.hash32From(h60n(col("t"))).as("h"))
        val agg = ex.groupBy(col("doc_id")).agg(
          DF.bitSums(col("h"), bits).head,
          DF.bitSums(col("h"), bits).tail :+ count(lit(1)).as("total"): _*)
        agg.select(col("doc_id"),
            DF.simhashFromBitSums((0 until bits).map(i => col(s"bit$i")), col("total"))
              .as("simhash"))
          .orderBy(col("doc_id"))
      },
      Some {
        val terms = (0 until 16).map { j =>
          s"""CASE WHEN 2 * coalesce(list_sum(list_transform(toks,
             |    t -> (((${h60("t")} % 4294967296) >> $j) & 1))), 0) > len(toks)
             |  THEN ${1L << j} ELSE 0 END""".stripMargin
        }.mkString("\n  + ")
        s"""WITH tok AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents)
           |SELECT doc_id,
           |  $terms AS simhash
           |FROM tok WHERE len(toks) > 0 ORDER BY doc_id""".stripMargin
      },
      bench = true),

    // ---- SimHash near-dup pairs via pigeonhole band blocking: a pair
    //      within hamming distance 3 differs in at most 3 of the 4
    //      bands, so it SHARES at least one band exactly — the
    //      blocking has zero false negatives, which the oracle proves
    //      by computing the same result as an unblocked all-pairs
    //      hamming scan. Spark side stays bucketed (band equi-join +
    //      bit_count verify), never all-pairs. Signature is 64-bit
    //      (hash64_md5 per token) cut into 4 bands × 16 bits: in-band
    //      bucket space is 2^16 = 65536, so buckets stay near-singleton
    //      and the candidate join is ~linear in n — vs the quadratic
    //      collapse of the old 16-bit/4-bit-band parameterization
    //      (SimhashBandBoundSpec pins the candidate-pair count). The
    //      signature lives as 4 per-band 16-bit values, never one
    //      64-bit long, so bit 63 has no sign pitfall on either
    //      engine; hamming = Σ per-band bit_count(xor). The compact
    //      16-bit dedup_simhash signature query above is unchanged —
    //      it is the reference's signature surface; pairing needs the
    //      wide hash. ----
    QuerySpec("dedup_simhash_pairs",
      (s, d) => {
        NativeExpressions.register(s)
        val sig = TrackedCache.persist(simhash64Bands(s, d))
        val nBands = 4
        val bands = sig.select(
          col("doc_id") +: (0 until nBands).map(b => col(s"band$b")) :+
            explode(array((0 until nBands).map(b =>
              concat_ws(":", lit(b).cast("string"),
                col(s"band$b").cast("string"))): _*)).as("bk"): _*)
        bands.as("a").join(bands.as("b"),
            col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            (0 until nBands).map(b =>
              bit_count(col(s"a.band$b").bitwiseXOR(col(s"b.band$b"))))
              .reduce(_ + _).as("hamming"))
          .filter(col("hamming") <= 3)
          .distinct()
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some {
        val ham = (0 until 4).map(b =>
          s"bit_count(xor(a.band$b, b.band$b))").mkString(" + ")
        s"""$simhashSigSql
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  ($ham)::INTEGER AS hamming
           |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
           |WHERE $ham <= 3
           |ORDER BY doc_a, doc_b""".stripMargin
      },
      bench = true),

    // ---- The band-stats monitor APPLIED to simhash blocking (the
    //      same Σ s·(s−1)/2 arithmetic as lsh_band_stats): per band,
    //      bucket count, max bucket, and the candidate pairs the
    //      equi-join above will materialize. The number the 100 TB
    //      operator watches — when n_pairs stops being ~linear in n,
    //      the signature is too narrow for the corpus and needs more
    //      bits before the join drifts quadratic. ----
    QuerySpec("simhash_band_stats",
      (s, d) => {
        NativeExpressions.register(s)
        val sig = simhash64Bands(s, d)
        sig.select(explode(array((0 until 4).map(b =>
            concat_ws(":", lit(b).cast("string"),
              col(s"band$b").cast("string"))): _*)).as("key"))
          .groupBy(col("key")).agg(count(lit(1)).as("s"))
          .select(split(col("key"), ":").getItem(0).cast("long").as("band"),
            col("s"))
          .groupBy(col("band")).agg(
            count(lit(1)).as("n_buckets"),
            max(col("s")).as("max_bucket"),
            sum(expr("(s * (s - 1)) div 2")).as("n_pairs"))
          .orderBy(col("band"))
      },
      Some(
        s"""$simhashSigSql,
           |k AS (${(0 until 4).map(b =>
              s"SELECT $b AS band, band$b AS v FROM sig").mkString(" UNION ALL ")}),
           |b AS (SELECT band, v, count(*) AS s FROM k GROUP BY 1, 2)
           |SELECT CAST(band AS BIGINT) AS band, count(*) AS n_buckets,
           |  max(s) AS max_bucket,
           |  CAST(sum((s * (s - 1)) // 2) AS BIGINT) AS n_pairs
           |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- 2-gram Jaccard over adjacent-id candidate pairs. ----
    QuerySpec("dedup_ngram_jaccard",
      (s, d) => {
        val sh = Tables.documents(s, d).select(col("doc_id"),
          TF.shingles(TF.tokens(col("text")), 2).as("sh"))
        sh.as("a").join(sh.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            DF.jaccard(col("a.sh"), col("b.sh")).as("jaccard"))
          .orderBy(col("doc_a"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
              |sh AS (SELECT doc_id, list_distinct(${shinglesSql(2)}) AS ds FROM tok),
              |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.ds AS da, b.ds AS db
              |  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1),
              |j AS (SELECT doc_a, doc_b,
              |    CAST(len(list_filter(da, x -> list_contains(db, x))) AS DOUBLE) AS inter,
              |    CAST(len(da) + len(db) AS DOUBLE) AS szsum
              |  FROM p)
              |SELECT doc_a, doc_b,
              |  CASE WHEN szsum - inter = 0.0 THEN 1.0 ELSE inter / (szsum - inter) END AS jaccard
              |FROM j ORDER BY doc_a""".stripMargin)),

    // ---- CONTAINMENT pairs — the near-superset signal Jaccard
    //      dilutes (a doc quoted verbatim inside one 10× its size has
    //      Jaccard ≤ 0.1 but containment 1.0): boilerplate, quoted
    //      replies, templated wrappers. Candidates come from the same
    //      MinHash band blocking as the symmetric near-dup search;
    //      banding recall is Jaccard-driven, so EXTREME size-ratio
    //      supersets can evade the bands — exhaustive containment
    //      would block on shared gram hashes instead (the
    //      dedup_span_fraction equi-join plane); this query is the
    //      moderate-ratio member of that family, with candidates
    //      verified by the exact set ratio. The smaller (contained)
    //      side is reported as inner_id, ties to the lower id. ----
    // ---- ORDER-INSENSITIVE dedup: group documents by the fingerprint
    //      of their SORTED token list — catches templated/reordered
    //      content (navigation boilerplate, shuffled listings, field
    //      reorderings) that exact dedup misses because the bytes
    //      differ and near-dup may miss because few shingles survive a
    //      reorder. Reported per source as distinct-exact vs
    //      distinct-bag fingerprint counts: their gap is exactly the
    //      number of docs identical up to reordering but not bytes
    //      (0 on this synthetic corpus — the report proves the
    //      absence). Scale shape: one row-local sort+hash projection
    //      per doc (token arrays are row-bounded), then a source-keyed
    //      aggregate — identical cost profile to dedup_exact. ----
    QuerySpec("dedup_bag_reordered",
      (s, d) => Tables.documents(s, d)
        .select(col("source"),
          md5(concat_ws(" ", TF.tokens(col("text")))).as("fp_exact"),
          md5(concat_ws(" ", array_sort(TF.tokens(col("text")))))
            .as("fp_bag"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp_exact")).as("n_distinct_exact"),
          countDistinct(col("fp_bag")).as("n_distinct_bag"))
        .select(col("source"), col("n_docs"), col("n_distinct_exact"),
          col("n_distinct_bag"),
          (col("n_distinct_exact") - col("n_distinct_bag"))
            .as("reorder_collisions"))
        .orderBy(col("source")),
      Some(s"""WITH tok AS (SELECT source, ${toksSql("text")} AS toks
              |  FROM documents),
              |fp AS (SELECT source,
              |    md5(array_to_string(toks, ' ')) AS fp_exact,
              |    md5(array_to_string(list_sort(toks), ' ')) AS fp_bag
              |  FROM tok)
              |SELECT source, count(*)::BIGINT AS n_docs,
              |  count(DISTINCT fp_exact)::BIGINT AS n_distinct_exact,
              |  count(DISTINCT fp_bag)::BIGINT AS n_distinct_bag,
              |  (count(DISTINCT fp_exact) - count(DISTINCT fp_bag))::BIGINT
              |    AS reorder_collisions
              |FROM fp GROUP BY source ORDER BY source""".stripMargin)),

    // ---- Term burstiness (Church–Gale): occurrences per CONTAINING
    //      document, tf/df — the signal separating topical terms
    //      (bursty: absent from most docs, repeated where present)
    //      from function words (spread thin everywhere); used to
    //      pick repetition-filter stoplists and tf-idf damping. One
    //      (token, doc) pre-aggregate feeding a vocabulary-scale
    //      (token) aggregate, top-k via TakeOrdered — integer ppm, no
    //      corpus sort. ----
    QuerySpec("term_burstiness",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("token"))
        .groupBy(col("token"), col("doc_id")).agg(count(lit(1)).as("c"))
        .groupBy(col("token"))
        .agg(sum(col("c")).as("tf"), count(lit(1)).as("df"))
        .select(col("token"), col("tf"), col("df"),
          expr("(tf * 1000000) div df").as("burst_ppm"))
        .orderBy(col("burst_ppm").desc, col("token").asc)
        .limit(20),
      Some(s"""WITH tok AS (SELECT doc_id, ${toksSql("text")} AS toks
              |  FROM documents),
              |t AS (SELECT doc_id, unnest(toks) AS token FROM tok),
              |td AS (SELECT token, doc_id, count(*)::BIGINT AS c FROM t
              |  GROUP BY 1, 2),
              |ag AS (SELECT token, sum(c)::BIGINT AS tf,
              |    count(*)::BIGINT AS df FROM td GROUP BY token)
              |SELECT token, tf, df, (tf * 1000000) // df AS burst_ppm
              |FROM ag ORDER BY burst_ppm DESC, token ASC LIMIT 20""".stripMargin)),

    QuerySpec("dedup_containment_pairs",
      (s, d) => {
        val (sh0, _) = minhashShingleBands(s, d)
        val sh = TrackedCache.persist(sh0)
        val bands = TrackedCache.persist(minhashBandsFrom(sh))
        val cand = candidatePairs(bands, "ia", "ib")
        cand.join(sh.as("x"), col("ia") === col("x.doc_id"))
          .join(sh.as("y"), col("ib") === col("y.doc_id"))
          .select(col("ia"), col("ib"),
            size(array_distinct(col("x.sh"))).cast("long").as("la"),
            size(array_distinct(col("y.sh"))).cast("long").as("lb"),
            DF.containment(col("x.sh"), col("y.sh")).as("containment"))
          .filter(col("containment") >= 0.8)
          .select(
            when(col("la") <= col("lb"), col("ia")).otherwise(col("ib"))
              .as("inner_id"),
            when(col("la") <= col("lb"), col("ib")).otherwise(col("ia"))
              .as("outer_id"),
            col("containment"))
          .orderBy(col("inner_id"), col("outer_id"))
      },
      Some(s"""WITH $minhashBandsSql,
              |cand AS ${candPairsSql("ia", "ib")},
              |p AS (SELECT ia, ib,
              |    list_distinct(x.sh) AS da, list_distinct(y.sh) AS db
              |  FROM cand JOIN sh x ON x.doc_id = ia
              |    JOIN sh y ON y.doc_id = ib),
              |cc AS (SELECT ia, ib,
              |    len(da)::BIGINT AS la, len(db)::BIGINT AS lb,
              |    CAST(len(list_filter(da, v -> list_contains(db, v))) AS DOUBLE) AS inter
              |  FROM p),
              |r AS (SELECT ia, ib, la, lb,
              |    CASE WHEN least(la, lb) = 0 THEN 1.0
              |      ELSE inter / CAST(least(la, lb) AS DOUBLE) END AS containment
              |  FROM cc)
              |SELECT CASE WHEN la <= lb THEN ia ELSE ib END AS inner_id,
              |  CASE WHEN la <= lb THEN ib ELSE ia END AS outer_id,
              |  containment
              |FROM r WHERE containment >= 0.8
              |ORDER BY inner_id, outer_id""".stripMargin)),

    // ---- Winnowing fingerprints (the MOSS algorithm) — the LOCAL
    //      fingerprint family: min-of-each-window over token-3-gram
    //      hashes, guaranteeing any shared run of ≥ W+K-1 tokens
    //      leaves a shared fingerprint (operators/Winnowing). Scale
    //      shape: 8-byte gram hashes shuffle (never text) and the
    //      sliding min is a window frame keyed by doc_id. ----
    QuerySpec("winnow_fingerprints",
      (s, d) => Winnowing.fingerprints(Tables.documents(s, d))
        .orderBy(col("doc_id"), col("fp")),
      Some(s"""WITH tok AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
              |shd AS (SELECT doc_id, ${shinglesSql(Winnowing.K)} AS sh FROM tok),
              |h AS (SELECT doc_id,
              |    list_transform(sh, g -> ${h60("'win:' || g")}) AS hs
              |  FROM shd WHERE len(sh) > 0),
              |f AS (SELECT doc_id, unnest(list_distinct(list_transform(
              |    range(1, greatest(len(hs) - ${Winnowing.W - 1}, 1) + 1),
              |    i -> list_min(hs[i:i+${Winnowing.W - 1}])))) AS fp FROM h)
              |SELECT doc_id, fp FROM f
              |ORDER BY doc_id, fp""".stripMargin)),

    // ---- Near-dup pairs from shared winnowed fingerprints — catches
    //      long verbatim overlaps (quotes, boilerplate, license
    //      blocks) between documents whole-set Jaccard dilutes below
    //      its threshold. The document-frequency cut (df ≤ 20) drops
    //      corpus-wide boilerplate fingerprints BEFORE the equi-join,
    //      the same stop-the-heavy-hitter discipline as the LSH band
    //      monitors: no posting list ever squares. ----
    QuerySpec("dedup_winnow_pairs",
      (s, d) => {
        // no pin needed since r17: sharedPairs consumes the
        // fingerprint frame exactly once (bounded posting-list
        // aggregate instead of df-cut + self-join)
        Winnowing.sharedPairs(Winnowing.fingerprints(Tables.documents(s, d)),
            maxDf = 20L, minShared = 2L)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
              |shd AS (SELECT doc_id, ${shinglesSql(Winnowing.K)} AS sh FROM tok),
              |h AS (SELECT doc_id,
              |    list_transform(sh, g -> ${h60("'win:' || g")}) AS hs
              |  FROM shd WHERE len(sh) > 0),
              |f AS (SELECT doc_id, unnest(list_distinct(list_transform(
              |    range(1, greatest(len(hs) - ${Winnowing.W - 1}, 1) + 1),
              |    i -> list_min(hs[i:i+${Winnowing.W - 1}])))) AS fp FROM h),
              |rare AS (SELECT fp FROM (SELECT fp, count(*) AS df
              |  FROM f GROUP BY fp) WHERE df <= 20),
              |k AS (SELECT doc_id, fp FROM f
              |  WHERE fp IN (SELECT fp FROM rare)),
              |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |    count(*) AS n_shared
              |  FROM k a JOIN k b ON a.fp = b.fp AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2)
              |SELECT doc_a, doc_b, n_shared FROM p WHERE n_shared >= 2
              |ORDER BY doc_a, doc_b""".stripMargin),
      bench = true),

    // ---- Text analysis: tokens, BPE-ish units, punctuation, lang-ID,
    //      stopword ratio, composite quality score. Tokenize-once
    //      shape: the base projection scans the text exactly 8 times
    //      (1 token split, 1 bpeish + 1 punct regex, 5 per-language
    //      alternation counts incl. stopwords) and every downstream
    //      stat derives from those attributes — vs one regex pass per
    //      marker word (~25 scans/row) before. ----
    QuerySpec("text_stats",
      (s, d) => textStatsFrame(s, d).orderBy(col("doc_id")),
      Some(s"$textStatsCoreSql\nORDER BY doc_id"),
      bench = true),

    // ---- Language-ID EVALUATION: the marker-heuristic's confusion
    //      matrix against the corpus's labeled lang column — the
    //      accuracy audit run before trusting lang-ID for stratified
    //      sampling or filtering (text_stats predicts; this grades).
    //      One doc-keyed join of prediction to label, then a
    //      |langs|²-bounded aggregate. ----
    QuerySpec("langid_confusion",
      (s, d) => {
        val pred = textStatsFrame(s, d)
          .select(col("doc_id"), col("lang").as("predicted"))
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang").as("labeled"))
          .join(pred, Seq("doc_id"))
          .groupBy(col("labeled"), col("predicted"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("labeled"), col("predicted"))
      },
      Some(s"""SELECT d.lang AS labeled, st.lang AS predicted,
              |  count(*)::BIGINT AS n_docs
              |FROM documents d JOIN ($textStatsCoreSql) st
              |  ON d.doc_id = st.doc_id
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- The canonical pretraining quality filter on top of the same
    //      tokenize-once stats: keep fluent-English, mid-length docs.
    //      Filters compose with the stats projection in one pass —
    //      no second scan of the corpus. ----
    QuerySpec("filter_quality_docs",
      (s, d) => textStatsFrame(s, d)
        .filter(col("lang") === "en" && col("quality") >= 0.5 &&
          col("n_tokens").between(10, 5000))
        .select(col("doc_id"), col("n_tokens"), col("quality"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id, n_tokens, quality FROM ($textStatsCoreSql)
              |WHERE lang = 'en' AND quality >= 0.5
              |  AND n_tokens BETWEEN 10 AND 5000
              |ORDER BY doc_id""".stripMargin)),

    // ---- Quality × length HEATMAP: the 2-D profile read before
    //      setting any filter threshold — where the corpus mass sits
    //      jointly, not marginally. Buckets are fixed grids (quality
    //      deciles via floor(q·10) — both engines compute the same
    //      IEEE double from the same exact inputs, so the floor lands
    //      identically; log-ish token buckets as CASE): one scan
    //      projection plus a grid-bounded aggregate. ----
    QuerySpec("quality_length_heatmap",
      (s, d) => {
        val st = textStatsFrame(s, d)
        val qb = least(floor(col("quality") * 10).cast("long"), lit(9L))
        val lb = when(col("n_tokens") < 32, 0)
          .when(col("n_tokens") < 64, 1)
          .when(col("n_tokens") < 128, 2)
          .when(col("n_tokens") < 256, 3).otherwise(4)
        st.select(qb.as("q_decile"), lb.as("len_bucket"))
          .groupBy(col("q_decile"), col("len_bucket"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("q_decile"), col("len_bucket"))
      },
      Some(s"""SELECT least(floor(quality * 10)::BIGINT, 9) AS q_decile,
              |  CASE WHEN n_tokens < 32 THEN 0 WHEN n_tokens < 64 THEN 1
              |    WHEN n_tokens < 128 THEN 2 WHEN n_tokens < 256 THEN 3
              |    ELSE 4 END AS len_bucket,
              |  count(*)::BIGINT AS n_docs
              |FROM ($textStatsCoreSql)
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- TRAIN a linear quality classifier on-cluster — the
    //      fasttext-style shape (hashed bag-of-words → linear model)
    //      every production quality/domain filter applies, with the
    //      heuristic quality score as the teacher. Batch perceptron:
    //      each sweep is two map-side-combined shuffles and the whole
    //      run is integer-exact, so the oracle replays training
    //      bit-for-bit — the KMeans determinism contract, for a
    //      classifier (operators/LinearClassifier). ----
    QuerySpec("train_quality_classifier",
      (s, d) => {
        val (feat, labels) = qcFeatLabels(s, d)
        LinearClassifier.fit(feat, labels, iters = QcIters)
          .filter(col("w") =!= 0L)
          .orderBy(col("bucket"))
      },
      Some(s"""WITH $qcTrainSql
              |SELECT bucket, w FROM w$QcIters WHERE w <> 0
              |ORDER BY bucket""".stripMargin)),

    // ---- APPLY the trained classifier: per-document margin and keep
    //      decision, alongside the teacher label it was trained
    //      against. Scoring is one broadcast join against the
    //      bucket-count weight vector plus a per-document sum —
    //      nothing corpus-scale ever sits on the driver. ----
    QuerySpec("quality_classifier_score",
      (s, d) => {
        val (feat, labels) = qcFeatLabels(s, d)
        val w = qcFittedWeights(s, d, feat, labels)
        labels.join(LinearClassifier.margins(feat, w), Seq("id"), "left")
          .select(col("id").as("doc_id"),
            coalesce(col("margin"), lit(0L)).as("margin"),
            (coalesce(col("margin"), lit(0L)) > 0L).as("keep"),
            col("y").as("teacher_y"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $qcTrainSql,
              |sc AS (SELECT f.id, CAST(sum(f.cnt * coalesce(w.w, 0))
              |    AS BIGINT) AS margin
              |  FROM feat f LEFT JOIN w$QcIters w USING (bucket)
              |  GROUP BY f.id)
              |SELECT l.id AS doc_id, coalesce(margin, 0) AS margin,
              |  coalesce(margin, 0) > 0 AS keep, y AS teacher_y
              |FROM lbl l LEFT JOIN sc USING (id)
              |ORDER BY doc_id""".stripMargin),
      bench = true),

    // ---- EVALUATE the trained classifier: exact tie-aware ROC-AUC
    //      against the teacher, computed WITHOUT a corpus sort.
    //      Margins collapse to a (margin → pos/neg count) histogram —
    //      one map-side-combined aggregate, cardinality = distinct
    //      integer margins — and the below-cumulative runs over that
    //      tiny frame (the token_length_quantiles metadata-window
    //      pattern). The Mann–Whitney numerator is doubled so
    //      half-credit ties stay integer: auc_num = Σ_v np·(2·nn_below
    //      + nn), auc_den = 2·P·N, and the ppm division goes through
    //      DECIMAL(38,0) ↔ HUGEINT so the rounding is identical in
    //      both engines (the big-integer-gate pattern). ----
    QuerySpec("classifier_eval_auc",
      (s, d) => {
        val (feat, labels) = qcFeatLabels(s, d)
        val cum = qcMarginHist(s, d, feat, labels).withColumn("nn_below",
          coalesce(sum(col("nn")).over(Window.orderBy(col("margin"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        cum.agg(
            coalesce(sum(col("np")), lit(0L)).as("n_pos"),
            coalesce(sum(col("nn")), lit(0L)).as("n_neg"),
            coalesce(sum(col("np") * (lit(2L) * col("nn_below") + col("nn"))),
              lit(0L)).as("auc_num"))
          .select(col("n_pos"), col("n_neg"), col("auc_num"),
            (lit(2L) * col("n_pos") * col("n_neg")).as("auc_den"),
            expr("CAST((CAST(auc_num AS DECIMAL(38,0)) * 1000000) div " +
              "nullif(CAST(2 AS DECIMAL(38,0)) * n_pos * n_neg, 0) AS BIGINT)")
              .as("auc_ppm"))
      },
      Some(s"""WITH $qcTrainSql,
              |$qcHistSql,
              |c AS (SELECT np, nn, coalesce(sum(nn) OVER (ORDER BY margin
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |    AS nn_below FROM h),
              |t AS (SELECT coalesce(sum(np), 0)::BIGINT AS n_pos,
              |    coalesce(sum(nn), 0)::BIGINT AS n_neg,
              |    coalesce(sum(np * (2 * nn_below + nn)), 0)::BIGINT AS auc_num
              |  FROM c)
              |SELECT n_pos, n_neg, auc_num,
              |  CAST(2 * n_pos * n_neg AS BIGINT) AS auc_den,
              |  CAST((auc_num::HUGEINT * 1000000)
              |    // nullif(2::HUGEINT * n_pos * n_neg, 0) AS BIGINT) AS auc_ppm
              |FROM t""".stripMargin)),

    // ---- The classifier's full precision/recall CURVE: one row per
    //      DISTINCT margin threshold t (predict keep iff margin ≥ t),
    //      tp/fp by a descending cumulative over the same margin
    //      histogram, fn against a broadcast 1-row positive total —
    //      the whole curve costs one value-domain-scale window, never
    //      a per-threshold corpus pass. ppm columns are exact integer
    //      rationals (tp ≤ ~9×10¹² before the ×10⁶ needs the decimal
    //      widening auc_ppm uses). ----
    QuerySpec("classifier_pr_curve",
      (s, d) => {
        val (feat, labels) = qcFeatLabels(s, d)
        val hist = TrackedCache.persist(qcMarginHist(s, d, feat, labels))
        val desc = Window.orderBy(col("margin").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val totals = broadcast(hist.agg(
          coalesce(sum(col("np")), lit(0L)).as("p_total")))
        hist.withColumn("tp", sum(col("np")).over(desc))
          .withColumn("fp", sum(col("nn")).over(desc))
          .crossJoin(totals)
          .select(col("margin").as("threshold"), col("tp"), col("fp"),
            (col("p_total") - col("tp")).as("fn"),
            expr("(tp * 1000000) div (tp + fp)").as("precision_ppm"),
            expr("(tp * 1000000) div nullif(p_total, 0)").as("recall_ppm"))
          .orderBy(col("threshold"))
      },
      Some(s"""WITH $qcTrainSql,
              |$qcHistSql,
              |c AS (SELECT margin, sum(np) OVER w AS tp, sum(nn) OVER w AS fp
              |  FROM h WINDOW w AS (ORDER BY margin DESC
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              |t AS (SELECT coalesce(sum(np), 0)::BIGINT AS p_total FROM h)
              |SELECT margin AS threshold, tp::BIGINT AS tp, fp::BIGINT AS fp,
              |  CAST(p_total - tp AS BIGINT) AS fn,
              |  ((tp * 1000000) // (tp + fp))::BIGINT AS precision_ppm,
              |  ((tp * 1000000) // nullif(p_total, 0))::BIGINT AS recall_ppm
              |FROM c CROSS JOIN t ORDER BY threshold""".stripMargin)),

    // ---- CALIBRATE the keep threshold to a target keep RATE — the
    //      production deployment step: a corpus filter is budgeted
    //      ("keep the best 25%"), not thresholded at the perceptron's
    //      raw 0. Per target fraction, the answer is the most
    //      permissive margin threshold whose kept-count stays within
    //      floor(pct·n/100) — exact integer ranks over the descending
    //      cumulative of the margin histogram, the token_length_
    //      quantiles shape pointed backwards. The histogram × 3-target
    //      non-equi join is histogram-scale; n derives from the
    //      persisted histogram, so the corpus is scored ONCE. ----
    QuerySpec("classifier_threshold_for_rate",
      (s, d) => {
        val (feat, labels) = qcFeatLabels(s, d)
        val hist = TrackedCache.persist(qcMarginHist(s, d, feat, labels))
        val kept = hist.withColumn("kept",
          sum(col("np") + col("nn")).over(Window.orderBy(col("margin").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val n = hist.agg(coalesce(sum(col("np") + col("nn")), lit(0L)))
          .head().getLong(0)
        import s.implicits._
        val targets = Seq(10, 25, 50).map(pct => (pct, pct * n / 100))
        kept.join(broadcast(targets.toDF("pct", "target_n")),
            col("kept") <= col("target_n"))
          .groupBy(col("pct"), col("target_n"))
          .agg(min(col("margin")).as("threshold"),
            max(col("kept")).as("n_kept"))
          .orderBy(col("pct"))
      },
      Some(s"""WITH $qcTrainSql,
              |$qcHistSql,
              |c AS (SELECT margin, sum(np + nn) OVER (ORDER BY margin DESC
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS kept
              |  FROM h),
              |n AS (SELECT coalesce(sum(np + nn), 0) AS n FROM h),
              |tr AS (SELECT pct, (pct * n) // 100 AS target_n
              |  FROM (SELECT unnest([10, 25, 50]) AS pct) CROSS JOIN n)
              |SELECT pct, target_n::BIGINT AS target_n,
              |  min(margin) AS threshold, max(kept)::BIGINT AS n_kept
              |FROM c JOIN tr ON kept <= target_n
              |GROUP BY pct, target_n ORDER BY pct""".stripMargin)),

    // ---- TOKEN-budget selection: the budgeted-selection primitive —
    //      "fill a B-token training budget with the best documents" —
    //      which doc-rate calibration cannot express, because what a
    //      pretraining run spends is tokens, not documents. Per budget
    //      (25/50/75% of corpus tokens): the most permissive quality
    //      threshold (micro-units) whose kept TOKEN mass stays within
    //      budget, plus the exact kept doc/token counts. One corpus
    //      pass builds a (quality → Σtokens, docs) histogram; the
    //      cumulative runs over that value-domain frame (the Packing
    //      metadata-window pattern), budgets derive from the same
    //      histogram via a broadcast 1-row totals cross-join, and the
    //      histogram × 3-budget non-equi join is histogram-scale. ----
    QuerySpec("token_budget_threshold",
      (s, d) => {
        val hist = TrackedCache.persist(textStatsFrame(s, d)
          .select(floor(col("quality") * 1000000.0).cast("long").as("q"),
            col("n_tokens").cast("long").as("t"))
          .groupBy(col("q"))
          .agg(sum(col("t")).as("toks"), count(lit(1)).as("docs")))
        val tot = broadcast(hist.agg(
          coalesce(sum(col("toks")), lit(0L)).as("total_toks")))
        val cum = hist
          .withColumn("cum_toks", sum(col("toks")).over(
            Window.orderBy(col("q").desc)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("cum_docs", sum(col("docs")).over(
            Window.orderBy(col("q").desc)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        import s.implicits._
        val budgets = broadcast(Seq(25, 50, 75).toDF("pct"))
        // LEFT join from the budget frame: a budget the single most
        // permissive bucket already overshoots has no qualifying rows —
        // it reports threshold NULL / counts 0 (threshold_by_source's
        // convention) instead of silently dropping the pct row
        val qualifying = cum.crossJoin(tot).join(budgets,
            col("cum_toks") * 100 <= col("pct") * col("total_toks"))
          .groupBy(col("pct"))
          .agg(min(col("q")).as("q_threshold"),
            max(col("cum_docs")).as("qual_docs"),
            max(col("cum_toks")).as("qual_toks"))
        budgets.crossJoin(tot)
          .select(col("pct"),
            expr("(pct * total_toks) div 100").as("budget_toks"))
          .join(broadcast(qualifying), Seq("pct"), "left")
          .select(col("pct"), col("budget_toks"), col("q_threshold"),
            coalesce(col("qual_docs"), lit(0L)).as("n_docs"),
            coalesce(col("qual_toks"), lit(0L)).as("n_tokens"))
          .orderBy(col("pct"))
      },
      Some(s"""WITH h AS (SELECT CAST(floor(quality * 1000000.0) AS BIGINT)
              |    AS q, CAST(sum(n_tokens) AS BIGINT) AS toks,
              |    count(*)::BIGINT AS docs
              |  FROM ($textStatsCoreSql) GROUP BY 1),
              |t AS (SELECT coalesce(sum(toks), 0)::BIGINT AS total_toks
              |  FROM h),
              |c AS (SELECT q,
              |    sum(toks) OVER w AS cum_toks, sum(docs) OVER w AS cum_docs
              |  FROM h WINDOW w AS (ORDER BY q DESC
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              |b AS (SELECT unnest([25, 50, 75]) AS pct),
              |f AS (SELECT pct, ((pct * total_toks) // 100)::BIGINT
              |    AS budget_toks FROM b CROSS JOIN t),
              |a AS (SELECT pct, min(q) AS q_threshold,
              |    max(cum_docs)::BIGINT AS qual_docs,
              |    max(cum_toks)::BIGINT AS qual_toks
              |  FROM c CROSS JOIN t JOIN b ON cum_toks * 100 <= pct * total_toks
              |  GROUP BY pct)
              |SELECT f.pct, f.budget_toks, a.q_threshold,
              |  coalesce(a.qual_docs, 0)::BIGINT AS n_docs,
              |  coalesce(a.qual_toks, 0)::BIGINT AS n_tokens
              |FROM f LEFT JOIN a ON f.pct = a.pct
              |ORDER BY f.pct""".stripMargin)),

    // ---- Curriculum ordering: the data ORDER for quality-staged
    //      training — highest tier first, a deterministic shuffle
    //      WITHIN each tier (anti-curriculum = flip the stage sign).
    //      Runs through Shuffle.withStagedPosition: per-(stage,
    //      hash-bucket) bounded windows, ONE metadata-scale offsets
    //      window over stages × buckets rows, broadcast join back —
    //      the corpus is never sorted in one task. The oracle states
    //      the SPEC (a single global row_number) that the distributed
    //      ranking must equal exactly. ----
    QuerySpec("curriculum_order",
      (s, d) => {
        val tiers = textStatsFrame(s, d).select(col("doc_id"),
          when(col("quality") < 0.35, 0).when(col("quality") < 0.5, 1)
            .when(col("quality") < 0.6, 2).otherwise(3).as("tier"))
        val staged = tiers
          .withColumn("stage", lit(3) - col("tier"))
          .withColumn("h",
            TF.hash60(concat(lit("cur:"), col("doc_id").cast("string"))))
        Shuffle.withStagedPosition(staged, "stage", "h", "doc_id",
            buckets = 32)
          .select(col("doc_id"), col("tier"), col("pos"))
          .orderBy(col("pos"))
      },
      Some(s"""WITH lbl AS (SELECT doc_id,
              |    CASE WHEN quality < 0.35 THEN 0 WHEN quality < 0.5 THEN 1
              |      WHEN quality < 0.6 THEN 2 ELSE 3 END AS tier
              |  FROM ($textStatsCoreSql)),
              |st AS (SELECT doc_id, tier, 3 - tier AS stage,
              |    ${h60("'cur:' || CAST(doc_id AS VARCHAR)")} AS h
              |  FROM lbl)
              |SELECT doc_id, tier,
              |  row_number() OVER (ORDER BY stage, h, doc_id) - 1 AS pos
              |FROM st ORDER BY pos""".stripMargin)),

    // ---- Per-SOURCE threshold calibration: the per-domain deployment
    //      budget ("keep each domain's best 25%") — the global
    //      calibration above lets a strong domain crowd out weak ones;
    //      real mixes budget per source. Label-free: margins + the
    //      source column only. The cumulative runs over per-source
    //      margin HISTOGRAMS (keyed window, histogram-scale frame —
    //      never the corpus), targets are exact integer ranks, and a
    //      source whose single top histogram bucket overshoots its
    //      budget reports threshold NULL / n_kept 0 instead of
    //      vanishing. ----
    QuerySpec("threshold_by_source",
      (s, d) => {
        val (feat, labels) = qcFeatLabels(s, d)
        val w = qcFittedWeights(s, d, feat, labels)
        val src = Tables.documents(s, d)
          .select(col("doc_id").as("id"), col("source"))
        val hist = TrackedCache.persist(
          LinearClassifier.margins(feat, w).join(src, Seq("id"))
            .groupBy(col("source"), col("margin"))
            .agg(count(lit(1)).as("n")))
        val tot = broadcast(hist.groupBy(col("source"))
          .agg(sum(col("n")).as("n_src"))
          .withColumn("target_n", expr("(25 * n_src) div 100")))
        val kept = hist.withColumn("kept",
          sum(col("n")).over(Window.partitionBy(col("source"))
            .orderBy(col("margin").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val q = kept.join(tot, Seq("source"))
          .filter(col("kept") <= col("target_n"))
          .groupBy(col("source"))
          .agg(min(col("margin")).as("threshold"),
            max(col("kept")).as("n_kept"))
        tot.join(q, Seq("source"), "left")
          .select(col("source"), col("n_src"), col("target_n"),
            col("threshold"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"))
          .orderBy(col("source"))
      },
      Some(s"""WITH $qcTrainSql,
              |$qcHistSql,
              |hs AS (SELECT d.source, sc.margin, count(*)::BIGINT AS n
              |  FROM sc JOIN documents d ON d.doc_id = sc.id
              |  GROUP BY 1, 2),
              |stot AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_src,
              |    (25 * CAST(sum(n) AS BIGINT)) // 100 AS target_n
              |  FROM hs GROUP BY 1),
              |sc2 AS (SELECT source, margin, sum(n) OVER (
              |    PARTITION BY source ORDER BY margin DESC
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS kept
              |  FROM hs),
              |sq AS (SELECT source, min(margin) AS threshold,
              |    max(kept)::BIGINT AS n_kept
              |  FROM sc2 JOIN stot USING (source)
              |  WHERE kept <= target_n GROUP BY 1)
              |SELECT t.source, t.n_src, t.target_n, sq.threshold,
              |  coalesce(sq.n_kept, 0)::BIGINT AS n_kept
              |FROM stot t LEFT JOIN sq USING (source)
              |ORDER BY source""".stripMargin)),

    // ---- TRAIN the one-of-C tier router: per-class floor-mean
    //      centroids over per-mille ratio features
    //      (operators/NearestCentroid), teacher = the heuristic
    //      quality score in 4 tiers. The fitted model is C·(buckets+1)
    //      longs of driver metadata; the oracle replays featurization
    //      and training bit-for-bit (floor divisions throughout). ----
    QuerySpec("train_tier_centroids",
      (s, d) => {
        val (vecs, labels) = dcVecsLabels(s, d)
        import s.implicits._
        NearestCentroid.fit(vecs, labels)
          .flatMap(c => c.v.zipWithIndex.collect {
            case (x, pos) if x != 0L => (c.id.toInt, pos, x)
          })
          .sortBy(t => (t._1, t._2))
          .toDF("cls", "pos", "c")
      },
      Some(s"""WITH $dcTrainSql
              |SELECT cls::INTEGER AS cls, pos::INTEGER AS pos, c
              |FROM c WHERE c <> 0 ORDER BY cls, pos""".stripMargin)),

    // ---- The trained router's confusion matrix over the corpus —
    //      the first artifact anyone inspects after training. 81%
    //      diagonal at sf0.01 vs the 49% majority floor. Prediction
    //      is a shuffle-free literal-centroid projection; the matrix
    //      itself is a ≤ C² aggregate. ----
    QuerySpec("tier_confusion_matrix",
      (s, d) => {
        val name = typedLit(TierNames)
        dcPredFrame(s, d).groupBy(col("y"), col("pred"))
          .agg(count(lit(1)).as("n"))
          .select(element_at(name, col("y") + 1).as("true_tier"),
            element_at(name, col("pred") + 1).as("pred_tier"), col("n"))
          .orderBy(col("true_tier"), col("pred_tier"))
      },
      Some(s"""WITH $dcTrainSql,
              |$dcPredSql,
              |tn AS (SELECT * FROM (VALUES ${TierNames.zipWithIndex
                .map { case (n, i) => s"($i, '$n')" }
                .mkString(", ")}) AS t(cls, name))
              |SELECT tt.name AS true_tier, tp.name AS pred_tier,
              |  count(*)::BIGINT AS n
              |FROM pred p JOIN lbl l USING (id)
              |  JOIN tn tt ON tt.cls = l.y
              |  JOIN tn tp ON tp.cls = p.pred
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      bench = true),

    // ---- Per-tier evaluation report: tp/fp/fn and exact ppm
    //      precision/recall/F1 (F1 = 2tp/(2tp+fp+fn) — one integer
    //      division, no float intermediates, so both engines agree to
    //      the last digit). Class-scale frames throughout. ----
    QuerySpec("tier_classifier_report",
      (s, d) => {
        val preds = TrackedCache.persist(dcPredFrame(s, d))
        import s.implicits._
        val clsDf = broadcast(TierNames.zipWithIndex.toDF("tier", "cls"))
        val tp = preds.filter(col("y") === col("pred"))
          .groupBy(col("y").as("cls")).agg(count(lit(1)).as("tp"))
        val fp = preds.filter(col("y") =!= col("pred"))
          .groupBy(col("pred").as("cls")).agg(count(lit(1)).as("fp"))
        val fn = preds.filter(col("y") =!= col("pred"))
          .groupBy(col("y").as("cls")).agg(count(lit(1)).as("fn"))
        clsDf.join(tp, Seq("cls"), "left").join(fp, Seq("cls"), "left")
          .join(fn, Seq("cls"), "left")
          .select(col("tier"),
            coalesce(col("tp"), lit(0L)).as("tp"),
            coalesce(col("fp"), lit(0L)).as("fp"),
            coalesce(col("fn"), lit(0L)).as("fn"))
          .select(col("tier"), col("tp"), col("fp"), col("fn"),
            expr("(tp * 1000000) div nullif(tp + fp, 0)")
              .as("precision_ppm"),
            expr("(tp * 1000000) div nullif(tp + fn, 0)").as("recall_ppm"),
            expr("(2 * tp * 1000000) div nullif(2 * tp + fp + fn, 0)")
              .as("f1_ppm"))
          .orderBy(col("tier"))
      },
      Some(s"""WITH $dcTrainSql,
              |$dcPredSql,
              |tn AS (SELECT * FROM (VALUES ${TierNames.zipWithIndex
                .map { case (n, i) => s"($i, '$n')" }
                .mkString(", ")}) AS t(cls, name)),
              |j AS (SELECT l.y, p.pred FROM pred p JOIN lbl l USING (id)),
              |tp AS (SELECT y AS cls, count(*)::BIGINT AS tp FROM j
              |  WHERE y = pred GROUP BY 1),
              |fp AS (SELECT pred AS cls, count(*)::BIGINT AS fp FROM j
              |  WHERE y <> pred GROUP BY 1),
              |fn AS (SELECT y AS cls, count(*)::BIGINT AS fn FROM j
              |  WHERE y <> pred GROUP BY 1),
              |rep AS (SELECT c.name AS tier,
              |    coalesce(tp.tp, 0)::BIGINT AS tp,
              |    coalesce(fp.fp, 0)::BIGINT AS fp,
              |    coalesce(fn.fn, 0)::BIGINT AS fn
              |  FROM tn c LEFT JOIN tp ON tp.cls = c.cls
              |    LEFT JOIN fp ON fp.cls = c.cls
              |    LEFT JOIN fn ON fn.cls = c.cls)
              |SELECT tier, tp, fp, fn,
              |  (tp * 1000000) // nullif(tp + fp, 0) AS precision_ppm,
              |  (tp * 1000000) // nullif(tp + fn, 0) AS recall_ppm,
              |  (2 * tp * 1000000) // nullif(2 * tp + fp + fn, 0) AS f1_ppm
              |FROM rep ORDER BY tier""".stripMargin)),

    // ---- Incremental dedup: the daily-increment shape — which docs
    //      of the incoming batch (source src0) are NOT already in the
    //      standing corpus. An anti-join that shuffles 16-byte
    //      fingerprints, never documents; when the increment is small
    //      relative to the corpus, AQE turns its side into the
    //      broadcast build. ----
    QuerySpec("dedup_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val batch = docs.filter(col("source") === "src0")
          .select(col("doc_id"), TF.contentFingerprint(col("text")).as("fp"))
        val corpus = docs.filter(col("source") =!= "src0")
          .select(TF.contentFingerprint(col("text")).as("fp"))
        batch.join(corpus, Seq("fp"), "left_anti")
          .select(col("doc_id"), col("fp"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH fp AS (SELECT doc_id, source,
              |    md5(array_to_string(list_sort(list_distinct(${toksSql("text")})), ' ')) AS fp
              |  FROM documents)
              |SELECT doc_id, fp FROM fp
              |WHERE source = 'src0' AND fp NOT IN (
              |  SELECT fp FROM fp WHERE source <> 'src0')
              |ORDER BY doc_id""".stripMargin)),

    // ---- Per-source quality quotas: keep each source's k best-quality
    //      docs (the per-domain cap every web-curation pipeline runs).
    //      Ranking goes through the bounded-heap `topk_pairs` aggregate
    //      — the map side reduces every partition to ≤k rows per
    //      source, so the exchange carries O(sources×k) where a
    //      row_number window would shuffle and sort the corpus.
    //      Quality is quantized to integer micro-units for the ord key;
    //      ties break on doc_id, so both engines rank identically. ----
    QuerySpec("sample_quota_by_source",
      (s, d) => {
        NativeExpressions.register(s)
        textStatsFrame(s, d, withSource = true)
          .select(col("source"), col("doc_id"),
            floor(col("quality") * 1000000.0).cast("long").as("q"))
          .groupBy(col("source"))
          .agg(call_function("topk_pairs", col("q"), col("doc_id"),
            lit(10)).as("top"))
          .select(col("source"), posexplode(col("top")).as(Seq("pos", "p")))
          .select(col("source"), (col("pos") + 1).cast("long").as("rnk"),
            col("p.id").as("doc_id"), col("p.ord").as("q"))
          .orderBy(col("source"), col("rnk"))
      },
      Some(s"""WITH st AS (${textStatsSql(", source")}),
              |q AS (SELECT source, doc_id,
              |    CAST(floor(quality * 1000000.0) AS BIGINT) AS q FROM st),
              |r AS (SELECT *, row_number() OVER (PARTITION BY source
              |    ORDER BY q DESC, doc_id ASC) AS rnk FROM q)
              |SELECT source, rnk, doc_id, q FROM r WHERE rnk <= 10
              |ORDER BY source, rnk""".stripMargin)),

    // ---- Preference-pair mining — reward-model / DPO data prep from
    //      quality signals: per source, pair its best documents
    //      (chosen) against its worst (rejected), within-source so the
    //      pair isolates QUALITY rather than domain. Both extremes
    //      come off the bounded-heap aggregate (top-2 on q, top-2 on
    //      −q), so the exchange carries O(sources×k) rows at any
    //      corpus size; the strict chosen_q > rejected_q guard drops
    //      degenerate equal-quality pairs. ----
    QuerySpec("preference_pairs",
      (s, d) => {
        NativeExpressions.register(s)
        // persisted: the quality frame feeds both extremes
        val q = TrackedCache.persist(textStatsFrame(s, d, withSource = true)
          .select(col("source"), col("doc_id"),
            floor(col("quality") * 1000000.0).cast("long").as("q")))
        val top = q.groupBy(col("source"))
          .agg(call_function("topk_pairs", col("q"), col("doc_id"),
            lit(2)).as("t"))
          .select(col("source"), explode(col("t")).as("p"))
          .select(col("source"), col("p.id").as("chosen_id"),
            col("p.ord").as("chosen_q"))
        val bot = q.groupBy(col("source"))
          .agg(call_function("topk_pairs", -col("q"), col("doc_id"),
            lit(2)).as("t"))
          .select(col("source"), explode(col("t")).as("p"))
          .select(col("source"), col("p.id").as("rejected_id"),
            (-col("p.ord")).as("rejected_q"))
        top.join(bot, Seq("source"))
          .filter(col("chosen_q") > col("rejected_q"))
          .orderBy(col("source"), col("chosen_id"), col("rejected_id"))
      },
      Some(s"""WITH st AS (${textStatsSql(", source")}),
              |q AS (SELECT source, doc_id,
              |    CAST(floor(quality * 1000000.0) AS BIGINT) AS q FROM st),
              |rt AS (SELECT *, row_number() OVER (PARTITION BY source
              |    ORDER BY q DESC, doc_id ASC) AS rnk FROM q),
              |rb AS (SELECT *, row_number() OVER (PARTITION BY source
              |    ORDER BY q ASC, doc_id ASC) AS rnk FROM q),
              |t AS (SELECT source, doc_id AS chosen_id, q AS chosen_q
              |  FROM rt WHERE rnk <= 2),
              |b AS (SELECT source, doc_id AS rejected_id, q AS rejected_q
              |  FROM rb WHERE rnk <= 2)
              |SELECT t.source AS source, chosen_id, chosen_q,
              |  rejected_id, rejected_q
              |FROM t JOIN b ON t.source = b.source
              |WHERE chosen_q > rejected_q
              |ORDER BY t.source, chosen_id, rejected_id""".stripMargin)),

    // ---- ANN baseline: brute-force top-10 neighbors for 3 query
    //      vectors, integer-exact via fixed-point quantization. ----
    QuerySpec("sim_topk_bruteforce",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), SF.quantize(col("embedding")).as("v"))
        val q = emb.filter(col("vec_id").isin(0L, 1L, 2L))
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("dot").desc, col("neighbor_id").asc)
        NativeExpressions.register(s)
        emb.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("neighbor_id"),
            call_function("dot_i64", col("qv"), col("v")).as("dot"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 10)
          .orderBy(col("q_id"), col("rnk"))
      },
      Some("""WITH qv AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
             |  FROM embeddings),
             |q AS (SELECT vec_id AS q_id, v AS qv FROM qv WHERE vec_id IN (0, 1, 2)),
             |dots AS (SELECT q_id, a.vec_id AS neighbor_id,
             |    CAST(list_sum(list_transform(list_zip(qv, a.v), p -> p[1] * p[2])) AS BIGINT) AS dot
             |  FROM qv a CROSS JOIN q WHERE a.vec_id <> q_id),
             |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
             |    ORDER BY dot DESC, neighbor_id ASC) AS rnk FROM dots)
             |SELECT q_id, neighbor_id, dot, rnk FROM r WHERE rnk <= 10
             |ORDER BY q_id, rnk""".stripMargin),
      bench = true),

    // ---- The same brute-force top-k through the native bounded-heap
    //      AGGREGATE (functions/TopKAggregate) instead of a window:
    //      map-side partial reduction caps each partition's
    //      contribution at k rows, so the exchange carries
    //      O(queries × k) — the window form shuffles and sorts every
    //      candidate. Same oracle as sim_topk_bruteforce: the DuckDB
    //      window formulation proves the aggregate's ranking
    //      (ord DESC, id ASC) is exactly row_number's. ----
    QuerySpec("sim_topk_agg",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), SF.quantize(col("embedding")).as("v"))
        val q = emb.filter(col("vec_id").isin(0L, 1L, 2L))
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
        NativeExpressions.register(s)
        emb.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("neighbor_id"),
            call_function("dot_i64", col("qv"), col("v")).as("dot"))
          .groupBy(col("q_id"))
          .agg(call_function("topk_pairs", col("dot"), col("neighbor_id"),
            lit(10)).as("top"))
          .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "p")))
          .select(col("q_id"), col("p.id").as("neighbor_id"),
            col("p.ord").as("dot"), (col("pos") + 1).cast("int").as("rnk"))
          .orderBy(col("q_id"), col("rnk"))
      },
      Some("""WITH qv AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
             |  FROM embeddings),
             |q AS (SELECT vec_id AS q_id, v AS qv FROM qv WHERE vec_id IN (0, 1, 2)),
             |dots AS (SELECT q_id, a.vec_id AS neighbor_id,
             |    CAST(list_sum(list_transform(list_zip(qv, a.v), p -> p[1] * p[2])) AS BIGINT) AS dot
             |  FROM qv a CROSS JOIN q WHERE a.vec_id <> q_id),
             |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
             |    ORDER BY dot DESC, neighbor_id ASC) AS rnk FROM dots)
             |SELECT q_id, neighbor_id, dot, rnk::INT AS rnk FROM r WHERE rnk <= 10
             |ORDER BY q_id, rnk""".stripMargin),
      bench = true),

    // ---- FILTERED vector search — the metadata-constrained ANN every
    //      retrieval stack needs (lang/license/date predicates on
    //      neighbors): candidates join their document metadata BY KEY
    //      and the predicate prunes BEFORE any similarity math or
    //      ranking state, so the heap never holds a filtered-out
    //      neighbor (post-filtering a fixed top-k would silently
    //      return < k). Same bounded-heap exchange economy as
    //      sim_topk_agg — the filter only shrinks it. ----
    QuerySpec("sim_filtered_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), SF.quantize(col("embedding")).as("v"))
        val meta = Tables.documents(s, d)
          .filter(col("lang") === "en")
          .select(col("doc_id").as("vec_id"))
        val q = emb.filter(col("vec_id").isin(0L, 1L, 2L))
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
        NativeExpressions.register(s)
        emb.join(meta, Seq("vec_id"), "left_semi")
          .crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("neighbor_id"),
            call_function("dot_i64", col("qv"), col("v")).as("dot"))
          .groupBy(col("q_id"))
          .agg(call_function("topk_pairs", col("dot"), col("neighbor_id"),
            lit(10)).as("top"))
          .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "p")))
          .select(col("q_id"), col("p.id").as("neighbor_id"),
            col("p.ord").as("dot"), (col("pos") + 1).cast("int").as("rnk"))
          .orderBy(col("q_id"), col("rnk"))
      },
      Some("""WITH en AS (SELECT doc_id FROM documents WHERE lang = 'en'),
             |qv AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
             |  FROM embeddings),
             |q AS (SELECT vec_id AS q_id, v AS qv FROM qv WHERE vec_id IN (0, 1, 2)),
             |dots AS (SELECT q_id, a.vec_id AS neighbor_id,
             |    CAST(list_sum(list_transform(list_zip(qv, a.v), p -> p[1] * p[2])) AS BIGINT) AS dot
             |  FROM qv a CROSS JOIN q
             |  WHERE a.vec_id <> q_id
             |    AND a.vec_id IN (SELECT doc_id FROM en)),
             |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
             |    ORDER BY dot DESC, neighbor_id ASC) AS rnk FROM dots)
             |SELECT q_id, neighbor_id, dot, rnk::INT AS rnk FROM r WHERE rnk <= 10
             |ORDER BY q_id, rnk""".stripMargin)),

    // ---- Embedding-norm histogram — the vector hygiene check run
    //      before ANY similarity work: collapsed or exploding norms
    //      mean a broken encoder or un-normalized mix, and dot-product
    //      rankings silently favor the long vectors. Quantized squared
    //      norms (dot_i64(v, v), exact int64) bucket by decimal order
    //      of magnitude — a scan projection plus a bucket-bounded
    //      aggregate. ----
    QuerySpec("emb_norm_histogram",
      (s, d) => {
        NativeExpressions.register(s)
        Tables.embeddings(s, d)
          .select(SF.quantize(col("embedding")).as("v"))
          .select(call_function("dot_i64", col("v"), col("v")).as("sq"))
          .select(length(col("sq").cast("string")).cast("long")
            .as("sq_digits"))
          .groupBy(col("sq_digits"))
          .agg(count(lit(1)).as("n_vectors"))
          .orderBy(col("sq_digits"))
      },
      Some("""WITH q AS (SELECT list_transform(embedding,
             |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
             |  FROM embeddings),
             |n AS (SELECT CAST(list_sum(list_transform(list_zip(v, v),
             |    p -> p[1] * p[2])) AS BIGINT) AS sq FROM q)
             |SELECT length(sq::VARCHAR)::BIGINT AS sq_digits,
             |  count(*)::BIGINT AS n_vectors
             |FROM n GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- Retrieval SERVING shape: the ranked neighbor list joined
    //      back to its passage text — what a RAG endpoint actually
    //      returns. Ranking stays the bounded-heap aggregate; the
    //      text join happens AFTER top-k, so only queries×k rows ever
    //      touch the (wide) text column — at 100 TB the fetch-side
    //      join is the difference between reading k passages and
    //      dragging the corpus text through the ranking shuffle. ----
    QuerySpec("retrieval_passages",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), SF.quantize(col("embedding")).as("v"))
        val q = emb.filter(col("vec_id").isin(0L, 1L, 2L))
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
        NativeExpressions.register(s)
        val top = emb.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("neighbor_id"),
            call_function("dot_i64", col("qv"), col("v")).as("dot"))
          .groupBy(col("q_id"))
          .agg(call_function("topk_pairs", col("dot"), col("neighbor_id"),
            lit(3)).as("top"))
          .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "p")))
          .select(col("q_id"), col("p.id").as("neighbor_id"),
            (col("pos") + 1).cast("int").as("rnk"))
        top.join(Tables.documents(s, d)
            .select(col("doc_id").as("neighbor_id"),
              concat_ws(" ", slice(TF.tokens(col("text")), 1, 12))
                .as("snippet")),
            Seq("neighbor_id"))
          .select(col("q_id"), col("rnk"), col("neighbor_id"), col("snippet"))
          .orderBy(col("q_id"), col("rnk"))
      },
      Some(s"""WITH qv AS (SELECT vec_id,
              |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
              |  FROM embeddings),
              |q AS (SELECT vec_id AS q_id, v AS qv FROM qv WHERE vec_id IN (0, 1, 2)),
              |dots AS (SELECT q_id, a.vec_id AS neighbor_id,
              |    CAST(list_sum(list_transform(list_zip(qv, a.v), p -> p[1] * p[2])) AS BIGINT) AS dot
              |  FROM qv a CROSS JOIN q WHERE a.vec_id <> q_id),
              |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
              |    ORDER BY dot DESC, neighbor_id ASC) AS rnk FROM dots),
              |tok AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents)
              |SELECT q_id, rnk::INT AS rnk, neighbor_id,
              |  array_to_string(list_slice(toks, 1, 12), ' ') AS snippet
              |FROM r JOIN tok ON neighbor_id = doc_id
              |WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin)),

    // ---- ANN scale path: random-hyperplane LSH bucket histogram.
    //      The packed bucket is the native lsh_bucket_packed_q kernel
    //      (SF.lshBucketQ) — one loop over the vector per row, not an
    //      unrolled per-plane expression tree. ----
    QuerySpec("sim_lsh_buckets",
      (s, d) => {
        NativeExpressions.register(s)
        val qv = Tables.embeddings(s, d)
          .select(SF.quantize(col("embedding")).as("v"))
        qv.select(SF.lshBucketQ(col("v"), 8, EmbDims).as("bucket"))
          .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
          .orderBy(col("bucket"))
      },
      Some(
        s"""WITH qv AS (SELECT
           |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
           |  FROM embeddings),
           |b AS (SELECT
           |  ${bucketSumSql(8, EmbDims, "v")} AS bucket
           |FROM qv)
           |SELECT bucket, count(*) AS n FROM b GROUP BY bucket ORDER BY bucket""".stripMargin),
      bench = true),

    // ---- LSH blocking observability: per-band bucket-size and
    //      candidate-pair counts (Σ s·(s−1)/2). This is the number the
    //      100 TB operator watches — when max_bucket or n_pairs stops
    //      being ~linear in n, rowsPerBand is undersized and the
    //      candidate self-join is drifting quadratic. Runs as two hash
    //      aggregates over exploded band keys; the pair arithmetic is
    //      exact (s·(s−1) is even, so `div 2` loses nothing). ----
    QuerySpec("lsh_band_stats",
      (s, d) => {
        NativeExpressions.register(s)
        val rows = embRows(embCountCache.getOrElseUpdate((s, d),
          Tables.embeddings(s, d).count()))
        val qv = Tables.embeddings(s, d)
          .select(SF.quantize(col("embedding")).as("v"))
        qv.select(explode(
            SF.bandedLshKeysQ(col("v"), EmbBands, rows, EmbDims,
              EmbMaxRows)).as("key"))
          .groupBy(col("key")).agg(count(lit(1)).as("s"))
          .select(split(col("key"), ":").getItem(0).cast("long").as("band"),
            col("s"))
          .groupBy(col("band")).agg(
            count(lit(1)).as("n_buckets"),
            max(col("s")).as("max_bucket"),
            sum(expr("(s * (s - 1)) div 2")).as("n_pairs"))
          .orderBy(col("band"))
      },
      Some(s"""WITH $embPrmSql,
              |qv AS (SELECT
              |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
              |  FROM embeddings),
              |k AS (SELECT unnest(${bandedKeysMaskedSql(EmbBands, EmbDims, "v")}) AS key FROM qv CROSS JOIN prm),
              |b AS (SELECT key, count(*) AS s FROM k GROUP BY 1)
              |SELECT CAST(split_part(key, ':', 1) AS BIGINT) AS band,
              |  count(*) AS n_buckets, max(s) AS max_bucket,
              |  CAST(sum((s * (s - 1)) // 2) AS BIGINT) AS n_pairs
              |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- Embedding-cosine near-dup: BANDED hyperplane LSH as blocking
    //      (explode band keys → equi-join → distinct candidates), exact
    //      cosine verify only on candidates — the same block→pair→verify
    //      shape as dedup_clusters, and linear-in-n when rowsPerBand is
    //      sized to log2(n / targetBucketSize) (see SimilarityFunctions
    //      header). Cosine from integer-exact components (quantized dot
    //      + norms) so both engines compute bit-identical doubles.
    //      Threshold 0.35 is tuned to the synthetic data's cosine range
    //      (max ~0.44 — no true near-dups exist; the operator shape is
    //      the deliverable). ----
    QuerySpec("dedup_embedding_cosine",
      (s, d) => {
        val (pairs, _) = embNearDupPairs(s, d)
        pairs.orderBy(col("vec_a"), col("vec_b"))
      },
      Some(
        s"""WITH $embPairsSql
           |SELECT vec_a, vec_b, cosine FROM vp
           |ORDER BY vec_a, vec_b""".stripMargin),
      bench = true),

    // ---- Embedding-cosine dedup CLUSTERS: connected components over
    //      the verified near-dup pairs — the embedding twin of
    //      dedup_clusters (same CC operator, O(log n) rounds, edges
    //      stay the LSH-blocked pair set, never all-pairs). The output
    //      assigns every vector its cluster's min id; production keeps
    //      one representative per cluster (dedup_canonical_docs'
    //      selection applies unchanged). ----
    QuerySpec("dedup_embedding_clusters",
      (s, d) => embClustersFrame(s, d).orderBy(col("vec_id")),
      Some(
        s"""WITH RECURSIVE $embClustersSql
           |SELECT vec_id, cluster_id FROM eclusters
           |ORDER BY vec_id""".stripMargin)),

    // ---- Canonical-representative selection for the embedding
    //      clusters — the lifecycle step after clustering: per cluster,
    //      the member nearest the cluster's floor-mean centroid
    //      (integer-exact, the k-means update's arithmetic), ties to
    //      the lower id. Documents have a quality score to keep
    //      (dedup_canonical_docs); embeddings keep the most CENTRAL
    //      member. Scale shape: the centroid is a (cluster, dim)
    //      partial-sum aggregate (map-side combined, like
    //      KMeans.recompute but fully distributed — clusters are
    //      data-scale, so NO driver collect), and the pick is a
    //      lexicographic min-struct aggregate — no window over the
    //      corpus. ----
    QuerySpec("dedup_embedding_canonical",
      (s, d) => {
        NativeExpressions.register(s)
        val qv = Tables.embeddings(s, d).select(col("vec_id"),
          SF.quantize(col("embedding")).as("v"))
        // tracked, not released here: the lambda returns `out` LAZY, so
        // an unpersist before the harness materializes it would make
        // this cache a silent no-op for both consumers below
        val j = TrackedCache.persist(
          embClustersFrame(s, d).join(qv, Seq("vec_id")))
        val cents = j
          .select(col("cluster_id"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy(col("cluster_id"), col("pos"))
          .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
          .groupBy(col("cluster_id"))
          .agg(array_sort(collect_list(struct(col("pos"), col("s")))).as("ps"),
            max(col("n")).as("n"))
          .selectExpr("cluster_id",
            "transform(ps, p -> ((p.s - ((p.s % n) + n) % n) div n)) AS cv",
            "n AS n_members")
        val d2 = call_function("dot_i64", col("v"), col("v")) -
          lit(2L) * call_function("dot_i64", col("v"), col("cv")) +
          call_function("dot_i64", col("cv"), col("cv"))
        val out = j.join(cents, Seq("cluster_id"))
          .select(col("cluster_id"), col("n_members"),
            struct(d2.as("d2"), col("vec_id").as("id")).as("cand"))
          .groupBy(col("cluster_id"))
          .agg(min(col("cand")).as("best"), max(col("n_members")).as("n_members"))
          .select(col("cluster_id"), col("best.id").as("rep_id"),
            col("best.d2").as("rep_d2"), col("n_members"))
          .orderBy(col("cluster_id"))
        out
      },
      Some(
        s"""WITH RECURSIVE $embClustersSql,
           |jv AS (SELECT cluster_id, c.vec_id, v
           |  FROM eclusters c JOIN qv ON qv.vec_id = c.vec_id),
           |cj AS (SELECT cluster_id, j, CAST(sum(v[j]) AS BIGINT) AS s,
           |    count(*) AS n
           |  FROM jv CROSS JOIN range(1, ${EmbDims + 1}) t(j) GROUP BY 1, 2),
           |cent AS (SELECT cluster_id,
           |    list(((s - ((s % n) + n) % n) // n) ORDER BY j) AS cv,
           |    max(n) AS n_members
           |  FROM cj GROUP BY cluster_id),
           |dd AS (SELECT jv.cluster_id, vec_id, n_members,
           |    CAST(list_sum(list_transform(list_zip(v, cv),
           |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d2
           |  FROM jv JOIN cent ON cent.cluster_id = jv.cluster_id),
           |rr AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
           |    ORDER BY d2 ASC, vec_id ASC) AS rnk FROM dd)
           |SELECT cluster_id, vec_id AS rep_id, d2 AS rep_d2, n_members
           |FROM rr WHERE rnk = 1
           |ORDER BY cluster_id""".stripMargin)),

    // ---- Incremental embedding dedup: admit only the NEW vectors
    //      (vec_id < 50, the arriving batch) with no verified near-dup
    //      in the existing corpus — the ingestion-time gate a training
    //      pipeline runs before appending, the embedding twin of
    //      dedup_incremental's fingerprint anti-join. Scale shape: the
    //      new batch's band keys BROADCAST into the corpus keys (a
    //      batch is tiny next to a corpus — the corpus never shuffles
    //      for the join), exact cosine verifies candidates only, and
    //      the admit decision is a broadcast anti-join. ----
    QuerySpec("dedup_embedding_incremental",
      (s, d) => {
        val (withB, _) = embSignatureFrame(s, d)
        val nk = withB.filter(col("vec_id") < 50)
          .select(col("vec_id").as("new_id"), explode(col("keys")).as("k"))
        val ck = withB.filter(col("vec_id") >= 50)
          .select(col("vec_id").as("c_id"), explode(col("keys")).as("k"))
        val cand = ck.join(broadcast(nk), Seq("k"))
          .select(col("new_id"), col("c_id")).distinct()
        val dt = call_function("dot_i64", col("x.v"), col("y.v"))
        val cos = dt.cast("double") /
          (sqrt(col("x.n2").cast("double")) * sqrt(col("y.n2").cast("double")))
        // dt > 0: a zero-quantized vector's cosine is 0/0 — a
        // DIVIDE_BY_ZERO crash under Spark's default ANSI mode, a
        // NaN-reported "duplicate" in DuckDB. The guard makes an
        // undefined similarity block nothing; same as the streaming
        // gate
        val dupNew = cand
          .join(withB.as("x"), col("new_id") === col("x.vec_id"))
          .join(withB.as("y"), col("c_id") === col("y.vec_id"))
          .filter(dt > 0 && cos >= 0.35)
          .select(col("new_id")).distinct()
        withB.filter(col("vec_id") < 50).select(col("vec_id"))
          .join(broadcast(dupNew), col("vec_id") === col("new_id"), "left_anti")
          .orderBy(col("vec_id"))
      },
      Some(
        s"""WITH $embWbSql,
           |nk AS (SELECT vec_id AS new_id, unnest(keys) AS k FROM wb
           |  WHERE vec_id < 50),
           |ck AS (SELECT vec_id AS c_id, unnest(keys) AS k FROM wb
           |  WHERE vec_id >= 50),
           |cand AS (SELECT DISTINCT new_id, c_id FROM nk JOIN ck USING (k)),
           |pd AS (SELECT new_id, c_id,
           |    CAST(list_sum(list_transform(list_zip(x.v, y.v), p -> p[1] * p[2])) AS BIGINT) AS dot,
           |    x.n2 AS na2, y.n2 AS nb2
           |  FROM cand JOIN wb x ON x.vec_id = new_id JOIN wb y ON y.vec_id = c_id),
           |dup AS (SELECT DISTINCT new_id FROM pd
           |  WHERE dot > 0
           |    AND CAST(dot AS DOUBLE) / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))) >= 0.35)
           |SELECT vec_id FROM embeddings
           |WHERE vec_id < 50 AND vec_id NOT IN (SELECT new_id FROM dup)
           |ORDER BY vec_id""".stripMargin)),

    // ---- SemDeDup-style semantic pruning: cluster the corpus with the
    //      Lloyd-trained coarse quantizer (same k=8/iters=2 replayable
    //      training as sim_ivf_trained_topk), then prune a vector iff a
    //      LOWER-id near-dup (cosine ≥ 0.35) exists in its OWN semantic
    //      cell — near-dup candidates never cross cluster boundaries,
    //      which is the SemDeDup economy: pairwise work is scoped to
    //      semantically-coherent cells. Scale shape: the cluster count
    //      alone does NOT bound the in-cell self-join (n²/K is still
    //      quadratic), so candidates additionally require a shared
    //      derived-width LSH band key — the same auto-sized banding as
    //      dedup_embedding_cosine — making the candidate set ~linear in
    //      n regardless of K; the cell conjunct then only SHRINKS it.
    //      Output: every vector with its cell and keep/prune verdict
    //      (keepers are the per-dup-group min id, the deterministic
    //      representative). ----
    QuerySpec("semdedup_prune",
      (s, d) => {
        val (withB, _) = embSignatureFrame(s, d)
        // the semantic cells come from the SERVED index artifact — the
        // same k=8/iters=2 quantizer over the same quantized vectors
        // (KMeans.fit is deterministic, so the published assignment IS
        // what fitting here would compute; the oracle still replays
        // training and the results are bit-identical). One Lloyd run
        // per corpus now serves ivf search AND semantic dedup.
        val asg = IvfIndex.vectors(s, servedIvfIndex(s, d))
          .select(col("id").as("vec_id"), col("cell"))
        val tagged = TrackedCache.persist(withB.join(asg, Seq("vec_id")))
        val bk = tagged.select(col("vec_id"), col("cell"),
          explode(col("keys")).as("k"))
        val cand = bk.as("a").join(bk.as("b"),
            col("a.k") === col("b.k") && col("a.cell") === col("b.cell") &&
              col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
          .distinct()
        val dt = call_function("dot_i64", col("x.v"), col("y.v"))
        val cos = dt.cast("double") /
          (sqrt(col("x.n2").cast("double")) * sqrt(col("y.n2").cast("double")))
        // dt > 0: the undefined 0/0 cosine of a zero-quantized vector
        // prunes nothing — same guard as every embedding consumer
        val pruned = cand
          .join(tagged.as("x"), col("vec_a") === col("x.vec_id"))
          .join(tagged.as("y"), col("vec_b") === col("y.vec_id"))
          .filter(dt > 0 && cos >= 0.35)
          .select(col("vec_b"), lit(true).as("pr")).distinct()
        // no broadcast hint: the pruned set is data-scale (a heavily
        // duplicated corpus prunes most of itself) — equi-join on the
        // key and let the planner choose
        tagged.select(col("vec_id"), col("cell"))
          .join(pruned, col("vec_id") === col("vec_b"), "left")
          .select(col("vec_id"), col("cell"), col("pr").isNull.as("kept"))
          .orderBy(col("vec_id"))
      },
      Some(
        s"""WITH $embWbSql,
           |xv AS (SELECT vec_id AS id, v FROM qv),
           |c0 AS (SELECT id AS c_id, v AS cv FROM xv ORDER BY id LIMIT 8),
           |${kmAssignSql("xv", "c0", "a1")},
           |${kmUpdateSql("a1", "c1", EmbDims)},
           |${kmAssignSql("xv", "c1", "a2")},
           |${kmUpdateSql("a2", "c2", EmbDims)},
           |${kmAssignSql("xv", "c2", "a3")},
           |bkc AS (SELECT w.vec_id, a3.cell AS cell, unnest(w.keys) AS k
           |  FROM wb w JOIN a3 ON a3.id = w.vec_id),
           |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
           |  FROM bkc a JOIN bkc b
           |  ON a.k = b.k AND a.cell = b.cell AND a.vec_id < b.vec_id),
           |pd AS (SELECT vec_a, vec_b,
           |    CAST(list_sum(list_transform(list_zip(x.v, y.v), p -> p[1] * p[2])) AS BIGINT) AS dot,
           |    x.n2 AS na2, y.n2 AS nb2
           |  FROM cand JOIN wb x ON x.vec_id = vec_a JOIN wb y ON y.vec_id = vec_b),
           |pruned AS (SELECT DISTINCT vec_b FROM pd
           |  WHERE dot > 0
           |    AND CAST(dot AS DOUBLE) / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))) >= 0.35)
           |SELECT id AS vec_id, cell,
           |  (id NOT IN (SELECT vec_b FROM pruned)) AS kept
           |FROM a3 ORDER BY vec_id""".stripMargin),
      bench = true),

    // ---- IVF-style ANN with banded multiprobe: each band key is a
    //      coarse-quantizer cell and a query probes all `EmbBands` of
    //      its cells (nprobe = bands — the recall knob the fixed
    //      single-bucket version lacked). Candidates are deduped BEFORE
    //      the dot products, so each survivor is scored once. ----
    QuerySpec("sim_ivf_topk",
      (s, d) => bandedTopk(s, d).orderBy(col("q_id"), col("rnk")),
      Some(
        s"""WITH $bandedTopkSql
           |SELECT q_id, neighbor_id, dot, rnk FROM lsh
           |ORDER BY q_id, rnk""".stripMargin)),

    // ---- Recall@5 of the banded multiprobe search vs exact brute
    //      force — the adaptive-width twin of sim_ivf_recall: the
    //      derived rows-per-band trades candidates for recall, so the
    //      trade is MEASURED and oracle-checked, not assumed. On this
    //      synthetic corpus the measured recall is LOW (0.0–0.6) and
    //      that is the correct reading: the "nearest" neighbors sit at
    //      cosine ≈ 0.4 ≈ 66°, where per-band collision probability
    //      (1 − θ/π)^r is inherently small — hyperplane LSH is built
    //      for near-dup angles (θ→0, collision→1). This monitor is
    //      what tells an operator their data's neighbor angles need
    //      the IVF path (sim_ivf_recall) instead of banding. ----
    QuerySpec("sim_lsh_recall",
      (s, d) => {
        val lsh = bandedTopk(s, d).select(col("q_id"), col("neighbor_id"))
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), SF.quantize(col("embedding")).as("v"))
        val q = emb.filter(col("vec_id").isin(0L, 1L, 2L))
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
        val bf = emb.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("neighbor_id"),
            call_function("dot_i64", col("qv"), col("v")).as("dot"))
          .groupBy(col("q_id"))
          .agg(call_function("topk_pairs", col("dot"), col("neighbor_id"),
            lit(5)).as("top"))
          .select(col("q_id"), explode(col("top.id")).as("neighbor_id"))
        val hits = lsh.join(bf, Seq("q_id", "neighbor_id"))
          .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
        bf.select(col("q_id")).distinct()
          .join(hits, Seq("q_id"), "left")
          .select(col("q_id"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
          .withColumn("recall", col("n_hit").cast("double") / 5.0)
          .orderBy(col("q_id"))
      },
      Some(s"""WITH $bandedTopkSql,
              |bf_d AS (SELECT q.q_id, a.vec_id AS neighbor_id,
              |    CAST(list_sum(list_transform(list_zip(q.qv, a.v),
              |      p -> p[1] * p[2])) AS BIGINT) AS dot
              |  FROM qv a CROSS JOIN (SELECT vec_id AS q_id, v AS qv FROM qv
              |    WHERE vec_id IN (0, 1, 2)) q
              |  WHERE a.vec_id <> q.q_id),
              |bf_r AS (SELECT *, row_number() OVER (PARTITION BY q_id
              |    ORDER BY dot DESC, neighbor_id ASC) AS rnk FROM bf_d),
              |bf AS (SELECT q_id, neighbor_id FROM bf_r WHERE rnk <= 5),
              |hits AS (SELECT i.q_id, count(*) AS n_hit
              |  FROM lsh i JOIN bf b
              |    ON i.q_id = b.q_id AND i.neighbor_id = b.neighbor_id
              |  GROUP BY 1)
              |SELECT q.q_id, coalesce(n_hit, 0) AS n_hit,
              |  CAST(coalesce(n_hit, 0) AS DOUBLE) / 5.0 AS recall
              |FROM (SELECT DISTINCT q_id FROM bf) q
              |LEFT JOIN hits USING (q_id)
              |ORDER BY q_id""".stripMargin)),

    // ---- Full-corpus kNN graph: every vector's top-3 neighbors among
    //      its banded-LSH candidates — the all-pairs construction that
    //      feeds graph clustering, agglomerative dedup, and
    //      diversity-aware selection, where `sim_ivf_topk`'s shape
    //      (a handful of query vectors probing the corpus) doesn't
    //      apply because EVERY vector is a query. No broadcast side
    //      exists; the scale story is the band equi-join (candidates
    //      ~linear in n by the derived width) followed by the
    //      bounded-heap top-k (map-side reduction to ≤k rows per
    //      vector per partition, so the final exchange carries
    //      O(n·k), never the candidate set). Vectors whose candidate
    //      set is empty (no shared band key) are absent — the graph
    //      reports reachable neighbors, not padded rows. ----
    QuerySpec("knn_graph",
      (s, d) => knnGraphEdges(s, d).orderBy(col("q_id"), col("rnk")),
      Some(
        s"""WITH $embWbSql,
           |$knnGraphSql
           |SELECT q_id, neighbor_id, dot, rnk FROM gr WHERE rnk <= 3
           |ORDER BY q_id, rnk""".stripMargin)),

    // ---- kNN label propagation over the graph above: each vector's
    //      class by MAJORITY VOTE of its ≤3 nearest neighbors' labels
    //      (ties to the smaller label) — the semi-supervised transfer
    //      step that spreads a small labeled set across an unlabeled
    //      corpus, evaluated here against the embeddings table's own
    //      labels as a confusion matrix. Votes are a (vector, label)
    //      aggregate off the O(n·k) edge set; the argmax folds
    //      row-locally through the same min-struct total order every
    //      deterministic ranking here uses. Vectors with no banded
    //      candidates are absent — the vote reports reachable vectors,
    //      not padded rows. ----
    QuerySpec("knn_label_confusion",
      (s, d) => {
        val lb = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
        val pred = knnGraphEdges(s, d)
          .join(lb.withColumnRenamed("vec_id", "neighbor_id"),
            Seq("neighbor_id"))
          .groupBy(col("q_id"), col("label"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("q_id"))
          .agg(min(struct((-col("cnt")).as("neg"), col("label").as("l")))
            .as("best"))
          .select(col("q_id"), col("best.l").as("pred"))
        pred.join(lb.withColumnRenamed("vec_id", "q_id"), Seq("q_id"))
          .groupBy(col("label").as("true_label"), col("pred").as("pred_label"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("true_label"), col("pred_label"))
      },
      Some(
        s"""WITH $embWbSql,
           |$knnGraphSql,
           |vc AS (SELECT e.q_id, l.label, count(*)::BIGINT AS cnt
           |  FROM gr e JOIN embeddings l ON l.vec_id = e.neighbor_id
           |  WHERE e.rnk <= 3 GROUP BY 1, 2),
           |vp AS (SELECT q_id, label AS pred FROM (SELECT q_id, label,
           |    row_number() OVER (PARTITION BY q_id
           |      ORDER BY cnt DESC, label ASC) AS rn FROM vc)
           |  WHERE rn = 1)
           |SELECT t.label AS true_label, vp.pred AS pred_label,
           |  count(*)::BIGINT AS n
           |FROM vp JOIN embeddings t ON t.vec_id = vp.q_id
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- Hard-negative mining: per anchor, the MOST SIMILAR banded
    //      candidate carrying a DIFFERENT label — the contrastive-
    //      training sampler that actually moves metrics, where
    //      `contrastive_pairs`' hash negatives are easy by
    //      construction. The label filter runs BEFORE the bounded-heap
    //      top-1 (a same-label top-3 must not mask the best negative),
    //      so the exchange still carries O(n) rows; anchors whose
    //      candidates all share their label are absent, like the kNN
    //      graph's unreachable vectors. ----
    QuerySpec("hard_negatives",
      (s, d) => {
        val (cand, withB) = knnCandidates(s, d)
        val lb = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
        val diff = cand
          .join(lb.toDF("q_id", "ql"), Seq("q_id"))
          .join(lb.toDF("neighbor_id", "nl"), Seq("neighbor_id"))
          .filter(col("ql") =!= col("nl"))
          .select(col("q_id"), col("neighbor_id"))
        knnScoreTopk(diff, withB, k = 1)
          .select(col("q_id"), col("neighbor_id").as("negative_id"),
            col("dot"))
          .orderBy(col("q_id"))
      },
      Some(
        s"""WITH $embWbSql,
           |$knnGraphSql,
           |hn AS (SELECT g.q_id, g.neighbor_id FROM gc g
           |  JOIN embeddings a ON a.vec_id = g.q_id
           |  JOIN embeddings b ON b.vec_id = g.neighbor_id
           |  WHERE a.label <> b.label),
           |hd AS (SELECT q_id, neighbor_id,
           |    CAST(list_sum(list_transform(list_zip(x.v, y.v),
           |      p -> p[1] * p[2])) AS BIGINT) AS dot
           |  FROM hn JOIN wb x ON x.vec_id = q_id
           |          JOIN wb y ON y.vec_id = neighbor_id),
           |hr AS (SELECT *, row_number() OVER (PARTITION BY q_id
           |    ORDER BY dot DESC, neighbor_id ASC) AS rn FROM hd)
           |SELECT q_id, neighbor_id AS negative_id, dot FROM hr
           |WHERE rn = 1 ORDER BY q_id""".stripMargin)),

    // ---- Benchmark decontamination: flag training docs sharing any
    //      8-gram with the eval set (docs 0-24 stand in for a held-out
    //      benchmark). The eval side collapses to a small distinct-gram
    //      set and BROADCASTS — the realistic shape, since benchmarks
    //      are tiny next to a training corpus; the training side
    //      streams through a semi-join, no shuffle of the corpus. ----
    QuerySpec("decontaminate_eval_overlap",
      (s, d) => {
        val grams = TrackedCache.persist( // shared by eval + training branches
          Tables.documents(s, d).select(col("doc_id"),
            explode(TF.shingles(TF.tokens(col("text")), 8)).as("g")))
        val evalGrams = grams.filter(col("doc_id") < 25)
          .select(col("g")).distinct()
        grams.filter(col("doc_id") >= 25)
          .join(broadcast(evalGrams), Seq("g"), "left_semi")
          .select(col("doc_id")).distinct()
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
              |sh AS (SELECT doc_id, ${shinglesSql(8)} AS sh FROM tok),
              |g AS (SELECT doc_id, unnest(sh) AS g FROM sh),
              |ev AS (SELECT DISTINCT g FROM g WHERE doc_id < 25)
              |SELECT DISTINCT doc_id FROM g
              |WHERE doc_id >= 25 AND g IN (SELECT g FROM ev)
              |ORDER BY doc_id""".stripMargin)),

    // ---- Per-EVAL-DOC contamination coverage — the report the
    //      benchmark owner reads (the flag list above is what the
    //      training side consumes): for each eval document, what
    //      fraction of its 8-grams appear anywhere in the training
    //      split, in ppm. High coverage = the benchmark is compromised
    //      regardless of which training docs carry the grams. Shape:
    //      the training grams DEDUP to a distinct gram set first (the
    //      heavy side collapses before any join), the eval side is
    //      tiny and drives a semi-join per gram, and the per-doc
    //      fraction is one eval-scale aggregate. ----
    QuerySpec("decontaminate_coverage",
      (s, d) => {
        val grams = TrackedCache.persist(
          Tables.documents(s, d).select(col("doc_id"),
            explode(TF.shingles(TF.tokens(col("text")), 8)).as("g")))
        val trainGrams = grams.filter(col("doc_id") >= 25)
          .select(col("g")).distinct()
        val evalGrams = grams.filter(col("doc_id") < 25)
          .select(col("doc_id"), col("g")).distinct()
        evalGrams
          .join(trainGrams.withColumn("hit", lit(1L)), Seq("g"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            coalesce(sum(col("hit")), lit(0L)).as("n_contaminated"))
          .select(col("doc_id"), col("n_grams"), col("n_contaminated"),
            expr("(n_contaminated * 1000000) div n_grams")
              .as("coverage_ppm"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
              |sh AS (SELECT doc_id, ${shinglesSql(8)} AS sh FROM tok),
              |g AS (SELECT doc_id, unnest(sh) AS g FROM sh),
              |tr AS (SELECT DISTINCT g FROM g WHERE doc_id >= 25),
              |ev AS (SELECT DISTINCT doc_id, g FROM g WHERE doc_id < 25),
              |j AS (SELECT ev.doc_id, ev.g,
              |    CASE WHEN tr.g IS NULL THEN 0 ELSE 1 END AS hit
              |  FROM ev LEFT JOIN tr ON ev.g = tr.g)
              |SELECT doc_id, count(*)::BIGINT AS n_grams,
              |  sum(hit)::BIGINT AS n_contaminated,
              |  (sum(hit) * 1000000 // count(*))::BIGINT AS coverage_ppm
              |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- NEAR-dup decontamination: the fuzzy twin of the exact
    //      8-gram overlap above — flag (train, eval) pairs whose
    //      3-gram Jaccard ≥ 0.5, found through the same MinHash band
    //      blocking dedup_minhash_lsh uses, but with the EVAL side
    //      broadcast (benchmarks are tiny next to a training corpus:
    //      the corpus's bands stream through one equi-join, never
    //      shuffle for the pair search; exact Jaccard verifies
    //      candidates only, killing banding false positives). Catches
    //      the paraphrased/reformatted leakage exact n-gram matching
    //      misses. ----
    QuerySpec("decontaminate_neardup",
      (s, d) => {
        val (sh0, _) = minhashShingleBands(s, d)
        val sh = TrackedCache.persist(sh0)
        // bands pinned too: the eval and training branches each consume
        // it, and only the shingle frame below it is otherwise cached —
        // the 16 min-aggregations would still run twice
        val bands = TrackedCache.persist(minhashBandsFrom(sh))
        val evalB = bands.filter(col("doc_id") < 25)
          .select(col("doc_id").as("eval_id"), col("band"))
        val cand = bands.filter(col("doc_id") >= 25)
          .join(broadcast(evalB), Seq("band"))
          .select(col("doc_id").as("train_id"), col("eval_id")).distinct()
        cand
          .join(sh.as("x"), col("train_id") === col("x.doc_id"))
          .join(sh.as("y"), col("eval_id") === col("y.doc_id"))
          .select(col("train_id"), col("eval_id"),
            DF.jaccard(col("x.sh"), col("y.sh")).as("jaccard"))
          .filter(col("jaccard") >= 0.5)
          .orderBy(col("train_id"), col("eval_id"))
      },
      Some(
        s"""WITH $minhashBandsSql,
           |cand AS (SELECT DISTINCT t.doc_id AS train_id, e.doc_id AS eval_id
           |  FROM bands t JOIN bands e ON t.band = e.band
           |  WHERE t.doc_id >= 25 AND e.doc_id < 25),
           |p AS (SELECT train_id, eval_id,
           |    list_distinct(x.sh) AS da, list_distinct(y.sh) AS db
           |  FROM cand JOIN sh x ON x.doc_id = train_id
           |    JOIN sh y ON y.doc_id = eval_id),
           |jj AS (SELECT train_id, eval_id,
           |    CAST(len(list_filter(da, v -> list_contains(db, v))) AS DOUBLE) AS inter,
           |    CAST(len(da) + len(db) AS DOUBLE) AS szsum
           |  FROM p),
           |j AS (SELECT train_id, eval_id,
           |    CASE WHEN szsum - inter = 0.0 THEN 1.0
           |      ELSE inter / (szsum - inter) END AS jaccard
           |  FROM jj)
           |SELECT train_id, eval_id, jaccard FROM j
           |WHERE jaccard >= 0.5
           |ORDER BY train_id, eval_id""".stripMargin)),

    // ---- Bloom-prefiltered decontamination: the scale path for when
    //      the eval-gram set outgrows an exact broadcast (a full eval
    //      SUITE of benchmarks against a 100 TB corpus). The sketch is
    //      built DISTRIBUTED (treeAggregate, no driver collect of
    //      items) and is KB-scale regardless of item count; the probe
    //      runs scan-side through the native codegen'd
    //      bloom_might_contain_long — zero shuffle, zero join — and
    //      discards ~(1 − fpp) of the corpus's grams before the exact
    //      verify join ever shuffles a row. Bloom has NO false
    //      negatives and the verify join kills its false positives, so
    //      the output — and the oracle — are IDENTICAL to the exact
    //      broadcast variant (decontaminate_eval_overlap): same
    //      answer, different asymptotics. The verify join carries no
    //      broadcast hint on purpose: its build side is the very set
    //      assumed too big to broadcast; AQE may still pick broadcast
    //      when it fits (as at test SF). ----
    QuerySpec("decontaminate_bloom",
      (s, d) => {
        NativeExpressions.register(s)
        val grams = TrackedCache.persist( // shared: eval build + corpus probe
          Tables.documents(s, d).select(col("doc_id"),
            explode(TF.shingles(TF.tokens(col("text")), 8)).as("g")))
        // evalGrams pinned (r17): three consumers (the sizing count,
        // the bloom build, the exact semi-join's right side) each
        // re-ran the eval-side scan over the gram cache.
        // Eval-benchmark-scale — the broadcast side by design.
        // NO distinct (r18, VERDICT-r17 task #3): the left-semi verify
        // is set-semantics regardless of right-side duplicates, bloom
        // insertion is idempotent, and the sizing count over the
        // non-distinct stream UPPER-BOUNDS the distinct item count —
        // the sketch comes out at-or-below its 1% target FPR
        // (BloomSizingSpec pins this). Dropping the distinct removes
        // the eval-side aggregate+exchange from every run.
        val evalGrams = TrackedCache.persist(
          grams.filter(col("doc_id") < 25)
            .select(col("g")))
        val hashed = evalGrams.select(
          call_function("hash60_md5", col("g").cast("binary")).as("gh"))
        // one count to size the sketch (an upper bound is all the
        // sketch needs), then the distributed build (the two eval-side
        // jobs price like the exact variant's broadcast build); an
        // empty eval side short-circuits — the sketch aggregate yields
        // null on empty input, and nothing can overlap anyway
        val nEval = hashed.count()
        val probe = if (nEval == 0) lit(false) else {
          val bf = hashed.stat.bloomFilter("gh", nEval, 0.01)
          val bos = new java.io.ByteArrayOutputStream()
          bf.writeTo(bos)
          call_function("bloom_might_contain_long", lit(bos.toByteArray),
            call_function("hash60_md5", col("g").cast("binary")))
        }
        grams.filter(col("doc_id") >= 25)
          .filter(probe)
          .join(evalGrams, Seq("g"), "left_semi")
          .select(col("doc_id")).distinct()
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
              |sh AS (SELECT doc_id, ${shinglesSql(8)} AS sh FROM tok),
              |g AS (SELECT doc_id, unnest(sh) AS g FROM sh),
              |ev AS (SELECT DISTINCT g FROM g WHERE doc_id < 25)
              |SELECT DISTINCT doc_id FROM g
              |WHERE doc_id >= 25 AND g IN (SELECT g FROM ev)
              |ORDER BY doc_id""".stripMargin),
      bench = true),

    // ---- Deterministic train/val/test assignment: hash-bucket the
    //      content (NOT a random sample — reproducible across runs,
    //      engines, and re-partitioning; membership is a pure function
    //      of the document). The aggregate shape shuffles one small
    //      grouping column, not documents. ----
    QuerySpec("split_train_val_test",
      (s, d) => {
        val base = Tables.documents(s, d)
          .select((TF.hash60(col("text")) % 100).as("bucket"))
        base.select(
            when(col("bucket") < 80, "train")
              .when(col("bucket") < 90, "val")
              .otherwise("test").as("split"))
          .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
          .orderBy(col("split"))
      },
      Some(s"""WITH b AS (SELECT ${h60("text")} % 100 AS bucket FROM documents)
              |SELECT CASE WHEN bucket < 80 THEN 'train'
              |    WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
              |  count(*) AS n_docs
              |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- Banding-recall monitor: does MinHash-LSH blocking actually
    //      SURFACE the true near-dup pairs? Exact all-pairs ground
    //      truth is impossible at corpus scale, but on a bounded,
    //      deterministic sample it is one broadcast self-join — the
    //      standard recall probe an operator runs alongside
    //      `lsh_band_stats` (which watches the cost side; this
    //      watches the quality side). Reports true pairs (exact
    //      3-gram Jaccard ≥ 0.5 on the sample), banding candidates,
    //      hits, and recall. The ANN-recall discipline
    //      (sim_ivf_recall), applied to the dedup blocking scheme. ----
    QuerySpec("minhash_banding_recall",
      (s, d) => {
        // deterministic 200-doc sample from the top of the id range
        // (where this corpus's near-dup mass sits) — SF-independent
        val lo = broadcast(Tables.documents(s, d)
          .agg((max(col("doc_id")) - 199L).as("lo")))
        val (sh0, _) = minhashShingleBands(s, d)
        val sh = TrackedCache.persist(sh0.crossJoin(lo)
          .filter(col("doc_id") >= col("lo")).drop("lo"))
        val truth = TrackedCache.persist(sh.as("x")
          .join(broadcast(sh.as("y")), col("x.doc_id") < col("y.doc_id"))
          .filter(DF.jaccard(col("x.sh"), col("y.sh")) >= 0.5)
          .select(col("x.doc_id").as("ia"), col("y.doc_id").as("ib")))
        val cand = TrackedCache.persist(
          candidatePairs(minhashBandsFrom(sh), "ia", "ib"))
        val hit = truth.join(cand, Seq("ia", "ib"), "left_semi")
        truth.agg(count(lit(1)).as("n_true"))
          .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
          .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
          .select(col("n_true"), col("n_hit"), col("n_candidates"),
            when(col("n_true") > 0,
              col("n_hit").cast("double") / col("n_true").cast("double"))
              .otherwise(lit(1.0)).as("recall"))
      },
      Some(s"""WITH $minhashBandsSql,
              |lo AS (SELECT max(doc_id) - 199 AS lo FROM documents),
              |ss AS (SELECT doc_id, sh FROM sh CROSS JOIN lo
              |  WHERE doc_id >= lo),
              |tp AS (SELECT ia, ib FROM (
              |  SELECT x.doc_id AS ia, y.doc_id AS ib,
              |    CAST(len(list_filter(list_distinct(x.sh), s0 -> list_contains(list_distinct(y.sh), s0))) AS DOUBLE) AS inter,
              |    CAST(len(list_distinct(x.sh)) + len(list_distinct(y.sh)) AS DOUBLE) AS szsum
              |  FROM ss x JOIN ss y ON x.doc_id < y.doc_id)
              |  WHERE inter / (szsum - inter) >= 0.5),
              |sb AS (SELECT bands.* FROM bands CROSS JOIN lo
              |  WHERE doc_id >= lo),
              |cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
              |  FROM sb a JOIN sb b ON a.band = b.band AND a.doc_id < b.doc_id),
              |h AS (SELECT count(*)::BIGINT AS n_hit FROM tp
              |  WHERE (ia, ib) IN (SELECT (ia, ib) FROM cand)),
              |t AS (SELECT count(*)::BIGINT AS n_true FROM tp),
              |c AS (SELECT count(*)::BIGINT AS n_candidates FROM cand)
              |SELECT n_true, n_hit, n_candidates,
              |  CASE WHEN n_true > 0
              |    THEN CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE)
              |    ELSE CAST(1.0 AS DOUBLE) END AS recall
              |FROM t CROSS JOIN h CROSS JOIN c""".stripMargin)),

    // ---- Leakage-safe split: hash-split by NEAR-DUP CLUSTER, not by
    //      document — the standard guard against train/test leakage
    //      (a near-duplicate pair split across train and test inflates
    //      eval scores; a per-doc hash split does exactly that).
    //      Reuses the verified dedup clustering (band-blocked
    //      candidates → exact-Jaccard verify → connected components,
    //      singletons = their own cluster) and routes every member of
    //      a cluster by the hash of its CLUSTER id, so no group can
    //      span splits by construction. `docs_moved` counts documents
    //      whose naive per-doc split would have differed — the
    //      leakage the group split repaired. Scale shape: the
    //      clustering is the one-shuffle-per-round CC plane; the split
    //      itself is a pure hash projection plus one 3-group
    //      aggregate. ----
    QuerySpec("split_leakage_safe",
      (s, d) => {
        def splitOf(b: org.apache.spark.sql.Column) =
          when(b < 80, "train").when(b < 90, "val").otherwise("test")
        dedupClustersFrame(s, d)
          .select(col("cluster_id"),
            splitOf(TF.hash60(concat(lit("split:"),
              col("cluster_id").cast("string"))) % 100).as("split"),
            splitOf(TF.hash60(concat(lit("split:"),
              col("doc_id").cast("string"))) % 100).as("naive"))
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("cluster_id")).as("n_groups"),
            sum(when(col("split") =!= col("naive"), 1L).otherwise(0L))
              .as("docs_moved"))
          .orderBy(col("split"))
      },
      Some {
        val gb = h60("'split:' || CAST(cluster_id AS VARCHAR)")
        val nb = h60("'split:' || CAST(doc_id AS VARCHAR)")
        s"""WITH RECURSIVE $dedupClustersSql,
           |cs AS (SELECT cluster_id,
           |    CASE WHEN $gb % 100 < 80 THEN 'train'
           |      WHEN $gb % 100 < 90 THEN 'val' ELSE 'test' END AS split,
           |    CASE WHEN $nb % 100 < 80 THEN 'train'
           |      WHEN $nb % 100 < 90 THEN 'val' ELSE 'test' END AS naive
           |  FROM clusters)
           |SELECT split, count(*)::BIGINT AS n_docs,
           |  count(DISTINCT cluster_id)::BIGINT AS n_groups,
           |  sum(CASE WHEN split <> naive THEN 1 ELSE 0 END)::BIGINT AS docs_moved
           |FROM cs GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // ---- Corpus heavy hitters: global top-20 tokens. Partial (map-
    //      side) counting shrinks the shuffle to distinct tokens per
    //      input partition; the final top-k is TakeOrdered, never a
    //      full sort of the vocabulary. Ties broken on the token so
    //      the result is deterministic. ----
    QuerySpec("top_tokens",
      (s, d) => Tables.documents(s, d)
        .select(explode(TF.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(20),
      Some(s"""WITH tok AS (SELECT ${toksSql("text")} AS toks FROM documents),
              |t AS (SELECT unnest(toks) AS token FROM tok)
              |SELECT token, count(*) AS n FROM t GROUP BY 1
              |ORDER BY n DESC, token ASC LIMIT 20""".stripMargin),
      bench = true),

    // ---- Heavy hitters through a COUNT-MIN SKETCH — the one-pass,
    //      bounded-memory alternative to the exact aggregate above for
    //      when even the distinct-token shuffle is too much (top_tokens
    //      shuffles the vocabulary; the sketch shuffles one fixed
    //      O(width × depth) blob per partition, merged associatively —
    //      corpus-size-independent). Exactness is probabilistic, so the
    //      checkable output is the accuracy CONTRACT, the
    //      agg_approx_users pattern: for each of the exact top-20
    //      tokens, the sketch estimate must lie in
    //      [true_count, true_count + eps·N] — never under (CMS
    //      guarantees one-sided error), and over by at most the eps
    //      bound. Estimates are deterministic for a fixed seed, so the
    //      contract is reproducible, not flaky. The exact top-20
    //      candidate list reuses the TakeOrdered shape; the 20 driver
    //      probes are metadata-scale. ----
    QuerySpec("heavy_hitters_cms",
      (s, d) => {
        val toks = TrackedCache.persist(Tables.documents(s, d)
          .select(explode(TF.tokens(col("text"))).as("token")))
        val skBytes = toks
          .select(expr("count_min_sketch(token, 0.001d, 0.99d, 42)").as("sk"))
          .head().getAs[Array[Byte]](0)
        val sk = org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(skBytes))
        val bound = (0.001 * sk.totalCount()).toLong
        val top = toks.groupBy(col("token")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("token").asc).limit(20).collect()
        import s.implicits._
        top.toSeq.map { r =>
          val (t, n) = (r.getString(0), r.getLong(1))
          val est = sk.estimateCount(t)
          (t, n, est >= n && est <= n + bound)
        }.toDF("token", "n", "cms_ok")
          .orderBy(col("n").desc, col("token").asc)
      },
      Some(s"""WITH tok AS (SELECT ${toksSql("text")} AS toks FROM documents),
              |t AS (SELECT unnest(toks) AS token FROM tok)
              |SELECT token, count(*) AS n, true AS cms_ok
              |FROM t GROUP BY token
              |ORDER BY n DESC, token ASC LIMIT 20""".stripMargin)),

    // ---- K-MINIMUM-VALUES distinct sketch per source — the third
    //      sketch family (CMS counts frequencies, GK ranks, KMV counts
    //      DISTINCTS) and, unlike HLL, one whose estimate is exactly
    //      reproducible in plain SQL: keep the k smallest distinct
    //      hash values; est = (k−1)·2⁶⁰ / h_k. The estimate, the exact
    //      truth, AND the error contract (±20 % ≈ 3σ at k=256) are all
    //      emitted and oracle-checked — both engines compute the SAME
    //      sketch, so this checks values, not just a bound. Scale
    //      shape: the sketch side is the bounded min-k-distinct
    //      aggregate (`MinKDistinct`) — map-side reduced to ≤k hashes
    //      per partition, so its exchange is O(sources × k) no matter
    //      the corpus; the exact reference count rides the SAME scan
    //      as a countDistinct (the one corpus-scale part, and it
    //      exists only because the oracle checks the estimate against
    //      the truth — a production card drops it). ----
    QuerySpec("kmv_distinct_by_source",
      (s, d) => {
        graft.functions.NativeExpressions.register(s)
        val k = 256
        // 3-gram shingles, not tokens: the synthetic vocabulary is a
        // few dozen words, which would never leave the exact m<k
        // branch — shingle cardinality actually exercises the
        // estimator (and is the realistic KMV use: distinct n-grams
        // is precisely what exact counting can't afford at scale)
        val hashed = Tables.documents(s, d)
          .select(col("source"),
            explode(TF.shingles(TF.tokens(col("text")), 3)).as("g"))
          .select(col("source"),
            TF.hash60(concat(lit("kmv:"), col("g"))).as("h"))
        // ONE scan feeds both aggregates (the tokenize→shingle→hash
        // projection is the dominant cost; Expand only doubles the
        // 16-byte hashed rows)
        val agged = hashed.groupBy(col("source"))
          .agg(call_function("min_k_distinct", col("h"), lit(k)).as("sk"),
            countDistinct(col("h")).as("n_exact"))
        agged
          .select(col("source"), col("n_exact"),
            size(col("sk")).cast("long").as("m"),
            element_at(col("sk"), size(col("sk"))).as("h_k"))
          .select(col("source"), col("n_exact"),
            when(col("m") < k, col("m"))
              // (k−1)·2⁶⁰ overflows int64 — the widening goes through
              // DECIMAL(38,0) ↔ HUGEINT, the classifier_eval_auc gate
              .otherwise(expr(s"CAST((CAST(${k - 1} AS DECIMAL(38,0)) * " +
                s"${1L << 60}) div h_k AS BIGINT)"))
              .as("n_est"))
          .withColumn("within_20pct",
            abs(col("n_est") - col("n_exact")) * 5 <= col("n_exact"))
          .orderBy(col("source"))
      },
      Some {
        val k = 256
        s"""WITH tok AS (SELECT source, ${toksSql("text")} AS toks
           |  FROM documents),
           |t AS (SELECT source, unnest(${shinglesSql(3)}) AS g FROM tok),
           |h AS (SELECT DISTINCT source,
           |    ${h60("'kmv:' || g")} AS h FROM t),
           |r AS (SELECT source, h, row_number() OVER
           |    (PARTITION BY source ORDER BY h) AS rn FROM h),
           |sk AS (SELECT source, max(h) AS h_k, count(*)::BIGINT AS m
           |  FROM r WHERE rn <= $k GROUP BY source),
           |ex AS (SELECT source, count(*)::BIGINT AS n_exact FROM h
           |  GROUP BY source),
           |est AS (SELECT source, m, h_k,
           |    (CASE WHEN m < $k THEN m::HUGEINT
           |      ELSE (${k - 1}::HUGEINT * ${1L << 60}) // h_k END)::BIGINT
           |      AS n_est FROM sk)
           |SELECT source, n_exact, n_est,
           |  abs(n_est - n_exact) * 5 <= n_exact AS within_20pct
           |FROM est JOIN ex USING (source) ORDER BY source""".stripMargin
      }),

    // ---- KMV set-operation estimates: pairwise source shingle-set
    //      Jaccard from the SKETCHES ALONE — the union trick (the k
    //      smallest of sketch(A) ∪ sketch(B) are exactly the union's
    //      KMV sketch; the fraction of them present in both is the
    //      Jaccard estimate). What HLL fundamentally can't do
    //      (intersections) and exact distinct-counting pays a full
    //      cross-source shuffle for, KMV answers from 5 × k rows.
    //      After the per-source sketch pass (shared shape with
    //      kmv_distinct_by_source), every frame here is
    //      (pairs × k)-scale — the 100 TB cost is the one sketch
    //      build, amortized across all O(|sources|²) pair queries. ----
    QuerySpec("kmv_source_jaccard",
      (s, d) => {
        graft.functions.NativeExpressions.register(s)
        val k = 256
        // bounded min-k-distinct aggregate, not distinct + rank
        // window: the exchange carries ≤k hashes per source instead
        // of every distinct shingle hash in the corpus
        val sk = TrackedCache.persist(Tables.documents(s, d)
          .select(col("source"),
            explode(TF.shingles(TF.tokens(col("text")), 3)).as("g"))
          .select(col("source"),
            TF.hash60(concat(lit("kmv:"), col("g"))).as("h"))
          .groupBy(col("source"))
          .agg(call_function("min_k_distinct", col("h"), lit(k)).as("sk"))
          .select(col("source"), explode(col("sk")).as("h")))
        val pairs = sk.select(col("source").as("src_a")).distinct()
          .join(sk.select(col("source").as("src_b")).distinct(),
            col("src_a") < col("src_b"))
        val uni = pairs
          .join(sk.withColumnRenamed("source", "src_a"), Seq("src_a"))
          .select(col("src_a"), col("src_b"), col("h"), lit(1).as("in_a"),
            lit(0).as("in_b"))
          .unionByName(pairs
            .join(sk.withColumnRenamed("source", "src_b"), Seq("src_b"))
            .select(col("src_a"), col("src_b"), col("h"), lit(0).as("in_a"),
              lit(1).as("in_b")))
          .groupBy(col("src_a"), col("src_b"), col("h"))
          .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
        val byPair = Window.partitionBy(col("src_a"), col("src_b"))
          .orderBy(col("h"))
        uni.withColumn("rn", row_number().over(byPair))
          .filter(col("rn") <= k)
          .groupBy(col("src_a"), col("src_b"))
          .agg(count(lit(1)).as("k_used"),
            sum((col("in_a") * col("in_b")).cast("long")).as("n_shared"))
          .select(col("src_a"), col("src_b"), col("k_used"), col("n_shared"),
            expr("(n_shared * 1000000) div k_used").as("jaccard_ppm"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some {
        val k = 256
        s"""WITH tok AS (SELECT source, ${toksSql("text")} AS toks
           |  FROM documents),
           |t AS (SELECT source, unnest(${shinglesSql(3)}) AS g FROM tok),
           |hh AS (SELECT DISTINCT source,
           |    ${h60("'kmv:' || g")} AS h FROM t),
           |sk AS (SELECT source, h FROM (SELECT source, h, row_number()
           |    OVER (PARTITION BY source ORDER BY h) AS rn FROM hh)
           |  WHERE rn <= $k),
           |pairs AS (SELECT a.source AS src_a, b.source AS src_b
           |  FROM (SELECT DISTINCT source FROM sk) a,
           |       (SELECT DISTINCT source FROM sk) b
           |  WHERE a.source < b.source),
           |uni AS (SELECT src_a, src_b, h, max(in_a) AS in_a,
           |    max(in_b) AS in_b FROM (
           |  SELECT p.src_a, p.src_b, s.h, 1 AS in_a, 0 AS in_b
           |    FROM pairs p JOIN sk s ON s.source = p.src_a
           |  UNION ALL
           |  SELECT p.src_a, p.src_b, s.h, 0, 1
           |    FROM pairs p JOIN sk s ON s.source = p.src_b)
           |  GROUP BY 1, 2, 3),
           |r AS (SELECT *, row_number() OVER (PARTITION BY src_a, src_b
           |    ORDER BY h) AS rn FROM uni),
           |ag AS (SELECT src_a, src_b, count(*)::BIGINT AS k_used,
           |    sum(in_a * in_b)::BIGINT AS n_shared
           |  FROM r WHERE rn <= $k GROUP BY 1, 2)
           |SELECT src_a, src_b, k_used, n_shared,
           |  (n_shared * 1000000) // k_used AS jaccard_ppm
           |FROM ag ORDER BY src_a, src_b""".stripMargin
      },
      bench = true),

    // ---- Per-source DATA CARDS: the one-row-per-source summary a
    //      mixture decision actually reads — volume (docs/tokens),
    //      shape (mean tokens, languages), redundancy (distinct exact
    //      fingerprints), and content diversity as the KMV
    //      distinct-3-gram ESTIMATE (the corpus-scale-safe stat; the
    //      global card keeps exact distincts as the oracle reference
    //      point). Two corpus passes — the per-source aggregate and
    //      the shingle-hash distinct — both source-keyed; everything
    //      after is |sources|-row metadata. ----
    QuerySpec("source_cards",
      (s, d) => {
        graft.functions.NativeExpressions.register(s)
        val k = 256
        val base = Tables.documents(s, d)
          .select(col("source"), col("lang"),
            md5(col("text")).as("fp"),
            size(TF.tokens(col("text"))).cast("long").as("nt"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("nt")).as("n_tokens"),
            countDistinct(col("lang")).as("n_langs"),
            countDistinct(col("fp")).as("n_distinct_docs"))
        // bounded min-k-distinct aggregate, not distinct + rank
        // window: ≤k hashes per source cross the exchange
        val sk = Tables.documents(s, d)
          .select(col("source"),
            explode(TF.shingles(TF.tokens(col("text")), 3)).as("g"))
          .select(col("source"),
            TF.hash60(concat(lit("kmv:"), col("g"))).as("h"))
          .groupBy(col("source"))
          .agg(call_function("min_k_distinct", col("h"), lit(k)).as("skv"))
          .select(col("source"),
            size(col("skv")).cast("long").as("m"),
            element_at(col("skv"), size(col("skv"))).as("h_k"))
          .select(col("source"),
            when(col("m") < k, col("m"))
              .otherwise(expr(s"CAST((CAST(${k - 1} AS DECIMAL(38,0)) * " +
                s"${1L << 60}) div h_k AS BIGINT)"))
              .as("est_distinct_3grams"))
        base.join(sk, Seq("source"))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            expr("(n_tokens * 1000000) div n_docs").as("mean_tokens_ppm"),
            col("n_langs"), col("n_distinct_docs"),
            col("est_distinct_3grams"))
          .orderBy(col("source"))
      },
      Some {
        val k = 256
        s"""WITH base AS (SELECT source, count(*)::BIGINT AS n_docs,
           |    sum(len(${toksSql("text")}))::BIGINT AS n_tokens,
           |    count(DISTINCT lang)::BIGINT AS n_langs,
           |    count(DISTINCT md5(text))::BIGINT AS n_distinct_docs
           |  FROM documents GROUP BY source),
           |tok AS (SELECT source, ${toksSql("text")} AS toks FROM documents),
           |t AS (SELECT source, unnest(${shinglesSql(3)}) AS g FROM tok),
           |h AS (SELECT DISTINCT source, ${h60("'kmv:' || g")} AS h FROM t),
           |r AS (SELECT source, h, row_number() OVER
           |    (PARTITION BY source ORDER BY h) AS rn FROM h),
           |sk AS (SELECT source, max(h) AS h_k, count(*)::BIGINT AS m
           |  FROM r WHERE rn <= $k GROUP BY source),
           |est AS (SELECT source,
           |    (CASE WHEN m < $k THEN m::HUGEINT
           |      ELSE (${k - 1}::HUGEINT * ${1L << 60}) // h_k END)::BIGINT
           |      AS est_distinct_3grams FROM sk)
           |SELECT source, n_docs, n_tokens,
           |  (n_tokens * 1000000) // n_docs AS mean_tokens_ppm,
           |  n_langs, n_distinct_docs, est_distinct_3grams
           |FROM base JOIN est USING (source) ORDER BY source""".stripMargin
      },
      bench = true),

    // ---- DSIR weight table: the trained importance model itself —
    //      per-bucket target/raw counts and the quantized log-ratio.
    //      Two shuffles to the B-bucket histograms (map-side combined;
    //      the shuffle is bucket-cardinality, not corpus-cardinality),
    //      a 1-row totals cross-join, integer bit-length arithmetic.
    //      At 100 TB nothing grows: the weight table stays B rows. ----
    QuerySpec("dsir_bucket_weights",
      (s, d) => {
        val grams = TrackedCache.persist(dsirGrams(s, d))
        dsirWeightsFrame(s, d, grams).orderBy(col("bucket"))
      },
      Some(s"""WITH $dsirWeightsSql
              |SELECT bucket, target_cnt, raw_cnt, llr_bits FROM w
              |ORDER BY bucket""".stripMargin),
      bench = true),

    // ---- DSIR selection: score every doc by Σ n_b · llr_bits(b) over
    //      its buckets (one broadcast join against the B-row weight
    //      table — the corpus never shuffles for scoring), then keep
    //      the top 25% via the score-HISTOGRAM threshold (the
    //      classifier_threshold_for_rate shape: the cumulative runs
    //      over distinct scores, never a corpus sort). Deterministic:
    //      kept = score ≥ t where t is the most permissive score whose
    //      keep count stays within budget; an over-budget-at-the-top
    //      degenerate keeps nothing (coalesce false), the
    //      threshold_by_source convention. ----
    QuerySpec("sample_dsir",
      (s, d) => {
        val grams = TrackedCache.persist(dsirGrams(s, d))
        val w = broadcast(dsirWeightsFrame(s, d, grams))
        val perDoc = grams.groupBy(col("doc_id"), col("bucket"))
          .agg(count(lit(1)).as("nb"))
          .join(w, Seq("bucket"))
          .groupBy(col("doc_id"))
          .agg(sum(col("nb") * col("llr_bits")).as("score"))
        // ds persisted, not just hist: the histogram job and the final
        // output join BOTH consume ds, and without the pin the second
        // consumer re-ran the whole weights+score chain — the weight
        // histograms, the target-quality text scan, and the per-doc
        // score aggregation each executed twice (r17; plan diff in
        // plans/r17/sample_dsir_*.txt). One row per doc (id + score),
        // the same thin-projection pin class as the capstone's.
        val ds = TrackedCache.persist(
          Tables.documents(s, d).select(col("doc_id"))
            .join(perDoc, Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("score"), lit(0L)).as("dsir_score")))
        val hist = TrackedCache.persist(
          ds.groupBy(col("dsir_score")).agg(count(lit(1)).as("nd")))
        val n = hist.agg(coalesce(sum(col("nd")), lit(0L)))
          .head().getLong(0)
        val cum = hist.withColumn("cum", sum(col("nd")).over(
          Window.orderBy(col("dsir_score").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val thr = broadcast(cum.filter(col("cum") <= n / 4)
          .agg(min(col("dsir_score")).as("thr")))
        ds.crossJoin(thr)
          .select(col("doc_id"), col("dsir_score"),
            coalesce(col("dsir_score") >= col("thr"), lit(false))
              .as("kept"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $dsirWeightsSql,
              |nb AS (SELECT doc_id, bucket, count(*)::BIGINT AS nb
              |  FROM gb GROUP BY 1, 2),
              |sc AS (SELECT doc_id, sum(nb * llr_bits)::BIGINT AS score
              |  FROM nb JOIN w USING (bucket) GROUP BY doc_id),
              |ds AS (SELECT d.doc_id, coalesce(score, 0)::BIGINT AS dsir_score
              |  FROM documents d LEFT JOIN sc USING (doc_id)),
              |hist AS (SELECT dsir_score, count(*) AS nd FROM ds GROUP BY 1),
              |nn AS (SELECT coalesce(sum(nd), 0)::BIGINT AS n FROM hist),
              |cum AS (SELECT dsir_score, sum(nd) OVER (ORDER BY dsir_score DESC
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              |  FROM hist),
              |thr AS (SELECT min(dsir_score) AS thr
              |  FROM cum CROSS JOIN nn WHERE cum <= n // 4)
              |SELECT doc_id, dsir_score,
              |  coalesce(dsir_score >= thr, false) AS kept
              |FROM ds CROSS JOIN thr ORDER BY doc_id""".stripMargin),
      bench = true),

    // ---- Zipf diagnostic: freq(r) / freq(10r) per top rank — a pure
    //      power law renders every decade ratio as the same 10^s. The
    //      rank table is VOCABULARY-scale (the one global row_number
    //      runs over distinct tokens, not the corpus; a 1e7-term
    //      vocabulary still ranks in one task — beyond that, the
    //      two-level Shuffle.withStagedPosition ranking applies). ----
    QuerySpec("zipf_decade_ratios",
      (s, d) => {
        val tf = Tables.documents(s, d)
          .select(explode(TF.tokens(col("text"))).as("token"))
          .groupBy(col("token")).agg(count(lit(1)).as("n"))
        val ranked = TrackedCache.persist(tf.select(col("token"), col("n"),
          row_number().over(Window.orderBy(col("n").desc,
            col("token").asc)).cast("long").as("rnk")))
        ranked.as("a")
          .join(ranked.as("b"), col("b.rnk") === col("a.rnk") * 10)
          .filter(col("a.rnk") <= 10)
          .select(col("a.rnk").as("r"), col("a.n").as("freq_r"),
            col("b.n").as("freq_10r"))
          .withColumn("ratio_ppm", expr("(freq_r * 1000000) div freq_10r"))
          .orderBy(col("r"))
      },
      Some(s"""WITH tok AS (SELECT ${toksSql("text")} AS toks FROM documents),
              |t AS (SELECT unnest(toks) AS token FROM tok),
              |tf AS (SELECT token, count(*)::BIGINT AS n FROM t GROUP BY 1),
              |rk AS (SELECT token, n, row_number() OVER (ORDER BY n DESC,
              |    token ASC) AS rnk FROM tf)
              |SELECT a.rnk AS r, a.n AS freq_r, b.n AS freq_10r,
              |  ((a.n * 1000000) // b.n)::BIGINT AS ratio_ppm
              |FROM rk a JOIN rk b ON b.rnk = a.rnk * 10
              |WHERE a.rnk <= 10 ORDER BY r""".stripMargin)),

    // ---- Heaps-law curve: cumulative vocabulary vs cumulative tokens
    //      across 20 doc_id-range prefixes of the corpus. The
    //      first-occurrence trick makes it one pass: a token's
    //      contribution to the vocabulary curve is min(bucket) over
    //      its occurrences — a vocabulary-scale aggregate — and the
    //      cumulations run over the 20-row bucket frame (metadata
    //      windows), never the corpus. ----
    QuerySpec("vocab_growth",
      (s, d) => {
        val mx = broadcast(Tables.documents(s, d)
          .agg(max(col("doc_id")).as("mx")))
        val tb = TrackedCache.persist(Tables.documents(s, d).crossJoin(mx)
          .select(expr("(doc_id * 20) div (mx + 1)").as("bucket"),
            explode(TF.tokens(col("text"))).as("t")))
        val toksPer = tb.groupBy(col("bucket"))
          .agg(count(lit(1)).as("toks"))
        val newVocab = tb.groupBy(col("t")).agg(min(col("bucket")).as("fb"))
          .groupBy(col("fb")).agg(count(lit(1)).as("nv"))
        val w = Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        toksPer.join(newVocab, col("bucket") === col("fb"), "left")
          .select(col("bucket"), col("toks"),
            coalesce(col("nv"), lit(0L)).as("nv"))
          .select(col("bucket"),
            sum(col("toks")).over(w).as("cum_tokens"),
            sum(col("nv")).over(w).as("cum_vocab"))
          .orderBy(col("bucket"))
      },
      Some(s"""WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
              |db AS (SELECT (doc_id * 20) // (mx + 1) AS bucket, text
              |  FROM documents CROSS JOIN mx),
              |tb AS (SELECT bucket, unnest(${toksSql("text")}) AS t FROM db),
              |tp AS (SELECT bucket, count(*)::BIGINT AS toks FROM tb GROUP BY 1),
              |fo AS (SELECT t, min(bucket) AS fb FROM tb GROUP BY 1),
              |nv AS (SELECT fb AS bucket, count(*)::BIGINT AS nv FROM fo GROUP BY 1),
              |j AS (SELECT tp.bucket AS bucket, toks,
              |    coalesce(nv, 0)::BIGINT AS nv
              |  FROM tp LEFT JOIN nv ON tp.bucket = nv.bucket)
              |SELECT bucket, (sum(toks) OVER w)::BIGINT AS cum_tokens,
              |  (sum(nv) OVER w)::BIGINT AS cum_vocab
              |FROM j WINDOW w AS (ORDER BY bucket
              |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |ORDER BY bucket""".stripMargin)),

    // ---- IVF with an UNTRAINED coarse quantizer: the first-K vectors
    //      as the centroid table (the deterministic stand-in a
    //      production deployment replaces with a fitted table — and
    //      `sim_ivf_trained_topk` does replace, passing KMeans.fit to
    //      the SAME ivfTopk construction; the two queries differ only
    //      in the centroid set). Assignment/probing are KMeans'
    //      shuffle-free literal-centroid projections, scoring the
    //      bounded-heap topk_pairs aggregate. ----
    QuerySpec("sim_ivf_centroid_topk",
      (s, d) => {
        NativeExpressions.register(s)
        val vecs = embVecs(s, d)
        ivfTopk(vecs, KMeans.initFirstK(vecs, 16), Seq(0L, 1L, 2L),
            nprobe = 2, k = 5)
          .orderBy(col("q_id"), col("rnk"))
      },
      Some(
        s"""WITH qv AS (SELECT vec_id AS id,
           |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
           |  FROM embeddings),
           |c0 AS (SELECT id AS c_id, v AS cv FROM qv ORDER BY id LIMIT 16),
           |${kmAssignSql("qv", "c0", "a0")},
           |${ivfSearchSql("a0", nprobe = 2, k = 5)}
           |SELECT q_id, neighbor_id, dot, rnk FROM ivf
           |ORDER BY q_id, rnk""".stripMargin)),

    // ---- IVF centroid TRAINING: 2 Lloyd updates of 8 centroids over
    //      the quantized corpus (operators/KMeans — assignment is a
    //      shuffle-free projection against driver-held literal
    //      centroids, recompute shuffles K×d partial sums), then the
    //      per-cell population/inertia under the fitted centroids.
    //      Integer-exact throughout, so DuckDB replays the whole
    //      training loop bit-for-bit. ----
    QuerySpec("kmeans_cells",
      (s, d) => {
        val vecs = Tables.embeddings(s, d).select(col("vec_id").as("id"),
          SF.quantize(col("embedding")).as("v"))
        KMeans.cellStats(vecs, KMeans.fit(vecs, k = 8, iters = 2))
      },
      Some(s"""WITH qv AS (SELECT vec_id AS id,
              |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
              |  FROM embeddings),
              |c0 AS (SELECT id AS c_id, v AS cv FROM qv ORDER BY id LIMIT 8),
              |${kmAssignSql("qv", "c0", "a1")},
              |${kmUpdateSql("a1", "c1", EmbDims)},
              |${kmAssignSql("qv", "c1", "a2")},
              |${kmUpdateSql("a2", "c2", EmbDims)},
              |${kmAssignSql("qv", "c2", "a3")}
              |SELECT cell, count(*) AS n_vectors,
              |  CAST(sum(d2) AS BIGINT) AS inertia
              |FROM a3 GROUP BY cell ORDER BY cell""".stripMargin),
      bench = true),

    // ---- Embedding drift monitor: assign BOTH corpus halves (a
    //      stand-in for two corpus snapshots — swap in yesterday's
    //      vs today's batch at ingestion time) to the SAME trained
    //      cells and compare per-cell mass in exact ppm. A cell whose
    //      share moves is a content mode growing or dying — the
    //      distribution-shift alarm an embedding-curation pipeline
    //      watches between crawls. Integer-exact (ppm by integer
    //      division, no float ratios), so the whole monitor is
    //      oracle-replayed. Scale shape: assignment is the
    //      shuffle-free literal-centroid projection; the half/cell
    //      counts are one map-side-combined aggregate; everything
    //      after is K-row metadata. ----
    QuerySpec("embedding_drift_cells",
      (s, d) => {
        NativeExpressions.register(s)
        val vecs = embVecs(s, d)
        val assigned = KMeans.assign(vecs, servedCentroids(s, d))
        val n = broadcast(vecs.agg(count(lit(1)).as("n")))
        val counts = assigned.crossJoin(n)
          .groupBy(col("cell")).agg(
            sum(when(col("id") * 2 < col("n"), 1L).otherwise(0L))
              .as("n_old"),
            sum(when(col("id") * 2 >= col("n"), 1L).otherwise(0L))
              .as("n_new"))
        val tots = broadcast(counts.agg(sum(col("n_old")).as("t_old"),
          sum(col("n_new")).as("t_new")))
        counts.crossJoin(tots)
          .select(col("cell"), col("n_old"), col("n_new"),
            expr("(n_old * 1000000) div t_old").as("ppm_old"),
            expr("(n_new * 1000000) div t_new").as("ppm_new"),
            abs(expr("(n_old * 1000000) div t_old") -
              expr("(n_new * 1000000) div t_new")).as("drift_ppm"))
          .orderBy(col("cell"))
      },
      Some(s"""WITH $kmTrainSql,
              |nn AS (SELECT count(*)::BIGINT AS n FROM embeddings),
              |c AS (SELECT cell,
              |    sum(CASE WHEN id * 2 < n THEN 1 ELSE 0 END)::BIGINT AS n_old,
              |    sum(CASE WHEN id * 2 >= n THEN 1 ELSE 0 END)::BIGINT AS n_new
              |  FROM a3 CROSS JOIN nn GROUP BY 1),
              |t AS (SELECT sum(n_old)::BIGINT AS t_old,
              |    sum(n_new)::BIGINT AS t_new FROM c)
              |SELECT cell, n_old, n_new,
              |  ((n_old * 1000000) // t_old)::BIGINT AS ppm_old,
              |  ((n_new * 1000000) // t_new)::BIGINT AS ppm_new,
              |  abs((n_old * 1000000) // t_old
              |    - (n_new * 1000000) // t_new)::BIGINT AS drift_ppm
              |FROM c CROSS JOIN t ORDER BY cell""".stripMargin)),

    // ---- The same trainer from the farthest-first (k-center) init:
    //      every init step is ALSO replayed by the oracle (assign to
    //      the current seeds, take the max-distance vector, ties to
    //      the lower id), so seed selection, training, and the final
    //      cells are all hash-checked. K=4 keeps the unrolled init
    //      chain readable. ----
    QuerySpec("kmeans_farthest_cells",
      (s, d) => {
        val vecs = Tables.embeddings(s, d).select(col("vec_id").as("id"),
          SF.quantize(col("embedding")).as("v"))
        KMeans.cellStats(vecs, KMeans.fitFarthest(vecs, k = 4, iters = 2))
      },
      Some {
        val k = 4
        val init = (1 until k).map { i =>
          s"""${kmAssignSql("qv", s"c${i - 1}", s"s$i")},
             |c$i AS (SELECT * FROM c${i - 1} UNION ALL
             |  SELECT id AS c_id, v AS cv FROM (
             |    SELECT id, v FROM s$i ORDER BY d2 DESC, id ASC LIMIT 1))"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH qv AS (SELECT vec_id AS id,
           |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
           |  FROM embeddings),
           |c0 AS (SELECT id AS c_id, v AS cv FROM qv ORDER BY id LIMIT 1),
           |$init,
           |${kmAssignSql("qv", s"c${k - 1}", "a1")},
           |${kmUpdateSql("a1", "t1", EmbDims)},
           |${kmAssignSql("qv", "t1", "a2")},
           |${kmUpdateSql("a2", "t2", EmbDims)},
           |${kmAssignSql("qv", "t2", "a3")}
           |SELECT cell, count(*) AS n_vectors,
           |  CAST(sum(d2) AS BIGINT) AS inertia
           |FROM a3 GROUP BY cell ORDER BY cell""".stripMargin
      }),

    // ---- The full IVF lifecycle in one query: TRAIN the coarse
    //      quantizer (2 Lloyd updates, operators/KMeans), ASSIGN the
    //      corpus (shuffle-free projection), PROBE each query's 2
    //      nearest cells, and SCORE candidates through the bounded-heap
    //      topk_pairs aggregate. Candidates are ~nprobe/K of the
    //      corpus; every stage is integer-exact, so the oracle replays
    //      training AND search bit-for-bit. ----
    QuerySpec("sim_ivf_trained_topk",
      (s, d) => trainedIvfTopk(s, d).orderBy(col("q_id"), col("rnk")),
      Some(s"""WITH $trainedIvfSql
              |SELECT q_id, neighbor_id, dot, rnk FROM ivf
              |ORDER BY q_id, rnk""".stripMargin),
      bench = true),

    // ---- The SERVED IVF index (operators/IvfIndex): the answer to
    //      "an index that retrains per query is a demo". The quantizer
    //      trains ONCE per corpus (ingestion-time; here memoized per
    //      JVM) and publishes centroids + assignments through the
    //      commit log; this query is the steady-state serving path —
    //      log-snapshot scan, broadcast probes, bounded-heap top-k,
    //      and NOT ONE Lloyd iteration in the plan (pinned by
    //      IvfIndexSpec). Must return bit-identically what
    //      sim_ivf_trained_topk computes train-side — same oracle. ----
    QuerySpec("sim_ivf_served_topk",
      (s, d) => {
        NativeExpressions.register(s)
        val idx = servedIvfIndex(s, d)
        IvfIndex.search(s, idx, Seq(0L, 1L, 2L), nprobe = 2, k = 5)
          .orderBy(col("q_id"), col("rnk"))
      },
      Some(s"""WITH $trainedIvfSql
              |SELECT q_id, neighbor_id, dot, rnk FROM ivf
              |ORDER BY q_id, rnk""".stripMargin),
      bench = true),

    // ---- Filtered search through the TRAINED IVF — the scale path of
    //      sim_filtered_topk: the metadata predicate semi-joins the
    //      ASSIGNED corpus (8-byte keys) before the probe join, so the
    //      index scan itself shrinks — probes rank against the full
    //      centroid geometry (the index is shared across predicates;
    //      per-predicate re-training would defeat it), candidates are
    //      filtered-then-scored, and the bounded heap never holds an
    //      excluded neighbor. ----
    QuerySpec("sim_filtered_ivf_topk",
      (s, d) => filteredIvfTopk(s, d).orderBy(col("q_id"), col("rnk")),
      Some(s"""WITH $filteredIvfSql
              |SELECT q_id, neighbor_id, dot, rnk FROM fivf
              |ORDER BY q_id, rnk""".stripMargin)),

    // ---- Filtered search through the SERVED index: the steady-state
    //      twin of sim_filtered_ivf_topk. The predicate's column
    //      (lang) was committed ALONGSIDE the vectors at build time
    //      with its per-file stats plane, and searchFiltered composes
    //      BOTH skipping planes before scan planning — cell pruning
    //      (probed partition dirs) then FileStats min/max refutation —
    //      with the predicate still applied row-level on survivors.
    //      Same pre-filter semantics, same oracle as the trained
    //      path; the file-skip asymmetry is pinned in IvfIndexSpec. ----
    QuerySpec("sim_filtered_served_topk",
      (s, d) => {
        NativeExpressions.register(s)
        val idx = servedIvfIndex(s, d)
        IvfIndex.searchFiltered(s, idx, Seq(0L, 1L, 2L), nprobe = 2,
            k = 5, col("lang") === "en")
          .orderBy(col("q_id"), col("rnk"))
      },
      Some(s"""WITH $filteredIvfSql
              |SELECT q_id, neighbor_id, dot, rnk FROM fivf
              |ORDER BY q_id, rnk""".stripMargin)),

    // ---- Filtered serving through the BLOOM point plane: the
    //      predicate is an equality on a 20-value column whose values
    //      interleave across every committed file, so a min/max range
    //      can never refute — the shape where only a per-file Bloom
    //      filter skips I/O. searchFiltered composes all three planes
    //      before scan planning (cell pruning → FileStats → FileBloom)
    //      and still applies the predicate row-level, so the result is
    //      exactly the pre-filter ranking the one shared oracle
    //      construction replays. File-count reduction on an
    //      interleaved-equality predicate is pinned in IvfIndexSpec. ----
    QuerySpec("sim_filtered_bloom_topk",
      (s, d) => {
        NativeExpressions.register(s)
        val idx = servedIvfIndex(s, d)
        IvfIndex.searchFiltered(s, idx, Seq(0L, 1L, 2L), nprobe = 2,
            k = 5, col("source") === "src7")
          .orderBy(col("q_id"), col("rnk"))
      },
      Some(s"""WITH ${filteredIvfSqlWhere("source = 'src7'")}
              |SELECT q_id, neighbor_id, dot, rnk FROM fivf
              |ORDER BY q_id, rnk""".stripMargin)),

    // ---- Recall@5 of the FILTERED IVF against the filtered brute
    //      force — the measured answer to the question every
    //      pre-filtering index must face: does probing only nprobe
    //      cells still find the true (predicate-respecting) neighbors?
    //      Same deterministic-integer-ranking discipline as
    //      sim_ivf_recall, with BOTH sides restricted to the
    //      predicate, so the eval grades the index, not the filter. ----
    QuerySpec("sim_filtered_recall",
      (s, d) => {
        val ivf = filteredIvfTopk(s, d).select(col("q_id"), col("neighbor_id"))
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), SF.quantize(col("embedding")).as("v"))
        val en = Tables.documents(s, d).filter(col("lang") === "en")
          .select(col("doc_id").as("vec_id"))
        val q = emb.filter(col("vec_id").isin(0L, 1L, 2L))
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
        val bf = emb.join(en, Seq("vec_id"), "left_semi")
          .crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("neighbor_id"),
            call_function("dot_i64", col("qv"), col("v")).as("dot"))
          .groupBy(col("q_id"))
          .agg(call_function("topk_pairs", col("dot"), col("neighbor_id"),
            lit(5)).as("top"))
          .select(col("q_id"), explode(col("top.id")).as("neighbor_id"))
        val hits = ivf.join(bf, Seq("q_id", "neighbor_id"))
          .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
        bf.select(col("q_id")).distinct()
          .join(hits, Seq("q_id"), "left")
          .select(col("q_id"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
          .withColumn("recall", col("n_hit").cast("double") / 5.0)
          .orderBy(col("q_id"))
      },
      Some(s"""WITH $filteredIvfSql,
              |bf_d AS (SELECT q.q_id, a.id AS neighbor_id,
              |    CAST(list_sum(list_transform(list_zip(q.qv, a.v),
              |      p -> p[1] * p[2])) AS BIGINT) AS dot
              |  FROM af a CROSS JOIN (SELECT id AS q_id, v AS qv FROM qv
              |    WHERE id IN (0, 1, 2)) q
              |  WHERE a.id <> q.q_id),
              |bf_r AS (SELECT *, row_number() OVER (PARTITION BY q_id
              |    ORDER BY dot DESC, neighbor_id ASC) AS rnk FROM bf_d),
              |bf AS (SELECT q_id, neighbor_id FROM bf_r WHERE rnk <= 5),
              |hits AS (SELECT i.q_id, count(*)::BIGINT AS n_hit
              |  FROM fivf i JOIN bf b
              |    ON i.q_id = b.q_id AND i.neighbor_id = b.neighbor_id
              |  GROUP BY 1)
              |SELECT q.q_id, coalesce(n_hit, 0) AS n_hit,
              |  CAST(coalesce(n_hit, 0) AS DOUBLE) / 5.0 AS recall
              |FROM (SELECT DISTINCT q_id FROM bf) q
              |LEFT JOIN hits USING (q_id)
              |ORDER BY q_id""".stripMargin)),

    // ---- Measure, don't guess: recall@5 of the trained IVF against
    //      exact brute force, per query. Both sides are deterministic
    //      integer rankings, so even the evaluation is oracle-checked —
    //      the ANN quality knobs (K, iters, nprobe) have a measured,
    //      reproducible recall, not a vibe. ----
    QuerySpec("sim_ivf_recall",
      (s, d) => {
        val ivf = trainedIvfTopk(s, d).select(col("q_id"), col("neighbor_id"))
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), SF.quantize(col("embedding")).as("v"))
        val q = emb.filter(col("vec_id").isin(0L, 1L, 2L))
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
        val bf = emb.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("neighbor_id"),
            call_function("dot_i64", col("qv"), col("v")).as("dot"))
          .groupBy(col("q_id"))
          .agg(call_function("topk_pairs", col("dot"), col("neighbor_id"),
            lit(5)).as("top"))
          .select(col("q_id"), explode(col("top.id")).as("neighbor_id"))
        val hits = ivf.join(bf, Seq("q_id", "neighbor_id"))
          .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
        bf.select(col("q_id")).distinct()
          .join(hits, Seq("q_id"), "left")
          .select(col("q_id"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
          .withColumn("recall", col("n_hit").cast("double") / 5.0)
          .orderBy(col("q_id"))
      },
      Some(s"""WITH $trainedIvfSql,
              |bf_d AS (SELECT q.q_id, a.id AS neighbor_id,
              |    CAST(list_sum(list_transform(list_zip(q.qv, a.v),
              |      p -> p[1] * p[2])) AS BIGINT) AS dot
              |  FROM qv a CROSS JOIN (SELECT id AS q_id, v AS qv FROM qv
              |    WHERE id IN (0, 1, 2)) q
              |  WHERE a.id <> q.q_id),
              |bf_r AS (SELECT *, row_number() OVER (PARTITION BY q_id
              |    ORDER BY dot DESC, neighbor_id ASC) AS rnk FROM bf_d),
              |bf AS (SELECT q_id, neighbor_id FROM bf_r WHERE rnk <= 5),
              |hits AS (SELECT i.q_id, count(*) AS n_hit
              |  FROM ivf i JOIN bf b
              |    ON i.q_id = b.q_id AND i.neighbor_id = b.neighbor_id
              |  GROUP BY 1)
              |SELECT q.q_id, coalesce(n_hit, 0) AS n_hit,
              |  CAST(coalesce(n_hit, 0) AS DOUBLE) / 5.0 AS recall
              |FROM (SELECT DISTINCT q_id FROM bf) q
              |LEFT JOIN hits USING (q_id)
              |ORDER BY q_id""".stripMargin)),

    // ---- Embedding OUTLIER detection — the OOD-filtering stage of an
    //      embedding-quality pipeline (SemDeDup prunes what's too
    //      close; this surfaces what's too FAR): per trained cell, the
    //      k members farthest from their own centroid, integer-exact
    //      squared distance straight off the assignment. Scale shape:
    //      assignment is the shuffle-free literal-centroid projection
    //      and the per-cell ranking runs through the bounded-heap
    //      topk_pairs aggregate — the exchange carries O(cells×k),
    //      never a corpus window. ----
    QuerySpec("outlier_embedding_topk",
      (s, d) => {
        NativeExpressions.register(s)
        val vecs = embVecs(s, d)
        KMeans.assign(vecs, servedCentroids(s, d))
          .groupBy(col("cell"))
          .agg(call_function("topk_pairs", col("d2"), col("id"),
            lit(3)).as("top"))
          .select(col("cell"), posexplode(col("top")).as(Seq("pos", "p")))
          .select(col("cell"), col("p.id").as("vec_id"),
            col("p.ord").as("d2"), (col("pos") + 1).cast("long").as("rnk"))
          .orderBy(col("cell"), col("rnk"))
      },
      Some(s"""WITH $kmTrainSql,
              |r AS (SELECT cell, id, d2, row_number() OVER (
              |    PARTITION BY cell ORDER BY d2 DESC, id ASC) AS rnk
              |  FROM a3)
              |SELECT cell, id AS vec_id, d2, rnk FROM r WHERE rnk <= 3
              |ORDER BY cell, rnk""".stripMargin)),

    // ---- Cluster-balanced sampling: select an EMBEDDING-SPACE
    //      balanced subset — per trained k-means cell, up to B vectors
    //      by deterministic hash rank. Where sample_balanced_sources
    //      equalizes a metadata column, this equalizes semantic
    //      regions: over-represented content modes (one cell = one
    //      mode) are capped instead of dominating the mix, the
    //      diversity-selection stage of an embedding curation
    //      pipeline. Scale shape: assignment is the shuffle-free
    //      literal-centroid projection, the hash gives every vector a
    //      reproducible rank with no RNG state, and the per-cell cap
    //      runs through the bounded-heap topk_pairs aggregate — the
    //      exchange carries O(cells × B), never a corpus sort or
    //      window. ----
    QuerySpec("sample_cluster_balanced",
      (s, d) => {
        NativeExpressions.register(s)
        val vecs = embVecs(s, d)
        val asg = KMeans.assign(vecs, servedCentroids(s, d))
        // topk_pairs ranks (ord DESC, id ASC); negating the hash makes
        // that (hash ASC, id ASC) — the smallest-hash B per cell
        val h = call_function("hash60_md5",
          concat(lit("cb:"), col("id").cast("string")).cast("binary"))
        asg.select(col("cell"), col("id"), (-h).as("nh"))
          .groupBy(col("cell"))
          .agg(count(lit(1)).as("n_cell"),
            call_function("topk_pairs", col("nh"), col("id"),
              lit(8)).as("top"))
          .select(col("cell"), col("n_cell"),
            posexplode(col("top")).as(Seq("pos", "p")))
          .select(col("cell"), col("n_cell"), col("p.id").as("vec_id"),
            (col("pos") + 1).cast("long").as("rnk"))
          .orderBy(col("cell"), col("rnk"))
      },
      Some(s"""WITH $kmTrainSql,
              |nc AS (SELECT cell, count(*) AS n_cell FROM a3 GROUP BY 1),
              |r AS (SELECT cell, id, row_number() OVER (
              |    PARTITION BY cell
              |    ORDER BY ${h60("'cb:' || CAST(id AS VARCHAR)")} ASC, id ASC
              |  ) AS rnk FROM a3)
              |SELECT r.cell, n_cell, id AS vec_id, rnk FROM r
              |JOIN nc ON r.cell = nc.cell WHERE rnk <= 8
              |ORDER BY r.cell, rnk""".stripMargin)),

    // ---- Scalar-quantized (int8) ANN: the memory-compression scale
    //      path — 64 byte-range codes stand in for 64 longs, an 8×
    //      smaller scan at search time on a 100 TB corpus. The global
    //      absmax scale is learned in one map-side-combined aggregate
    //      (a single scalar) and enters the encode projection as a
    //      plan literal (zero joins); ranking runs the same
    //      broadcast-queries + bounded-heap shape as sim_topk_agg,
    //      just over codes. The remainder-subtraction trick makes the
    //      floor division integer-exact, so the oracle replays the
    //      codes bit-for-bit — quantization is deterministic
    //      compression, not noise. ----
    QuerySpec("sim_sq8_topk",
      (s, d) => {
        NativeExpressions.register(s)
        val codes = TrackedCache.persist(sq8Codes(s, d))
        val q = codes.filter(col("id").isin(0L, 1L, 2L))
          .select(col("id").as("q_id"), col("c").as("qc"))
        codes.crossJoin(broadcast(q))
          .filter(col("id") =!= col("q_id"))
          .select(col("q_id"), col("id").as("neighbor_id"),
            call_function("dot_i64", col("qc"), col("c")).as("qdot"))
          .groupBy(col("q_id"))
          .agg(call_function("topk_pairs", col("qdot"), col("neighbor_id"),
            lit(5)).as("top"))
          .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "p")))
          .select(col("q_id"), col("p.id").as("neighbor_id"),
            col("p.ord").as("qdot"), (col("pos") + 1).cast("long").as("rnk"))
          .orderBy(col("q_id"), col("rnk"))
      },
      Some(s"""WITH $sq8Sql,
              |qd AS (SELECT q.id AS q_id, a.id AS neighbor_id,
              |    CAST(list_sum(list_transform(list_zip(q.c, a.c),
              |      p -> p[1] * p[2])) AS BIGINT) AS qdot
              |  FROM codes a CROSS JOIN
              |    (SELECT id, c FROM codes WHERE id IN (0, 1, 2)) q
              |  WHERE a.id <> q.id),
              |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
              |    ORDER BY qdot DESC, neighbor_id ASC) AS rnk FROM qd)
              |SELECT q_id, neighbor_id, qdot, rnk FROM r WHERE rnk <= 5
              |ORDER BY q_id, rnk""".stripMargin),
      bench = true),

    // ---- Measure, don't guess: recall@5 of the int8-quantized search
    //      against the exact integer dot — the number that tells you
    //      whether 8× compression actually costs accuracy on this
    //      corpus. Both rankings replayed exactly by the oracle. ----
    QuerySpec("sim_sq8_recall",
      (s, d) => {
        NativeExpressions.register(s)
        val vecs = TrackedCache.persist(embVecs(s, d))
        val codes = TrackedCache.persist(sq8Codes(s, d))
        recallAt5(bruteTop5(codes, "c"), bruteTop5(vecs, "v"))
      },
      Some(s"""WITH $sq8Sql,
              |sqd AS (SELECT q.id AS q_id, a.id AS neighbor_id,
              |    CAST(list_sum(list_transform(list_zip(q.c, a.c),
              |      p -> p[1] * p[2])) AS BIGINT) AS ord
              |  FROM codes a CROSS JOIN
              |    (SELECT id, c FROM codes WHERE id IN (0, 1, 2)) q
              |  WHERE a.id <> q.id),
              |sqr AS (SELECT *, row_number() OVER (PARTITION BY q_id
              |    ORDER BY ord DESC, neighbor_id ASC) AS rnk FROM sqd),
              |sqt AS (SELECT q_id, neighbor_id FROM sqr WHERE rnk <= 5),
              |$exactTop5Sql,
              |${recallTailSql("sqt")}""".stripMargin)),

    // ---- Product quantization with ADC (asymmetric distance) search
    //      — the standard billion-scale ANN index layout: M=8 subspace
    //      codebooks (trained Lloyd per subspace, replayed bit-for-bit
    //      by the oracle), each vector encoded to M small codes in ONE
    //      shuffle-free projection (KMeans.cellOf per subspace — no
    //      per-subspace join). Search never touches vectors: the query
    //      side precomputes a (query × subspace × centroid) partial-dot
    //      LUT — O(Q·M·K) rows, broadcast — and candidate scores are
    //      re-assembled from code lookups alone: explode codes to
    //      (id, m, code), broadcast-join the LUT, two map-side-combined
    //      aggregates ((q,id) sum then per-q bounded heap). At 100 TB
    //      the scan is M bytes per vector and the exchanges carry
    //      O(n·M) skinny rows then O(q·k). ----
    QuerySpec("sim_pq_adc_topk",
      (s, d) => {
        NativeExpressions.register(s)
        val vecs = TrackedCache.persist(embVecs(s, d))
        pqAdcRanked(s, vecs).orderBy(col("q_id"), col("rnk"))
      },
      Some(s"""WITH $pqSql,
              |$pqRankSql
              |SELECT q_id, neighbor_id, adc, rnk FROM r WHERE rnk <= 5
              |ORDER BY q_id, rnk""".stripMargin),
      bench = true),

    // ---- The SERVED PQ index — `sim_ivf_served_topk`'s ADC twin:
    //      codebooks + per-vector codes published once through the
    //      commit log (operators/IvfIndex.buildPq), and this query is
    //      the steady-state ADC serving path: codes-topic snapshot
    //      scan (parquet column pruning keeps it to (id, codes) — the
    //      raw vector column rides the topic for query-by-member but
    //      never enters the corpus-side scan), broadcast query LUT,
    //      code-lookup score re-assembly, bounded heap. No
    //      fitSubspaces / Lloyd anywhere in the plan. Bit-identical
    //      to sim_pq_adc_topk — same oracle. ----
    QuerySpec("sim_pq_served_topk",
      (s, d) => {
        NativeExpressions.register(s)
        val idx = servedPqIndex(s, d)
        IvfIndex.searchPq(s, idx, Seq(0L, 1L, 2L), PqSubDims, k = 5)
          .orderBy(col("q_id"), col("rnk"))
      },
      Some(s"""WITH $pqSql,
              |$pqRankSql
              |SELECT q_id, neighbor_id, adc, rnk FROM r WHERE rnk <= 5
              |ORDER BY q_id, rnk""".stripMargin),
      bench = true),

    // ---- Two-stage PQ serving: ADC shortlist + exact re-rank — the
    //      standard retrieval recipe. Stage 1 ranks the WHOLE corpus
    //      from 8-byte codes (the served index's ADC path, top-c with
    //      c = PqShortlist standing in for production's c≈4k); stage 2
    //      fetches full vectors for ONLY the q·c shortlist rows (the
    //      shortlist broadcasts into the codes topic — a scan-side
    //      probe, never a corpus shuffle) and re-ranks with the exact
    //      codegen'd dot. Compression economics of PQ, exactness of
    //      brute force over the part that matters. ----
    QuerySpec("sim_pq_refined_topk",
      (s, d) => {
        NativeExpressions.register(s)
        val idx = servedPqIndex(s, d)
        IvfIndex.searchPqRefined(s, idx, Seq(0L, 1L, 2L), PqSubDims,
            shortlist = PqShortlist, k = 5)
          .orderBy(col("q_id"), col("rnk"))
      },
      Some(s"""WITH $pqSql,
              |$pqRankSql,
              |$pqRefineSql
              |SELECT q_id, neighbor_id, dot, rnk FROM rr WHERE rnk <= 5
              |ORDER BY q_id, rnk""".stripMargin),
      bench = true),

    // ---- recall@5 of the refined two-stage ranking — ≥ the ADC-only
    //      `sim_pq_recall` by construction (re-ranking an ADC superset
    //      with the exact metric can only fix inversions); PqRefineSpec
    //      pins the inequality, this query publishes the number. ----
    QuerySpec("sim_pq_refined_recall",
      (s, d) => {
        NativeExpressions.register(s)
        val idx = servedPqIndex(s, d)
        val vecs = TrackedCache.persist(embVecs(s, d))
        recallAt5(
          IvfIndex.searchPqRefined(s, idx, Seq(0L, 1L, 2L), PqSubDims,
            shortlist = PqShortlist, k = 5)
            .select(col("q_id"), col("neighbor_id")),
          bruteTop5(vecs, "v"))
      },
      Some(s"""WITH $pqSql,
              |$pqRankSql,
              |$pqRefineSql,
              |prt AS (SELECT q_id, neighbor_id FROM rr WHERE rnk <= 5),
              |$exactTop5Sql,
              |${recallTailSql("prt")}""".stripMargin)),

    // ---- IVF-PQ: the two served flavors composed into the layout
    //      actually deployed at billion-vector scale — coarse cells
    //      give FILE-LEVEL pruning (probes drop unprobed cells' files
    //      before the scan is planned), PQ codes the RESIDUAL
    //      v − centroid (smaller, better-centered → same code budget
    //      quantizes more faithfully). ADC score = centroid dot +
    //      residual-LUT sum, exact integer arithmetic end to end, so
    //      the served ranking hash-matches an oracle that replays
    //      coarse Lloyd + residual-PQ training + probe + score. At
    //      100 TB the search reads ~nprobe/K of the index's files and
    //      M code bytes per scanned vector. ----
    QuerySpec("sim_ivfpq_topk",
      (s, d) => {
        NativeExpressions.register(s)
        val idx = servedIvfPqIndex(s, d)
        IvfIndex.searchIvfPq(s, idx, Seq(0L, 1L, 2L), PqSubDims,
            nprobe = 2, k = 5)
          .orderBy(col("q_id"), col("rnk"))
      },
      Some(s"""WITH ${ivfPqSql(nprobe = 2)}
              |SELECT q_id, neighbor_id, adc, rnk FROM ir WHERE rnk <= 5
              |ORDER BY q_id, rnk""".stripMargin),
      bench = true),

    // ---- Filtered serving on the full production stack: the IVF-PQ
    //      residual-ADC ranking restricted to a metadata predicate
    //      whose column (lang) was committed alongside the codes with
    //      its stats plane. Cell pruning + FileStats refutation + a
    //      row-level filter compose BEFORE the ADC join, so the heap
    //      never holds an excluded neighbor and — when appends are
    //      clustered by the filter column — the scan plans only the
    //      matching files. Oracle = the IVF-PQ chain with the same
    //      predicate on the candidate set. ----
    QuerySpec("sim_filtered_ivfpq_topk",
      (s, d) => {
        NativeExpressions.register(s)
        val idx = servedIvfPqIndex(s, d)
        IvfIndex.searchIvfPqFiltered(s, idx, Seq(0L, 1L, 2L), PqSubDims,
            nprobe = 2, k = 5, col("lang") === "en")
          .orderBy(col("q_id"), col("rnk"))
      },
      Some(s"""WITH ${ivfPqSql(nprobe = 2, candFilter =
                 " AND a.id IN (SELECT doc_id FROM documents" +
                 " WHERE lang = 'en')")}
              |SELECT q_id, neighbor_id, adc, rnk FROM ir WHERE rnk <= 5
              |ORDER BY q_id, rnk""".stripMargin)),

    // ---- The bloom-filtered IVF-PQ twin of sim_filtered_bloom_topk:
    //      an equality on the 20-value interleaved `source` column
    //      (committed with its FileBloom plane) composes all THREE
    //      skipping planes under the residual-ADC stack — cell pruning
    //      → FileStats → FileBloom — before the codes scan is planned.
    //      Same shared parameterized oracle chain. ----
    QuerySpec("sim_filtered_bloom_ivfpq_topk",
      (s, d) => {
        NativeExpressions.register(s)
        val idx = servedIvfPqIndex(s, d)
        IvfIndex.searchIvfPqFiltered(s, idx, Seq(0L, 1L, 2L), PqSubDims,
            nprobe = 2, k = 5, col("source") === "src7")
          .orderBy(col("q_id"), col("rnk"))
      },
      Some(s"""WITH ${ivfPqSql(nprobe = 2, candFilter =
                 " AND a.id IN (SELECT doc_id FROM documents" +
                 " WHERE source = 'src7')")}
              |SELECT q_id, neighbor_id, adc, rnk FROM ir WHERE rnk <= 5
              |ORDER BY q_id, rnk""".stripMargin)),

    // ---- recall@5 of the IVF-PQ ranking vs exact brute force — the
    //      number that prices the nprobe/K file-pruning + 64×
    //      compression against plain IVF (sim_ivf_recall) and raw PQ
    //      (sim_pq_recall) on the same corpus. ----
    QuerySpec("sim_ivfpq_recall",
      (s, d) => {
        NativeExpressions.register(s)
        val idx = servedIvfPqIndex(s, d)
        val vecs = TrackedCache.persist(embVecs(s, d))
        recallAt5(
          IvfIndex.searchIvfPq(s, idx, Seq(0L, 1L, 2L), PqSubDims,
            nprobe = 2, k = 5).select(col("q_id"), col("neighbor_id")),
          bruteTop5(vecs, "v"))
      },
      Some(s"""WITH ${ivfPqSql(nprobe = 2)},
              |ipt AS (SELECT q_id, neighbor_id FROM ir WHERE rnk <= 5),
              |$exactTop5Sql,
              |${recallTailSql("ipt")}""".stripMargin)),

    // ---- The FULL production retrieval stack: file-pruned cell
    //      probe → residual-ADC shortlist → exact re-rank. The
    //      re-rank removes the residual quantization error (measured:
    //      IVF-PQ ADC-only recall 0.2 avg on this isotropic corpus →
    //      refined converges to plain IVF's recall at the same
    //      nprobe), while the scan still reads ~nprobe/K of the
    //      index's files and M code bytes per scanned vector; full
    //      vectors are fetched for q·shortlist rows only. ----
    QuerySpec("sim_ivfpq_refined_topk",
      (s, d) => {
        NativeExpressions.register(s)
        val idx = servedIvfPqIndex(s, d)
        IvfIndex.searchIvfPqRefined(s, idx, Seq(0L, 1L, 2L), PqSubDims,
            nprobe = 2, shortlist = PqShortlist, k = 5)
          .orderBy(col("q_id"), col("rnk"))
      },
      Some(s"""WITH ${ivfPqSql(nprobe = 2)},
              |ishort AS (SELECT q_id, neighbor_id FROM ir WHERE rnk <= $PqShortlist),
              |iq AS (SELECT DISTINCT q_id, qv FROM iprobe),
              |iex AS (SELECT s.q_id, s.neighbor_id,
              |    CAST(list_sum(list_transform(list_zip(q.qv, a.v),
              |      p -> p[1] * p[2])) AS BIGINT) AS dot
              |  FROM ishort s JOIN qv a ON a.id = s.neighbor_id
              |    JOIN iq q ON q.q_id = s.q_id),
              |irr AS (SELECT *, row_number() OVER (PARTITION BY q_id
              |    ORDER BY dot DESC, neighbor_id ASC) AS rnk FROM iex)
              |SELECT q_id, neighbor_id, dot, rnk FROM irr WHERE rnk <= 5
              |ORDER BY q_id, rnk""".stripMargin),
      bench = true),

    // ---- recall@5 of the refined IVF-PQ stack — the cell-coverage
    //      bound made visible: ≥ ADC-only `sim_ivfpq_recall`, ≈ plain
    //      IVF's recall at the same nprobe. ----
    QuerySpec("sim_ivfpq_refined_recall",
      (s, d) => {
        NativeExpressions.register(s)
        val idx = servedIvfPqIndex(s, d)
        val vecs = TrackedCache.persist(embVecs(s, d))
        recallAt5(
          IvfIndex.searchIvfPqRefined(s, idx, Seq(0L, 1L, 2L), PqSubDims,
            nprobe = 2, shortlist = PqShortlist, k = 5)
            .select(col("q_id"), col("neighbor_id")),
          bruteTop5(vecs, "v"))
      },
      Some(s"""WITH ${ivfPqSql(nprobe = 2)},
              |ishort AS (SELECT q_id, neighbor_id FROM ir WHERE rnk <= $PqShortlist),
              |iq AS (SELECT DISTINCT q_id, qv FROM iprobe),
              |iex AS (SELECT s.q_id, s.neighbor_id,
              |    CAST(list_sum(list_transform(list_zip(q.qv, a.v),
              |      p -> p[1] * p[2])) AS BIGINT) AS dot
              |  FROM ishort s JOIN qv a ON a.id = s.neighbor_id
              |    JOIN iq q ON q.q_id = s.q_id),
              |irr AS (SELECT *, row_number() OVER (PARTITION BY q_id
              |    ORDER BY dot DESC, neighbor_id ASC) AS rnk FROM iex),
              |ipt AS (SELECT q_id, neighbor_id FROM irr WHERE rnk <= 5),
              |$exactTop5Sql,
              |${recallTailSql("ipt")}""".stripMargin)),

    // ---- Measure, don't guess, PQ edition: recall@5 of the 8-byte
    //      ADC ranking against the exact integer dot — 64× compression.
    //      The synthetic corpus is near-isotropic noise, vector
    //      quantization's WORST case (no cluster structure for the
    //      codebooks to exploit), and the measured ~0.5 recall says so
    //      — which is exactly the number an operator needs before
    //      trusting PQ on a real (clustered) embedding space. M=4/K=8
    //      measured lower (≈0.27 avg) and was rejected; both rankings
    //      and the codebook training replay bit-for-bit in the
    //      oracle. ----
    QuerySpec("sim_pq_recall",
      (s, d) => {
        NativeExpressions.register(s)
        val vecs = TrackedCache.persist(embVecs(s, d))
        recallAt5(pqAdcRanked(s, vecs).select(col("q_id"), col("neighbor_id")),
          bruteTop5(vecs, "v"))
      },
      Some(s"""WITH $pqSql,
              |$pqRankSql,
              |pqt AS (SELECT q_id, neighbor_id FROM r WHERE rnk <= 5),
              |$exactTop5Sql,
              |${recallTailSql("pqt")}""".stripMargin)),

    // ---- Contrastive pair mining: per query, one positive (exact
    //      nearest neighbor through the bounded-heap aggregate) and
    //      three negatives drawn by DETERMINISTIC hash — no RNG, so
    //      the sample is reproducible and oracle-checkable. Collisions
    //      with the query or its positive are skipped by taking the
    //      first 3 surviving candidates in hash order — the standard
    //      "random negatives" recipe for contrastive embedding
    //      training, made engine-exact. ----
    QuerySpec("contrastive_pairs",
      (s, d) => {
        NativeExpressions.register(s)
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), SF.quantize(col("embedding")).as("v"))
        val n = emb.agg(count(lit(1)).as("n_total"))
        val q = emb.filter(col("vec_id").isin(0L, 1L, 2L))
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
        val pos = emb.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"),
            call_function("dot_i64", col("qv"), col("v")).as("dot"),
            col("vec_id"))
          .groupBy(col("q_id"))
          .agg(call_function("topk_pairs", col("dot"), col("vec_id"),
            lit(1)).as("top"))
          .select(col("q_id"),
            element_at(col("top"), 1).getField("id").as("pos_id"))
        val negs = q.select(col("q_id")).crossJoin(broadcast(n))
          .select(col("q_id"), col("n_total"),
            explode(sequence(lit(0L), lit(4L))).as("j"))
          .select(col("q_id"), col("j"),
            (TF.hash60(concat(lit("neg:"), col("q_id").cast("string"),
              lit(":"), col("j").cast("string"))) % col("n_total"))
              .as("cand"))
          .join(pos, Seq("q_id"))
          .filter(col("cand") =!= col("q_id") && col("cand") =!= col("pos_id"))
          .withColumn("rnk", row_number().over(
            Window.partitionBy(col("q_id")).orderBy(col("j"))))
          .filter(col("rnk") <= 3)
          .select(col("q_id"), lit("neg").as("kind"),
            col("cand").as("pair_id"), col("rnk"))
        pos.select(col("q_id"), lit("pos").as("kind"),
            col("pos_id").as("pair_id"), lit(0).as("rnk"))
          .unionByName(negs)
          .orderBy(col("q_id"), col("rnk"))
      },
      Some {
        val negHash = h60("'neg:' || CAST(q_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)")
        s"""WITH qv AS (SELECT vec_id,
           |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
           |  FROM embeddings),
           |n AS (SELECT count(*) AS n_total FROM qv),
           |q AS (SELECT vec_id AS q_id, v AS qv FROM qv WHERE vec_id IN (0, 1, 2)),
           |dots AS (SELECT q_id, a.vec_id,
           |    CAST(list_sum(list_transform(list_zip(qv, a.v), p -> p[1] * p[2])) AS BIGINT) AS dot
           |  FROM qv a CROSS JOIN q WHERE a.vec_id <> q_id),
           |pr AS (SELECT *, row_number() OVER (PARTITION BY q_id
           |    ORDER BY dot DESC, vec_id ASC) AS r FROM dots),
           |pos AS (SELECT q_id, vec_id AS pos_id FROM pr WHERE r = 1),
           |cand AS (SELECT q.q_id, j, ($negHash) % n_total AS cand
           |  FROM q CROSS JOIN n CROSS JOIN range(0, 5) t(j)),
           |keep AS (SELECT c.q_id, c.cand, row_number() OVER (
           |    PARTITION BY c.q_id ORDER BY c.j) AS rnk
           |  FROM cand c JOIN pos p ON c.q_id = p.q_id
           |  WHERE c.cand <> c.q_id AND c.cand <> p.pos_id)
           |SELECT q_id, 'pos' AS kind, pos_id AS pair_id, 0 AS rnk FROM pos
           |UNION ALL
           |SELECT q_id, 'neg' AS kind, cand AS pair_id, rnk FROM keep
           |  WHERE rnk <= 3
           |ORDER BY q_id, rnk""".stripMargin
      }),

    // ---- Multimodal BYTE-UNIFORM frame-sampling plan: the byte
    //      offsets a decoder would seek to for k uniform frames over an
    //      opaque payload — pure integer column algebra over the
    //      payload length, no container parse (the container-aware
    //      MP4 plan is `multimodal_frame_plan`). Exploded to scalar
    //      rows: each (media_id, frame_idx, byte_offset) is an
    //      independent decode-stage work unit. NB this key previously
    //      collided with the MP4 plan's — the Map kept the later entry
    //      and this one silently never ran; renamed to restore it. ----
    QuerySpec("multimodal_byte_frame_plan",
      (s, d) => graft.multimodal.Multimodal.frameSamplePlan(
          graft.multimodal.Multimodal.fromDocuments(Tables.documents(s, d)), 4)
        .orderBy(col("media_id"), col("frame_idx")),
      Some("""SELECT doc_id AS media_id, i AS frame_idx,
             |  (i * octet_length(encode(text))) // 4 AS byte_offset
             |FROM documents CROSS JOIN range(0, 4) t(i)
             |ORDER BY media_id, frame_idx""".stripMargin)),

    // ---- Multimodal plumbing: opaque binary payload + deterministic
    //      fake "decode" into typed features (the Spark-side schema /
    //      batching is real; real codecs slot into graft.multimodal). ----
    QuerySpec("multimodal_features",
      (s, d) => Tables.documents(s, d).select(col("doc_id"),
          octet_length(col("text")).cast("long").as("n_bytes"),
          md5(col("text").cast("binary")).as("checksum"),
          (TF.hash60(col("text")) % 256).as("brightness"),
          greatest(lit(1L), expr("octet_length(text) div 4096")).as("n_frames"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
              |  octet_length(encode(text))::BIGINT AS n_bytes,
              |  md5(text) AS checksum,
              |  ${h60("text")} % 256 AS brightness,
              |  greatest(1, octet_length(encode(text)) // 4096)::BIGINT AS n_frames
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- Multimodal REAL envelope decode: spec-valid PNG/JPEG/GIF
    //      payloads are synthesized per document (format + dimensions
    //      derived arithmetically from doc_id by ImageFixtures), then
    //      the REAL pure-JVM header parser (ImageHeader) reads back
    //      width/height/channels/bit-depth inside the partition-batched
    //      decode boundary. The oracle recomputes the expected envelope
    //      from the same arithmetic — builder and parser meet only at
    //      the public byte format, so a parser regression (endianness,
    //      offset, color-type map) breaks the hash match. ----
    QuerySpec("multimodal_decode",
      (s, d) => graft.multimodal.Multimodal.decodeImages(
          graft.multimodal.Multimodal.syntheticImages(Tables.documents(s, d)))
        .orderBy(col("media_id")),
      Some("""SELECT doc_id AS media_id,
             |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
             |    ELSE 'gif' END AS format,
             |  CAST(1 + doc_id % 61 AS INT) AS width,
             |  CAST(1 + (doc_id * 7) % 53 AS INT) AS height,
             |  CAST(CASE
             |    WHEN doc_id % 3 = 0 THEN
             |      CASE WHEN (doc_id // 3) % 2 = 1 THEN 4 ELSE 3 END
             |    WHEN doc_id % 3 = 1 THEN
             |      CASE WHEN (doc_id // 3) % 2 = 1 THEN 1 ELSE 3 END
             |    ELSE 3 END AS INT) AS channels,
             |  CAST(8 AS INT) AS bit_depth
             |FROM documents ORDER BY media_id""".stripMargin)),

    // ---- Multimodal REAL PIXEL decode, all three formats: the PNG
    //      payloads above carry a deterministic gradient
    //      ((x+y+c+id) mod 256) filtered with ALL FIVE RFC 2083
    //      scanline filters (type cycles y mod 5); the GIF payloads a
    //      seeded checkerboard (255*((x+y+id) mod 2)) behind a literal
    //      LZW stream with real code-width escalation; and the JPEG
    //      payloads flat 8x8 blocks at (17*bx + 29*by + id) mod 256
    //      with unit quant tables — lossless BY CONSTRUCTION (a flat
    //      block's DCT is a lone integer DC), so even the lossy format
    //      has an exact pixel oracle. PngPixels (JDK Inflater +
    //      unfiltering), GifPixels (LZW + palette) and JpegPixels
    //      (Huffman + IDCT) rasterize them inside the batched boundary
    //      and emit exact per-channel integer stats — no byte-stats
    //      fallback rows remain in this corpus. The oracle regenerates
    //      every pixel arithmetically (unnest over x/y/channel
    //      ranges) — a single wrong byte anywhere in deflate framing,
    //      filter reconstruction, LZW dictionary bookkeeping, Huffman
    //      decode, or channel interleave breaks the hash. ----
    QuerySpec("multimodal_pixel_stats",
      (s, d) => graft.multimodal.Multimodal.decodePixelStats(
          graft.multimodal.Multimodal.syntheticImages(
            Tables.documents(s, d)))
        .orderBy(col("media_id"), col("channel")),
      Some("""WITH dims AS (SELECT doc_id AS id, doc_id % 3 AS fmt,
             |    1 + doc_id % 61 AS w, 1 + (doc_id * 7) % 53 AS h,
             |    CASE WHEN doc_id % 3 = 0 THEN
             |      CASE WHEN (doc_id // 3) % 2 = 1 THEN 4 ELSE 3 END
             |    WHEN doc_id % 3 = 1 THEN
             |      CASE WHEN (doc_id // 3) % 2 = 1 THEN 1 ELSE 3 END
             |    ELSE 3 END AS ch
             |  FROM documents),
             |xs AS (SELECT id, fmt, h, ch, unnest(range(0, w)) AS x
             |  FROM dims),
             |ys AS (SELECT id, fmt, ch, x, unnest(range(0, h)) AS y
             |  FROM xs),
             |px AS (SELECT id, c AS channel,
             |    CASE WHEN fmt = 0 THEN (x + y + c + id) % 256
             |      WHEN fmt = 1 THEN (17 * (x // 8) + 29 * (y // 8) + id) % 256
             |      ELSE 255 * ((x + y + id) % 2) END AS v
             |  FROM (SELECT id, fmt, x, y, unnest(range(0, ch)) AS c
             |    FROM ys)),
             |st AS (SELECT id AS media_id, CAST(channel AS INT) AS channel,
             |    count(*)::BIGINT AS n_px, CAST(sum(v) AS BIGINT) AS sum_px,
             |    CAST(min(v) AS INT) AS min_px, CAST(max(v) AS INT) AS max_px
             |  FROM px GROUP BY 1, 2)
             |SELECT media_id, channel, n_px, sum_px, min_px, max_px,
             |  CAST(sum_px AS DOUBLE) / CAST(n_px AS DOUBLE) AS mean_px
             |FROM st ORDER BY media_id, channel""".stripMargin)),

    // ---- Multimodal NEAR-DUP detection via perceptual hash: a
    //      planted corpus where documents sharing doc_id mod 250 carry
    //      the SAME pseudo-random pixel content at copy-dependent
    //      brightness (the exposure-adjusted re-encode class); each
    //      payload REALLY decodes (PngPixels) and hashes (64-bit
    //      dHash, brightness-shift invariant by integer algebra), and
    //      equal hashes pair up through one self-join on the hash —
    //      the exact-fingerprint dedup shape applied to pixels. The
    //      oracle knows which documents are twins from the planting
    //      arithmetic alone: hash equality must recover exactly that
    //      relation — a collision, a missed shift-invariance, or any
    //      decode drift breaks the match. ----
    QuerySpec("multimodal_image_neardup",
      (s, d) => {
        val hashed = TrackedCache.persist(
          graft.multimodal.Multimodal.decodeDHash(
            graft.multimodal.Multimodal.syntheticNearDupImages(
              Tables.documents(s, d))))
        hashed.as("a").join(hashed.as("b"),
            col("a.dhash") === col("b.dhash") &&
              col("a.media_id") < col("b.media_id"))
          .select(col("a.media_id").as("lo"), col("b.media_id").as("hi"))
          .orderBy(col("lo"), col("hi"))
      },
      Some("""SELECT a.doc_id AS lo, b.doc_id AS hi
             |FROM documents a JOIN documents b
             |  ON a.doc_id % 250 = b.doc_id % 250 AND a.doc_id < b.doc_id
             |ORDER BY lo, hi""".stripMargin)),

    // ---- CROSS-FORMAT near-dup: the same raster shipped once as a
    //      PNG and once as a baseline JPEG (the flat-block lossless
    //      construction — both REALLY decode, through two entirely
    //      different codecs, to byte-identical pixels), so dHash over
    //      the DECODED rasters pairs exactly the re-encode twins
    //      (2·doc, 2·doc+1). This is the duplicate class container-
    //      level hashing can never catch: the bytes differ completely,
    //      only the pixels agree. The oracle knows the pairs from the
    //      planting arithmetic alone; any PNG/JPEG decode divergence,
    //      or a cross-document dHash collision, breaks the match. ----
    QuerySpec("multimodal_crossformat_neardup",
      (s, d) => {
        val hashed = TrackedCache.persist(
          graft.multimodal.Multimodal.decodeDHash(
            graft.multimodal.Multimodal.syntheticCrossFormatImages(
              Tables.documents(s, d))))
        hashed.as("a").join(hashed.as("b"),
            col("a.dhash") === col("b.dhash") &&
              col("a.media_id") < col("b.media_id"))
          .select(col("a.media_id").as("lo"), col("b.media_id").as("hi"))
          .orderBy(col("lo"), col("hi"))
      },
      Some("""SELECT 2 * doc_id AS lo, 2 * doc_id + 1 AS hi
             |FROM documents ORDER BY lo, hi""".stripMargin)),

    // ---- REAL image RESIZE: decode -> 2x box-filter downscale ->
    //      per-channel stats, with the shrink actually applied to
    //      pixels (resizeRaster), not just planned (resizePlan). The
    //      fixtures make a real resize exactly oracle-checkable:
    //      even-dimensioned flat-8px-block JPEGs, where every 2x2
    //      source box lies inside one flat block, so the downscaled
    //      raster IS the block image at 4-px blocks and the oracle
    //      regenerates every output pixel arithmetically. A box-filter
    //      bug (off-by-one box bounds, channel interleave, rounding)
    //      shifts sums and breaks the hash. ----
    QuerySpec("multimodal_resize_stats",
      (s, d) => graft.multimodal.Multimodal.decodeResizedPixelStats(
          graft.multimodal.Multimodal.syntheticResizeImages(
            Tables.documents(s, d)), factor = 2)
        .orderBy(col("media_id"), col("channel")),
      Some("""WITH dims AS (SELECT doc_id AS id,
             |    (96 + 2 * (doc_id % 20)) // 2 AS w2,
             |    (64 + 2 * ((doc_id * 5) % 18)) // 2 AS h2,
             |    CASE WHEN (doc_id // 3) % 2 = 1 THEN 1 ELSE 3 END AS ch
             |  FROM documents),
             |xs AS (SELECT id, h2, ch, unnest(range(0, w2)) AS x
             |  FROM dims),
             |ys AS (SELECT id, ch, x, unnest(range(0, h2)) AS y
             |  FROM xs),
             |px AS (SELECT id, c AS channel,
             |    (17 * (x // 4) + 29 * (y // 4) + id) % 256 AS v
             |  FROM (SELECT id, x, y, unnest(range(0, ch)) AS c
             |    FROM ys)),
             |st AS (SELECT id AS media_id, CAST(channel AS INT) AS channel,
             |    count(*)::BIGINT AS n_px, CAST(sum(v) AS BIGINT) AS sum_px,
             |    CAST(min(v) AS INT) AS min_px, CAST(max(v) AS INT) AS max_px
             |  FROM px GROUP BY 1, 2)
             |SELECT media_id, channel, n_px, sum_px, min_px, max_px,
             |  CAST(sum_px AS DOUBLE) / CAST(n_px AS DOUBLE) AS mean_px
             |FROM st ORDER BY media_id, channel""".stripMargin)),

    // ---- MP4 SAMPLE-TABLE decode: player-shaped fixtures carry a
    //      full stbl (stts/stsc/stsz/stco/stss) plus a real mdat, and
    //      VideoSamples expands it into the per-frame plan a
    //      distributed extractor consumes — byte range, presentation
    //      time, keyframe flag — no codec touched. The oracle
    //      regenerates every row arithmetically (sizes from the
    //      fixture formula, offsets as the prefix sum, the pts grid,
    //      the keyframe cadence); any stsc chunk-walk or stts
    //      expansion slip shifts offsets/times and breaks the hash. ----
    QuerySpec("multimodal_frame_plan",
      (s, d) => graft.multimodal.Multimodal.decodeFramePlan(
          graft.multimodal.Multimodal.syntheticSampledVideos(
            Tables.documents(s, d)))
        .orderBy(col("media_id"), col("sample_idx")),
      Some("""WITH n AS (SELECT doc_id AS media_id,
             |    CAST(24 + doc_id % 96 AS INT) AS ns FROM documents),
             |s AS (SELECT media_id, CAST(unnest(range(0, ns)) AS INT) AS i
             |  FROM n),
             |z AS (SELECT media_id, i,
             |    CAST(50 + (37 * i + media_id) % 100 AS BIGINT) AS size
             |  FROM s)
             |SELECT media_id, i AS sample_idx,
             |  CAST(coalesce(sum(size) OVER (PARTITION BY media_id
             |    ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND
             |    1 PRECEDING), 0) AS BIGINT) AS rel_offset,
             |  size, CAST(i * 25 AS BIGINT) AS pts_ticks,
             |  (i % 12 = 0) AS keyframe
             |FROM z ORDER BY media_id, sample_idx""".stripMargin)),

    // ---- Keyframe-snapped frame sampling: k uniform TIME targets per
    //      video, each snapped to the last sync sample at-or-before it
    //      (the seek a real extractor issues — decoding from a
    //      non-keyframe is undecodable without its preceding anchor).
    //      Built relationally from the decoded plan: keyframe rows
    //      join targets on pts <= target, argmax per (media, target).
    //      The oracle derives the same snap in closed form from the
    //      fixture cadence. ----
    QuerySpec("multimodal_keyframe_snap",
      (s, d) => {
        val plan = TrackedCache.persist(
          graft.multimodal.Multimodal.decodeFramePlan(
            graft.multimodal.Multimodal.syntheticSampledVideos(
              Tables.documents(s, d))))
        val durations = plan.groupBy(col("media_id"))
          .agg((max(col("pts_ticks")) + lit(25L)).as("dur"))
        val targets = durations.select(col("media_id"),
          explode(sequence(lit(0L), lit(4L))).as("j"),
          col("dur"))
          .select(col("media_id"), col("j"),
            graft.ingest.Rotation.longDiv(col("j") * col("dur"), lit(5L))
              .as("target"))
        val kf = plan.filter(col("keyframe"))
          .select(col("media_id"), col("sample_idx"), col("pts_ticks"))
        targets.join(kf, Seq("media_id"))
          .filter(col("pts_ticks") <= col("target"))
          .groupBy(col("media_id"), col("j"))
          .agg(max(col("pts_ticks")).as("kf_pts"))
          .select(col("media_id"), col("j"),
            graft.ingest.Rotation.longDiv(col("kf_pts"), lit(25L))
              .cast("int").as("kf_idx"),
            col("kf_pts"))
          .orderBy(col("media_id"), col("j"))
      },
      Some("""WITH n AS (SELECT doc_id AS media_id,
             |    CAST(24 + doc_id % 96 AS INT) AS ns FROM documents),
             |t AS (SELECT media_id, ns, unnest(range(0, 5)) AS j FROM n),
             |f AS (SELECT media_id, j,
             |    (j * ns * 25 // 5) // 25 AS before
             |  FROM t)
             |SELECT media_id, CAST(j AS BIGINT) AS j,
             |  CAST(before - before % 12 AS INT) AS kf_idx,
             |  CAST((before - before % 12) * 25 AS BIGINT) AS kf_pts
             |FROM f ORDER BY media_id, j""".stripMargin)),

    // ---- MJPEG frame-pixel decode: the decode→frame-sample loop
    //      closed pure-JVM. Per document, an MJPEG-in-MP4 whose stsd
    //      declares a `jpeg` sample entry and whose every sample is a
    //      complete baseline JPEG; the query routes on the fourcc,
    //      seeks each stss-sampled frame by its (offset, size) plan
    //      and rasterizes it with the real Huffman+IDCT decoder,
    //      emitting exact per-frame integer stats. The oracle
    //      regenerates each sampled frame's raster from the fixture's
    //      flat-block arithmetic — one wrong byte anywhere in stsd
    //      routing, seek planning, slicing, or entropy decode breaks
    //      the hash. H.264 stays the documented byte-stats boundary. ----
    QuerySpec("multimodal_frame_pixels",
      (s, d) => graft.multimodal.Multimodal.decodeFramePixels(
          graft.multimodal.Multimodal.syntheticMjpegVideos(
            Tables.documents(s, d)))
        .orderBy(col("media_id"), col("sample_idx")),
      Some("""WITH n AS (SELECT doc_id AS id,
             |    CAST(6 + doc_id % 7 AS INT) AS nf FROM documents),
             |f AS (SELECT id, CAST(unnest(range(0, nf)) AS INT) AS i FROM n),
             |kf AS (SELECT id, i FROM f WHERE i % 4 = 0),
             |b AS (SELECT id, i, bx, by FROM kf,
             |    (SELECT unnest(range(0, 3)) AS bx),
             |    (SELECT unnest(range(0, 2)) AS by)),
             |lv AS (SELECT id, i,
             |    CAST((17 * bx + 29 * by + id + i) % 256 AS INT) AS lvl
             |  FROM b)
             |SELECT id AS media_id, i AS sample_idx,
             |  CAST(i * 25 AS BIGINT) AS pts_ticks,
             |  CAST(24 AS INT) AS width, CAST(16 AS INT) AS height,
             |  CAST(1 AS INT) AS channels, CAST(384 AS BIGINT) AS n_px,
             |  CAST(64 * sum(lvl) AS BIGINT) AS sum_px,
             |  CAST(min(lvl) AS INT) AS min_px,
             |  CAST(max(lvl) AS INT) AS max_px
             |FROM lv GROUP BY id, i
             |ORDER BY media_id, sample_idx""".stripMargin)),

    // ---- Multimodal REAL audio-envelope decode: spec-valid PCM WAV
    //      payloads synthesized per document (channels / sample rate /
    //      sample width / frame count derived arithmetically from
    //      doc_id by AudioFixtures), parsed back by the REAL pure-JVM
    //      RIFF/WAVE header parser (AudioHeader) inside the batched
    //      decode boundary; the oracle recomputes the envelope —
    //      including the floored duration — from the same arithmetic,
    //      so builder and parser meet only at the public byte
    //      format. ----
    QuerySpec("multimodal_audio_decode",
      (s, d) => graft.multimodal.Multimodal.decodeAudio(
          graft.multimodal.Multimodal.syntheticAudio(Tables.documents(s, d)))
        .orderBy(col("media_id")),
      Some("""SELECT doc_id AS media_id, 'wav' AS format,
             |  CAST(1 + doc_id % 2 AS INT) AS channels,
             |  CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 11025
             |    ELSE 16000 END AS INT) AS sample_rate,
             |  CAST(CASE WHEN (doc_id // 3) % 2 = 1 THEN 8 ELSE 16 END
             |    AS INT) AS bits_per_sample,
             |  CAST((1 + doc_id % 199) * 41 AS BIGINT) AS n_frames,
             |  CAST((1 + doc_id % 199) * 41 * 1000 //
             |    (CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 11025
             |      ELSE 16000 END) AS BIGINT) AS duration_ms
             |FROM documents ORDER BY media_id""".stripMargin)),

    // ---- Multimodal REAL PCM SAMPLE decode: the WAV payloads above
    //      carry a deterministic seeded sample pattern (8-bit unsigned
    //      per spec, 16-bit signed little-endian); PcmSamples locates
    //      the data chunk and reconstructs every sample — pure byte
    //      algebra, no codec — and the query emits exact per-channel
    //      integer stats (the loudness/clipping/silence gate of an
    //      audio curation pipeline). The oracle regenerates every
    //      sample arithmetically: a single wrong byte in chunk walk,
    //      sign handling, or channel interleave breaks the hash. ----
    QuerySpec("multimodal_sample_stats",
      (s, d) => graft.multimodal.Multimodal.decodeSampleStats(
          graft.multimodal.Multimodal.syntheticAudio(Tables.documents(s, d)))
        .orderBy(col("media_id"), col("channel")),
      Some("""WITH dims AS (SELECT doc_id AS id, 1 + doc_id % 2 AS ch,
             |    CASE WHEN (doc_id // 3) % 2 = 1 THEN 8 ELSE 16 END AS bits,
             |    (1 + doc_id % 199) * 41 AS nf
             |  FROM documents),
             |fs AS (SELECT id, ch, bits, unnest(range(0, nf)) AS f FROM dims),
             |sm AS (SELECT id, CAST(c AS INT) AS channel,
             |    CASE WHEN bits = 8 THEN (f + 3*c + id) % 256
             |         ELSE ((5*f + 7*c + id) % 65536) - 32768 END AS v
             |  FROM (SELECT id, bits, f, unnest(range(0, ch)) AS c FROM fs)),
             |st AS (SELECT id AS media_id, channel, count(*)::BIGINT AS n_smp,
             |    CAST(sum(v) AS BIGINT) AS sum_smp,
             |    CAST(min(v) AS INT) AS min_smp,
             |    CAST(max(v) AS INT) AS max_smp
             |  FROM sm GROUP BY 1, 2)
             |SELECT media_id, channel, n_smp, sum_smp, min_smp, max_smp,
             |  CAST(sum_smp AS DOUBLE) / CAST(n_smp AS DOUBLE) AS mean_smp
             |FROM st ORDER BY media_id, channel""".stripMargin)),

    // ---- Multimodal REAL video-envelope decode: structurally-valid
    //      MP4 (ISO-BMFF) payloads synthesized per document (pixel
    //      dims, timescale, duration units, track count derived
    //      arithmetically from doc_id by VideoFixtures), parsed back
    //      by the REAL pure-JVM box-tree parser (VideoHeader: ftyp
    //      gate, moov walk, v0/v1 mvhd, 16.16 tkhd dims, audio tracks
    //      0x0) inside the batched decode boundary; the oracle
    //      recomputes the envelope — including the floored
    //      duration-ms — from the same arithmetic. ----
    QuerySpec("multimodal_video_decode",
      (s, d) => graft.multimodal.Multimodal.decodeVideo(
          graft.multimodal.Multimodal.syntheticVideo(Tables.documents(s, d)))
        .orderBy(col("media_id")),
      Some("""SELECT doc_id AS media_id, 'mp4' AS format,
             |  CAST(16 * (1 + doc_id % 120) AS INT) AS width,
             |  CAST(16 * (1 + (doc_id * 7) % 68) AS INT) AS height,
             |  CAST(1 + doc_id % 2 AS INT) AS n_tracks,
             |  CAST((1 + doc_id % 3599) * 25 * 1000 //
             |    (CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000
             |      ELSE 90000 END) AS BIGINT) AS duration_ms,
             |  CASE doc_id % 4 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'avc1'
             |    WHEN 2 THEN 'mp4v' ELSE NULL END AS codec,
             |  (doc_id % 4 = 0) AS decoded
             |FROM documents ORDER BY media_id""".stripMargin)),

    // ---- The CAPSTONE: a full RefinedWeb-style curation pipeline as
    //      ONE DataFrame program — quality gate → exact dedup →
    //      MinHash near-dup prune (lower-id survivor) → benchmark
    //      decontamination — every stage the same primitive its
    //      standalone query runs, composed end-to-end and replayed
    //      end-to-end by the oracle. Scale shape is the union of the
    //      parts: stats are one corpus pass; exact dedup shuffles
    //      16-byte fingerprints; the near-dup stage is band
    //      equi-joined and verifies candidates only; decontamination
    //      broadcasts the eval grams. Stage filters ride along as
    //      doc_id semi/anti-joins — 8-byte keys, never text. ----
    QuerySpec("curation_pipeline_e2e",
      (s, d) => {
        NativeExpressions.register(s)
        val docs = Tables.documents(s, d)
        // stage 1: quality gate over the training side (eval = <25)
        val keptQ = textStatsFrame(s, d)
          .filter(col("doc_id") >= 25 && col("lang") === "en" &&
            col("quality") >= 0.5 && col("n_tokens").between(10, 5000))
          .select(col("doc_id"), col("n_tokens"))
        val survQ = docs.join(keptQ, Seq("doc_id"))
          .select(col("doc_id"), col("source"), col("text"), col("n_tokens"))
        // stage 2: exact dedup — lowest doc_id per fingerprint survives.
        // The survivor set is PERSISTED (id/source/n_tokens projection
        // only — text is never needed downstream): five later stages
        // chain from it (shingle semi-join, prune anti-join, decon
        // semi-join, final anti-join), and without the pin each would
        // recompute the regex-heavy stats gate + md5 dedup from the
        // corpus — the measured cause of this query's bench drift.
        val withFp = survQ.withColumn("fp", md5(col("text").cast("binary")))
        val keeper = withFp.groupBy(col("fp"))
          .agg(min(col("doc_id")).as("doc_id"))
        val survE = TrackedCache.persist(
          withFp.join(keeper, Seq("fp", "doc_id"), "left_semi")
            .select(col("doc_id"), col("source"), col("n_tokens")))
        // stage 3: near-dup prune among survivors — banded candidates,
        // exact Jaccard >= 0.5 verify, the HIGHER id of a verified
        // pair is pruned (deterministic lower-id survivor). The
        // survivor filter lands BELOW the tokenize (shingling is
        // per-doc, so filter-then-shingle == shingle-then-filter):
        // the regex pass runs over survivor text only, not the whole
        // corpus — at 100 TB the quality gate's rejects never get
        // tokenized a second time.
        val ids = survE.select(col("doc_id"))
        val sh = TrackedCache.persist(
          minhashShinglesOf(docs.join(ids, Seq("doc_id"), "left_semi")))
        val bands = TrackedCache.persist(minhashBandsFrom(sh))
        val cand = candidatePairs(bands, "ia", "ib")
        val pruned = cand
          .join(sh.as("x"), col("ia") === col("x.doc_id"))
          .join(sh.as("y"), col("ib") === col("y.doc_id"))
          .filter(DF.jaccard(col("x.sh"), col("y.sh")) >= 0.5)
          .select(col("ib").as("doc_id")).distinct()
        // survN pinned (r17): the decontamination stage's semi-join AND
        // the final anti-join both consume it, and without the pin the
        // whole near-dup stage — candidate self-join + exact-Jaccard
        // verify over the shingle arrays — executed twice. Same thin
        // (id/source/n_tokens) pin class as survE.
        val survN = TrackedCache.persist(
          survE.join(pruned, Seq("doc_id"), "left_anti"))
        // stage 4: decontamination — drop survivors sharing any 8-gram
        // with the eval set. Only eval docs (< 25) and exact-dedup
        // survivors can contribute grams the stage reads (gram
        // explosion is per-doc), so the third corpus tokenize pass
        // shrinks to those rows — quality-gate rejects are skipped.
        val g8 = TrackedCache.persist(
          docs.filter(col("doc_id") < 25)
            .unionByName(docs.join(ids, Seq("doc_id"), "left_semi"))
            .select(col("doc_id"),
              explode(TF.shingles(TF.tokens(col("text")), 8)).as("g")))
        val evalG = g8.filter(col("doc_id") < 25).select(col("g")).distinct()
        val cont = g8.join(survN.select(col("doc_id")), Seq("doc_id"), "left_semi")
          .join(broadcast(evalG), Seq("g"), "left_semi")
          .select(col("doc_id")).distinct()
        survN.join(cont, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("source"), col("n_tokens"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $minhashBandsSql,
              |kq AS (SELECT doc_id, n_tokens FROM ($textStatsCoreSql)
              |  WHERE doc_id >= 25 AND lang = 'en' AND quality >= 0.5
              |    AND n_tokens BETWEEN 10 AND 5000),
              |sq AS (SELECT d.doc_id, d.source, d.text, k.n_tokens
              |  FROM documents d JOIN kq k USING (doc_id)),
              |fp AS (SELECT *, md5(text) AS fp FROM sq),
              |ke AS (SELECT fp, min(doc_id) AS doc_id FROM fp GROUP BY 1),
              |se AS (SELECT f.* FROM fp f JOIN ke USING (fp, doc_id)),
              |cand AS (SELECT ia, ib FROM ${candPairsSql("ia", "ib")}
              |  WHERE ia IN (SELECT doc_id FROM se)
              |    AND ib IN (SELECT doc_id FROM se)),
              |p AS (SELECT ia, ib,
              |    list_distinct(x.sh) AS da, list_distinct(y.sh) AS db
              |  FROM cand JOIN sh x ON x.doc_id = ia
              |    JOIN sh y ON y.doc_id = ib),
              |jj AS (SELECT ia, ib,
              |    CAST(len(list_filter(da, v -> list_contains(db, v))) AS DOUBLE) AS inter,
              |    CAST(len(da) + len(db) AS DOUBLE) AS szsum
              |  FROM p),
              |pruned AS (SELECT DISTINCT ib AS doc_id FROM jj
              |  WHERE (CASE WHEN szsum - inter = 0.0 THEN 1.0
              |    ELSE inter / (szsum - inter) END) >= 0.5),
              |sn AS (SELECT * FROM se
              |  WHERE doc_id NOT IN (SELECT doc_id FROM pruned)),
              |s8 AS (SELECT doc_id, ${shinglesSql(8)} AS sh8 FROM tok),
              |g8 AS (SELECT doc_id, unnest(sh8) AS g FROM s8),
              |ev AS (SELECT DISTINCT g FROM g8 WHERE doc_id < 25),
              |cont AS (SELECT DISTINCT doc_id FROM g8
              |  WHERE doc_id IN (SELECT doc_id FROM sn)
              |    AND g IN (SELECT g FROM ev))
              |SELECT doc_id, source, n_tokens FROM sn
              |WHERE doc_id NOT IN (SELECT doc_id FROM cont)
              |ORDER BY doc_id""".stripMargin),
      bench = true),

    // ---- The capstone's INCREMENTAL twin: one arriving batch
    //      admitted against the committed corpus WITHOUT re-running
    //      any stage over the corpus — the shape a 100 TB pipeline
    //      actually runs daily (the full pipeline ran once; every day
    //      after is this query). The corpus-side state is EXACTLY the
    //      streaming gates' served planes — the corpus is committed
    //      through the transactional log and its `_fp`/`_mh` indexes
    //      installed by the DedupIngest rebuild hooks (see
    //      [[servedCurationPlanes]]) — and the admission rules are the
    //      gates' own: quality gate on the BATCH only →
    //      exact-fingerprint admission (fp not in the `_fp` plane +
    //      lowest in-batch id per fp, ONE fingerprint definition
    //      shared with the gate) → near-dup admission (batch
    //      signatures band-probe the `_mh` plane, dup = a committed
    //      signature sharing a band and agreeing on ≥ half the slots;
    //      in-batch pairs run the same rule through the shared capped
    //      candidatePairs) → benchmark decontamination. Scale shape:
    //      the corpus NEVER self-joins and never re-reads text (the
    //      planes are 16 bytes / 16 longs per doc), every join
    //      carries batch-sized keys on one side (batch bands
    //      BROADCAST into the corpus index — the streaming gate's own
    //      plan), and corpus hot bands are capped (a band that hot is
    //      signal-free). ----
    QuerySpec("curation_incremental",
      (s, d) => {
        NativeExpressions.register(s)
        val docs = Tables.documents(s, d)
        val planes = servedCurationPlanes(s, d)
        // stage 1: quality gate over the arriving batch (eval = <25)
        val keptQ = textStatsFrame(s, d)
          .filter(col("doc_id") % 5 === 0 && col("doc_id") >= 25 &&
            col("lang") === "en" && col("quality") >= 0.5 &&
            col("n_tokens").between(10, 5000))
          .select(col("doc_id"), col("n_tokens"))
        // gate-side fingerprints: the SAME function over the SAME
        // payload shape (text only) the corpus committed under —
        // computed over the ARRIVING BATCH PARTITION only (the same
        // row-local predicate the gate's stage-1 filter starts from,
        // pushed to the scan), never the committed corpus: hashing the
        // whole topic and joining down afterwards re-read every
        // committed document's text, exactly what this query's scale
        // contract says never happens. The hash stays in its own
        // scan-side projection: to_json is CodegenFallback, and
        // inlining it into the join stage was measured to knock that
        // whole stage out of codegen (~14% on the query at sf1).
        val fpSrc = docs
          .filter(col("doc_id") % 5 === 0 && col("doc_id") >= 25)
          .select(col("doc_id").as("off"), col("text"))
        val bFp = fpSrc.select(col("off").as("doc_id"),
          DedupIngest.fingerprint(fpSrc).as("fp"))
        val batch = TrackedCache.persist(
          docs.join(keptQ, Seq("doc_id")).join(bFp, Seq("doc_id"))
            .select(col("doc_id"), col("source"), col("n_tokens"),
              col("fp")))
        // stage 2: exact admission — lowest in-batch id per fp, and
        // never a fingerprint the served `_fp` plane already holds
        val corpusFp = DedupIngest.fingerprintIndex(s, planes, CurationTopic)
        val lowest = batch.groupBy(col("fp"))
          .agg(min(col("doc_id")).as("doc_id"))
        val survE = TrackedCache.persist(
          batch.join(lowest, Seq("fp", "doc_id"), "left_semi")
            .join(corpusFp, Seq("fp"), "left_anti")
            .select(col("doc_id"), col("source"), col("n_tokens")))
        // stage 3: near-dup admission against the served `_mh` plane
        // by the streaming gate's own rule. Only batch survivors
        // re-sign; sub-3-token records have no signature and bypass
        // this gate on both sides (the exact gate owns degenerates).
        val sigB = TrackedCache.persist(DedupIngest.sigOf(
          docs.join(survE.select(col("doc_id")), Seq("doc_id"), "left_semi")
            .select(col("doc_id"), col("text")), "text", Seq("doc_id")))
        val sigSlots = (0 until DF.numMinhashes).map(i => col("sig")(i))
        val bandsB = TrackedCache.persist(sigB.withColumn("band",
          explode(DF.bandKeys(sigSlots, 4))))
        // vs corpus: the STREAMING GATE'S OWN probe function — one
        // shared definition, so batch and stream admission can't drift
        val dupVsCorpus = DedupIngest.dupAgainstIndex(s, planes,
          CurationTopic, sigB, Seq("doc_id"),
          minAgree = DF.numMinhashes / 2, rowsPerBand = 4,
          capIndex = df => dropHotBands(df, "band"))
        val agreeXY = aggregate(
          zip_with(col("x.sig"), col("y.sig"),
            (a, b) => when(a === b, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v)
        val dupInBatch = candidatePairs(
            bandsB.select(col("doc_id"), col("band")), "ia", "ib")
          .join(sigB.as("x"), col("ia") === col("x.doc_id"))
          .join(sigB.as("y"), col("ib") === col("y.doc_id"))
          .filter(agreeXY >= DF.numMinhashes / 2)
          .select(col("ib").as("doc_id")).distinct()
        // survN pinned (r17) for the same reason as the full capstone's:
        // its two consumers (decon semi-join, final anti-join) otherwise
        // re-ran BOTH near-dup admission probes — the corpus-plane band
        // probe and the in-batch candidate verify — a second time.
        val survN = TrackedCache.persist(
          survE.join(dupVsCorpus, Seq("doc_id"), "left_anti")
            .join(dupInBatch, Seq("doc_id"), "left_anti"))
        // stage 4: decontamination — ONLY batch survivors re-gram;
        // the benchmark-scale eval-gram set broadcasts
        val evalG = docs.filter(col("doc_id") < 25)
          .select(explode(TF.shingles(TF.tokens(col("text")), 8)).as("g"))
          .distinct()
        val cont = docs
          .join(survN.select(col("doc_id")), Seq("doc_id"), "left_semi")
          .select(col("doc_id"),
            explode(TF.shingles(TF.tokens(col("text")), 8)).as("g"))
          .join(broadcast(evalG), Seq("g"), "left_semi")
          .select(col("doc_id")).distinct()
        survN.join(cont, Seq("doc_id"), "left_anti")
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $minhashBandsSql,
              |kq AS (SELECT doc_id, n_tokens FROM ($textStatsCoreSql)
              |  WHERE doc_id % 5 = 0 AND doc_id >= 25 AND lang = 'en'
              |    AND quality >= 0.5 AND n_tokens BETWEEN 10 AND 5000),
              |bt AS (SELECT d.doc_id, d.source, k.n_tokens, d.text
              |  FROM documents d JOIN kq k USING (doc_id)),
              |lo AS (SELECT text, min(doc_id) AS doc_id FROM bt GROUP BY 1),
              |se AS (SELECT b.doc_id, b.source, b.n_tokens FROM bt b
              |  JOIN lo USING (text, doc_id)
              |  WHERE b.text NOT IN (SELECT text FROM documents
              |    WHERE doc_id % 5 <> 0 AND doc_id >= 25)),
              |bb AS (SELECT * FROM bands
              |  WHERE doc_id IN (SELECT doc_id FROM se)),
              |bsig AS (SELECT * FROM sig
              |  WHERE doc_id IN (SELECT doc_id FROM se)),
              |csig AS (SELECT * FROM sig
              |  WHERE doc_id % 5 <> 0 AND doc_id >= 25),
              |ccand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
              |  FROM bb a JOIN ${dropHotBandsSql(
                  "(SELECT * FROM bands WHERE doc_id % 5 <> 0 AND doc_id >= 25)",
                  "band")} b
              |  ON a.band = b.band),
              |dvc AS (SELECT DISTINCT ia AS doc_id FROM ccand
              |  JOIN bsig x ON x.doc_id = ia JOIN csig y ON y.doc_id = ib
              |  WHERE ($slotAgreeSql) >= ${DF.numMinhashes / 2}),
              |bcand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
              |  FROM ${dropHotBandsSql("bb", "band")} a
              |  JOIN ${dropHotBandsSql("bb", "band")} b
              |  ON a.band = b.band AND a.doc_id < b.doc_id),
              |dib AS (SELECT DISTINCT ib AS doc_id FROM bcand
              |  JOIN bsig x ON x.doc_id = ia JOIN bsig y ON y.doc_id = ib
              |  WHERE ($slotAgreeSql) >= ${DF.numMinhashes / 2}),
              |sn AS (SELECT * FROM se
              |  WHERE doc_id NOT IN (SELECT doc_id FROM dvc)
              |    AND doc_id NOT IN (SELECT doc_id FROM dib)),
              |s8 AS (SELECT doc_id, ${shinglesSql(8)} AS sh8 FROM tok),
              |g8 AS (SELECT doc_id, unnest(sh8) AS g FROM s8),
              |ev AS (SELECT DISTINCT g FROM g8 WHERE doc_id < 25),
              |ct AS (SELECT DISTINCT doc_id FROM g8
              |  WHERE doc_id IN (SELECT doc_id FROM sn)
              |    AND g IN (SELECT g FROM ev))
              |SELECT doc_id, source, n_tokens FROM sn
              |WHERE doc_id NOT IN (SELECT doc_id FROM ct)
              |ORDER BY doc_id""".stripMargin),
      bench = true),

    // ---- Gopher-style rule-based quality flags (Rae et al. 2021,
    //      "Scaling Language Models", table A1 — the published
    //      heuristic filter suite every pretraining pipeline runs
    //      before model-based scoring): per-document word-count
    //      bounds, mean-word-length bounds, stopword floor,
    //      alphabetic-word ratio, and duplicate-2-gram ceiling.
    //      Unlike filter_quality_docs (a learned-score gate), these
    //      are auditable per-rule booleans — the report a curation
    //      run ships alongside its keep decisions. Scale shape: every
    //      metric is computed list-locally from one tokens array
    //      (aggregate/filter/array_distinct higher-order ops), so the
    //      whole query is a single scan projection — zero shuffles
    //      besides the verify-output sort; at 100 TB it is exactly one
    //      pass over the corpus. Rule bounds are corpus-calibrated
    //      (10–99-token synthetic docs); Gopher's published 50–100k
    //      word window would vacuously fail everything here. ----
    QuerySpec("quality_gopher_rules",
      (s, d) => {
        val base = Tables.documents(s, d)
          .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
          .select(col("doc_id"), col("toks"),
            TF.shingles(col("toks"), 2).as("g2"))
          .select(col("doc_id"),
            size(col("toks")).cast("long").as("n_tokens"),
            // sum-of-token-lengths via codegen'd concat_ws instead of an
            // interpreted aggregate() lambda (HOFs evaluate row-at-a-time
            // with boxing; concat length is the same arithmetic)
            (length(concat_ws("", col("toks"))).cast("double") /
              greatest(size(col("toks")), lit(1)).cast("double"))
              .as("mean_word_len"),
            size(expr(s"filter(toks, t -> t IN (${TF.stopwords
              .map(w => s"'$w'").mkString(", ")}))")).cast("long")
              .as("n_stops"),
            // all-lowercase-alpha test as a literal-cached translate
            // (strip [a-z]; empty remainder of a nonempty token ⇔ the
            // old per-token RLIKE '^[a-z]+$', without regex machinery)
            (size(expr("filter(toks, t -> t <> '' AND " +
              "translate(t, 'abcdefghijklmnopqrstuvwxyz', '') = '')"))
              .cast("double") /
              greatest(size(col("toks")), lit(1)).cast("double"))
              .as("alpha_ratio"),
            size(col("g2")).cast("long").as("n_2grams"),
            size(array_distinct(col("g2"))).cast("long").as("nd_2grams"))
          .withColumn("dup_2gram_frac",
            when(col("n_2grams") > 0,
              lit(1.0) - col("nd_2grams").cast("double") /
                col("n_2grams").cast("double"))
              .otherwise(lit(0.0)))
        base.select(col("doc_id"), col("n_tokens"), col("mean_word_len"),
            col("n_stops"), col("alpha_ratio"), col("dup_2gram_frac"),
            col("n_tokens").between(20L, 80L).as("rule_len"),
            (col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
              .as("rule_word_len"),
            (col("n_stops") >= 2L).as("rule_stops"),
            (col("alpha_ratio") >= 0.8).as("rule_alpha"),
            (col("dup_2gram_frac") <= 0.2).as("rule_rep"))
          .withColumn("pass",
            col("rule_len") && col("rule_word_len") && col("rule_stops") &&
              col("rule_alpha") && col("rule_rep"))
          .orderBy(col("doc_id"))
      },
      Some {
        val stopsIn = TF.stopwords.map(w => s"'$w'").mkString(", ")
        s"""WITH tok AS (SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
           |g AS (SELECT doc_id, toks, ${shinglesSql(2)} AS g2 FROM tok),
           |m AS (SELECT doc_id,
           |    len(toks)::BIGINT AS n_tokens,
           |    CAST(coalesce(list_sum(list_transform(toks, t -> len(t))), 0) AS DOUBLE)
           |      / CAST(greatest(len(toks), 1) AS DOUBLE) AS mean_word_len,
           |    len(list_filter(toks, t -> t IN ($stopsIn)))::BIGINT AS n_stops,
           |    CAST(len(list_filter(toks, t -> regexp_full_match(t, '[a-z]+'))) AS DOUBLE)
           |      / CAST(greatest(len(toks), 1) AS DOUBLE) AS alpha_ratio,
           |    len(g2)::BIGINT AS n_2grams,
           |    len(list_distinct(g2))::BIGINT AS nd_2grams
           |  FROM g),
           |f AS (SELECT *,
           |    CASE WHEN n_2grams > 0
           |      THEN CAST(1.0 AS DOUBLE) - CAST(nd_2grams AS DOUBLE) / CAST(n_2grams AS DOUBLE)
           |      ELSE CAST(0.0 AS DOUBLE) END AS dup_2gram_frac
           |  FROM m)
           |SELECT doc_id, n_tokens, mean_word_len, n_stops, alpha_ratio,
           |  dup_2gram_frac,
           |  (n_tokens BETWEEN 20 AND 80) AS rule_len,
           |  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS rule_word_len,
           |  (n_stops >= 2) AS rule_stops,
           |  (alpha_ratio >= 0.8) AS rule_alpha,
           |  (dup_2gram_frac <= 0.2) AS rule_rep,
           |  ((n_tokens BETWEEN 20 AND 80) AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
           |    AND (n_stops >= 2) AND (alpha_ratio >= 0.8)
           |    AND (dup_2gram_frac <= 0.2)) AS pass
           |FROM f ORDER BY doc_id""".stripMargin
      },
      bench = true),

    // ---- Cross-source contamination report: for every pair of
    //      sources, how many bag-of-words content fingerprints they
    //      SHARE — the mirror-site / syndication audit a corpus
    //      assembler runs before weighting sources (double-counted
    //      content inflates a source's effective mixing weight).
    //      Scale shape: one fingerprint projection, one
    //      (fp, source)-distinct aggregate, then a fingerprint-keyed
    //      self equi-join — the join input is one row per distinct
    //      (fp, source), so the shuffle carries dedup'd keys, never
    //      raw documents; the pair aggregate is source²-bounded
    //      (metadata-scale). ----
    QuerySpec("dedup_cross_source_overlap",
      (s, d) => {
        // persisted: both self-join sides would otherwise re-run the
        // fingerprint scan + distinct
        val fp = TrackedCache.persist(Tables.documents(s, d)
          .select(TF.contentFingerprint(col("text")).as("fp"),
            col("source"))
          .distinct())
        fp.as("a").join(fp.as("b"),
            col("a.fp") === col("b.fp") &&
              col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"),
            col("b.source").as("src_b"))
          .agg(count(lit(1)).as("n_shared"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some(s"""WITH fp AS (SELECT DISTINCT
              |    md5(array_to_string(list_sort(list_distinct(${toksSql("text")})), ' ')) AS fp,
              |    source
              |  FROM documents)
              |SELECT a.source AS src_a, b.source AS src_b,
              |  count(*)::BIGINT AS n_shared
              |FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- Retrieval-quality MRR: where sim_ivf_recall asks "how many
    //      of the true top-5 does the index return", this asks the
    //      ranking question — at what POSITION does the index surface
    //      the single true nearest neighbor (reciprocal rank, 0 when
    //      missed). The standard retrieval-eval companion metric;
    //      both sides are deterministic integer rankings so the
    //      evaluation itself is oracle-checked. Scale shape: the
    //      ground truth is the broadcast-query brute-force pass
    //      through the bounded-heap top-1 aggregate; the join back to
    //      the IVF ranking is (q_id, neighbor_id)-keyed over O(q)
    //      rows. ----
    QuerySpec("sim_ivf_mrr",
      (s, d) => {
        val ivf = trainedIvfTopk(s, d)
          .select(col("q_id"), col("neighbor_id"),
            col("rnk").cast("long").as("found_rank"))
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), SF.quantize(col("embedding")).as("v"))
        val q = emb.filter(col("vec_id").isin(0L, 1L, 2L))
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
        val bf1 = emb.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("neighbor_id"),
            call_function("dot_i64", col("qv"), col("v")).as("dot"))
          .groupBy(col("q_id"))
          .agg(call_function("topk_pairs", col("dot"), col("neighbor_id"),
            lit(1)).as("top"))
          .select(col("q_id"), explode(col("top.id")).as("true_id"))
        bf1.join(ivf,
            bf1("q_id") === ivf("q_id") &&
              col("true_id") === col("neighbor_id"), "left")
          .select(bf1("q_id"), col("true_id"), col("found_rank"),
            coalesce(lit(1.0) / col("found_rank").cast("double"),
              lit(0.0)).as("rr"))
          .orderBy(bf1("q_id"))
      },
      Some(s"""WITH $trainedIvfSql,
              |bf_d AS (SELECT q.q_id, a.id AS neighbor_id,
              |    CAST(list_sum(list_transform(list_zip(q.qv, a.v),
              |      p -> p[1] * p[2])) AS BIGINT) AS dot
              |  FROM qv a CROSS JOIN (SELECT id AS q_id, v AS qv FROM qv
              |    WHERE id IN (0, 1, 2)) q
              |  WHERE a.id <> q.q_id),
              |bf_r AS (SELECT *, row_number() OVER (PARTITION BY q_id
              |    ORDER BY dot DESC, neighbor_id ASC) AS rnk FROM bf_d),
              |bf1 AS (SELECT q_id, neighbor_id AS true_id FROM bf_r
              |  WHERE rnk = 1)
              |SELECT b.q_id, b.true_id, i.rnk::BIGINT AS found_rank,
              |  coalesce(CAST(1.0 AS DOUBLE) / CAST(i.rnk AS DOUBLE),
              |    CAST(0.0 AS DOUBLE)) AS rr
              |FROM bf1 b LEFT JOIN ivf i
              |  ON i.q_id = b.q_id AND i.neighbor_id = b.true_id
              |ORDER BY b.q_id""".stripMargin)))
}
