package graft.functions

import graft.{Guards, Memo, Tables}
import graft.Memo.memo
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embeddings — SURVEY.md §2.11 L3.
  *
  * Brute-force cosine top-k is the correctness baseline; the
  * random-hyperplane LSH bucketing is the scale path (bucket id is a
  * shuffle key — at 100 TB candidates co-locate per bucket instead of
  * forming a cross product).
  *
  * Determinism notes:
  *  - dot products fold left-to-right via `aggregate` over
  *    `zip_with`; the oracle SQL folds the same order via
  *    `list_reduce` — bit-identical doubles, with a round(4) belt
  *    at the contract boundary.
  *  - LSH plane weights are integers in {-1,0,1} from an LCG, and
  *    vectors are quantized with an explicit floor(x * 2^20) — all
  *    bucket math is BIGINT (NB: a bare CAST(double AS BIGINT)
  *    truncates in Spark but ROUNDS in DuckDB; floor first).
  */
object Similarity {

  /** Left-to-right fold dot product of two float-array columns.
    * Evaluated by the native codegen'd expression
    * (graft.plans.DotProduct); [[dotFold]] is the pure-built-in
    * higher-order formulation it replaced (same values, same fold
    * order — kept for the equivalence spec). */
  def dot(a: Column, b: Column): Column = graft.plans.GraftFunctions.dot(a, b)

  def dotFold(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  def norm2(a: Column): Column = sqrt(dot(a, a))

  /** DuckDB mirror of [[dot]] — same left-to-right fold order. */
  def sqlDot(a: String, b: String): String =
    s"""list_reduce(list_concat([CAST(0 AS DOUBLE)],
       |  list_transform(range(1, len($a) + 1),
       |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))),
       |  (x, y) -> x + y)""".stripMargin

  val PLANES = 4 // 2^4 = 16 buckets per table
  val TABLES = 16 // standard multi-table LSH: candidates = bucket-mates in ANY table

  /** Deterministic LCG plane weights in {-1,0,1} per (table, plane,
    * dim), identical to the SQL-side formula. */
  def planeWeights: Seq[(Int, Int, Int, Long)] = planeWeightsFor(TABLES, PLANES)

  def planeWeightsFor(tables: Int, planes: Int): Seq[(Int, Int, Int, Long)] =
    for (t <- 0 until tables; j <- 0 until planes; i <- 0 until 64) yield
      (t, j, i,
        ((1103515245L * ((t * planes + j) * 64 + i + 1) + 12345L)
          % 2147483647L) % 3 - 1)

  /** Library form of the multi-table hyperplane bucketing: per-vector
    * LSH bucket ids over any (vec_id, embedding) relation — sign bits
    * of `planes` integer hyperplane projections per table over
    * floor(x * 2^20)-quantized coordinates -> (vec_id, t, bucket).
    *
    * All-BIGINT math, so the DuckDB oracle reproduces buckets exactly
    * ([[bucketSqlFor]]). The weight relation is a broadcast
    * (tables x planes x 64 rows); the two aggregations partial-combine
    * map-side, so the shuffle carries one row per (vector, table,
    * plane). (A map-only respelling — 96 codegen'd dot products
    * against literal weight arrays — measured 2x SLOWER than this
    * join: the giant expression tree defeats whole-stage codegen.) */
  def bucketsOf(emb: DataFrame, tables: Int, planes: Int): DataFrame =
    // r13: ONE compiled pass per vector ([[graft.plans.LshBuckets]] —
    // same LCG weights, quantization, sign-bit packing and null
    // semantics, spec-checked against the join spelling) replaces the
    // posexplode ⋈ 64·tables·planes-row weight join + two rollups
    // that materialized ~|V|·3072 intermediate rows (§2.3/§4). The
    // r10 note on the 96-literal-column respelling being 2x worse
    // still stands — that variant was a giant expression TREE; this
    // is one static call inside whole-stage codegen.
    emb.select(col("vec_id"),
        posexplode(graft.plans.GraftFunctions.lsh_buckets(
          col("embedding"), tables, planes)))
      .select(col("vec_id"), col("pos").as("t"), col("col").as("bucket"))

  /** DuckDB mirror of [[bucketsOf]] (CTEs w/qv/sj/bk over a view named
    * `embeddings`). */
  def bucketSqlFor(tables: Int, planes: Int): String =
    s"""w AS (SELECT tt.t, j, i,
       |    ((1103515245 * ((tt.t * $planes + j) * 64 + i + 1) + 12345) % 2147483647) % 3 - 1 AS wt
       |  FROM range(0, $tables) tt(t), range(0, $planes) p(j), range(0, 64) s(i)),
       |qv AS (SELECT vec_id, i.i,
       |    CAST(FLOOR(CAST(embedding[i.i + 1] AS DOUBLE) * 1048576) AS BIGINT) AS qv
       |  FROM embeddings, range(0, 64) i(i)),
       |sj AS (SELECT qv.vec_id, w.t, w.j, SUM(qv.qv * w.wt) AS sj
       |  FROM qv JOIN w ON qv.i = w.i GROUP BY 1, 2, 3),
       |bk AS (SELECT vec_id, t,
       |    SUM(CASE WHEN sj >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS bucket
       |  FROM sj GROUP BY vec_id, t)""".stripMargin

  /** L3a: brute-force cosine top-k — 5 query vectors against the full
    * corpus, top 5 neighbors each. The tiny query side is broadcast,
    * so the corpus never shuffles. */
  /** Library form: exact top-k cosine neighbors of each query vector
    * against a (vec_id, embedding) corpus. The query side is
    * broadcast, so the corpus never shuffles — at 100 TB the corpus
    * side stays a map-only scan. `queries` needs (qid, embedding).
    *
    * `excludeSelf` (default true) drops candidates whose vec_id equals
    * the query's qid — correct when queries are drawn FROM the corpus
    * (the catalog wrapper), but an external query frame whose qid
    * space coincidentally overlaps corpus vec_ids would silently lose
    * true neighbors: pass excludeSelf = false there. */
  def topkCosineOn(corpus: DataFrame, queries: DataFrame, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val e = corpus
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .select(col("vec_id"), col("emb"), norm2(col("emb")).as("nrm"))
    val q = queries
      .select(col("qid"), col("embedding").cast("array<double>").as("qemb"))
      .select(col("qid"), col("qemb"), norm2(col("qemb")).as("qnrm"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("qid")
      .orderBy(col("cos").desc, col("vec_id").asc)
    e.join(broadcast(q),
        if (excludeSelf) col("vec_id") =!= col("qid") else lit(true))
      .select(col("qid"), col("vec_id"),
        round(dot(col("qemb"), col("emb")) /
          (col("qnrm") * col("nrm")), 4).as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .orderBy("qid", "rnk")
  }

  def simTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    topkCosineOn(emb,
      emb.filter(col("vec_id") < 5).withColumnRenamed("vec_id", "qid"), 5)
  }

  /** L3k: MMR re-ranking (Carbonell & Goldstein 1998, "Maximal
    * Marginal Relevance") — diversity-aware selection over a
    * retrieved pool: greedily pick the candidate maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-picked, so the
    * final k trades redundancy for coverage (the re-rank every RAG
    * retriever and diverse-sampling curation pass runs on top of
    * plain top-k). λ = 0.7 here, scaled to integers (7·rel − 3·red)
    * so the argmax is exact in both engines.
    *
    * Scale shape: the probe scan is [[topkCosineOn]]'s (corpus
    * map-only, query side broadcast); everything after operates on
    * the POOL — `pool` rows per query, so the pairwise-sim relation
    * is pool² per query and the k greedy rounds are k bounded
    * DataFrame steps over ≤ |Q|·pool rows: linear in queries,
    * constant in corpus size. Pool and selected sets are
    * localCheckpointed (tiny) so each round's plan stays flat
    * instead of re-deriving the probe scan k times. Scores use
    * floor(x·10⁴ + 0.5) on already-4dp-rounded cosines — the
    * engine-portable half-up (ORACLES.md's A12 rule). */
  def mmrRerankOn(corpus: DataFrame, queries: DataFrame, k: Int = 5,
      pool: Int = 20, lambda10: Int = 7): DataFrame = {
    val cands = topkCosineOn(corpus, queries, pool)
      .select(col("qid"), col("vec_id"),
        expr("CAST(floor(cos * 10000 + 0.5) AS BIGINT)").as("rel_x10k"))
      .localCheckpoint(true)
    val e = corpus
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .select(col("vec_id"), col("emb"), norm2(col("emb")).as("nrm"))
    val simsScaled = cands.select(col("qid"), col("vec_id").as("va"))
      .join(cands.select(col("qid"), col("vec_id").as("vb")), "qid")
      .filter(col("va") =!= col("vb"))
      .join(e.select(col("vec_id").as("va"), col("emb").as("ea"),
        col("nrm").as("na")), "va")
      .join(e.select(col("vec_id").as("vb"), col("emb").as("eb"),
        col("nrm").as("nb")), "vb")
      .select(col("qid"), col("va"), col("vb"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4)
          .as("simr"))
      .select(col("qid"), col("va"), col("vb"),
        expr("CAST(floor(simr * 10000 + 0.5) AS BIGINT)").as("sim"))
      .localCheckpoint(true)
    val wSel = Window.partitionBy("qid")
      .orderBy(col("rel_x10k").desc, col("vec_id").asc)
    var selected = cands.withColumn("rn", row_number().over(wSel))
      .filter(col("rn") === 1)
      .select(col("qid"), col("vec_id"), col("rel_x10k"),
        lit(1).cast("int").as("rank"))
      .localCheckpoint(true)
    for (r <- 2 to k) {
      val red = simsScaled
        .join(selected.select(col("qid"), col("vec_id").as("vb")),
          Seq("qid", "vb"))
        .groupBy(col("qid"), col("va").as("vec_id"))
        .agg(max(col("sim")).as("red"))
      val wPick = Window.partitionBy("qid").orderBy(
        (lit(lambda10) * col("rel_x10k") - lit(10 - lambda10) * col("red"))
          .desc, col("vec_id").asc)
      val next = cands
        .join(selected.select("qid", "vec_id"), Seq("qid", "vec_id"),
          "left_anti")
        .join(red, Seq("qid", "vec_id"))
        .withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1)
        .select(col("qid"), col("vec_id"), col("rel_x10k"),
          lit(r).cast("int").as("rank"))
      selected = selected.unionByName(next).localCheckpoint(true)
    }
    selected.select("qid", "rank", "vec_id", "rel_x10k")
      .orderBy("qid", "rank")
  }

  /** Catalog wrapper: the 5 standard probe queries re-ranked for
    * diversity out of their top-20 pool. */
  def simRerankMmr(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    mmrRerankOn(emb,
      emb.filter(col("vec_id") < 5).withColumnRenamed("vec_id", "qid"))
  }

  /** L3f: radius (range) search — ALL corpus neighbors within a
    * cosine threshold of each query vector, the other half of the
    * similarity-search API surface next to [[topkCosineOn]]'s fixed-k
    * answer (retrieval wants top-k; dedup/contamination sweeps want
    * "everything closer than τ"). Same scale shape as top-k: the
    * query side broadcasts, the corpus stays a map-only scan — but
    * with NO window at all, since radius needs no per-query ranking:
    * filter replaces rank, so the whole probe is one codegen'd
    * map stage. Cos is rounded at the contract boundary (4 dp) and
    * the filter applies to the ROUNDED value, so the boundary set is
    * identical in both engines. */
  def rangeSearchOn(corpus: DataFrame, queries: DataFrame, tau: Double,
      excludeSelf: Boolean = true): DataFrame = {
    val e = corpus
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .select(col("vec_id"), col("emb"), norm2(col("emb")).as("nrm"))
    val q = queries
      .select(col("qid"), col("embedding").cast("array<double>").as("qemb"))
      .select(col("qid"), col("qemb"), norm2(col("qemb")).as("qnrm"))
    e.join(broadcast(q),
        if (excludeSelf) col("vec_id") =!= col("qid") else lit(true))
      .select(col("qid"), col("vec_id"),
        round(dot(col("qemb"), col("emb")) /
          (col("qnrm") * col("nrm")), 4).as("cos"))
      .filter(col("cos") >= tau)
      .orderBy("qid", "vec_id")
  }

  def simRangeSearch(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    rangeSearchOn(emb,
      emb.filter(col("vec_id") < 5).withColumnRenamed("vec_id", "qid"), 0.2)
  }

  /** L3h: sparse cosine similarity join — all document pairs whose
    * IDF-weighted trigram-shingle vectors have cosine >= 1/2, via an
    * INVERTED-INDEX join (the sparse-feature counterpart of the dense
    * embedding paths above, and the weighted counterpart of
    * [[Dedup.dedupPrefixFilterOn]]'s set-overlap join): postings
    * self-join on the shingle hash, so the only pairs that ever
    * materialize share at least one feature — never an all-pairs plan.
    *
    * The scale lever is the df cap: a shingle kept by the filter
    * appears in at most n/dfFrac documents, so one posting list fans
    * out to at most (n/dfFrac)^2 candidate rows and the per-feature
    * join stays bounded on a power-law corpus (the same cap that keeps
    * [[graft.functions.Text.invertedIndexOn]] skew-safe; dropped
    * high-df shingles are exactly the ones IDF sends toward zero
    * weight, so the cap removes join work, not signal mass). Shingle
    * tf is binary ([[Dedup.shingleHashesOf]] is per-doc DISTINCT), so
    * the weight is the quantized IDF itself: one correctly-rounded ln
    * at the boundary, then BIGINT everywhere — dot products and norms
    * are exact integers the oracle replays bit-for-bit. The cosine
    * threshold never divides or takes a square root: cos >= 1/2 is
    * spelled as the cross-multiplied 4*dot^2 >= norm_a*norm_b in
    * DECIMAL(38,0) (dot can reach ~4e9 so dot^2 overflows BIGINT;
    * the comparison is filter-only, every emitted column stays
    * BIGINT). */
  def simSparseCosineOn(docs: DataFrame, dfFrac: Int = 20): DataFrame = {
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Dedup.shingleHashesOf(docs)
      .withColumn("df", count(lit(1)).over(Window.partitionBy("hs")))
      .crossJoin(broadcast(n))
      .filter(col("df") >= 2 && col("df") * dfFrac <= col("n_docs"))
      .select(col("doc_id"), col("hs"),
        expr("CAST(round(ln(CAST(n_docs AS DOUBLE) / df) * 1000, 0) AS BIGINT)")
          .as("w"))
      // the weighted postings feed FOUR subtrees (both join sides +
      // two norm lookups): materialize once (kmeansOn convention)
      // instead of re-running the shingle scan + df window per branch
      .localCheckpoint(true)
    val norms = w.groupBy("doc_id").agg(sum(col("w") * col("w")).as("nrm"))
    val pairs = w.select(col("doc_id").as("doc_a"), col("hs"), col("w").as("wa"))
      .join(w.select(col("doc_id").as("doc_b"), col("hs"), col("w").as("wb")),
        "hs")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(sum(col("wa") * col("wb")).as("dot"))
    val dec = (c: Column) =>
      c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    pairs
      .join(norms.select(col("doc_id").as("doc_a"), col("nrm").as("norm_a")),
        "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("nrm").as("norm_b")),
        "doc_b")
      .filter(dec(col("dot")) * dec(col("dot")) * 4 >=
        dec(col("norm_a")) * dec(col("norm_b")))
      .select("doc_a", "doc_b", "dot", "norm_a", "norm_b")
  }

  def simSparseCosine(s: SparkSession, dir: String): DataFrame =
    simSparseCosineOn(Tables.documents(s, dir)).orderBy("doc_a", "doc_b")

  /** Exact cosine over every vector pair selected by `pairPred`,
    * routed through a G x G block grid: BOTH sides replicate against
    * the broadcast grid so the shuffle key is the full (gi, gj) cell —
    * G^2 reduce tasks each verifying one block pair, no broadcast of
    * the corpus, no cross-join plan. The shuffle_hash hint stops Spark
    * auto-broadcasting the (small at test scale) right side: the whole
    * point is the shape that survives when the corpus does NOT fit in
    * a broadcast. (Keying on gj alone would cap parallelism at G tasks
    * each streaming the whole left side — the r3 bench lesson.)
    * Output: (da, db, cos), cos rounded at the contract boundary.
    * Shared by Dedup.dedupEmbeddingOn (da < db halves the work) and
    * [[simKnnJoinOn]] (da != db: each vector needs all neighbors). */
  // the full ordered grid (gi, gj), not just gi <= gj: a pair whose
  // lower vec_id landed in the higher block is only reachable
  // through the (higher, lower) grid cell
  private def gridOf(s: SparkSession, blocks: Int): DataFrame =
    broadcast(s.createDataFrame(
      for (i <- 0 until blocks; j <- 0 until blocks) yield (i, j))
      .toDF("gi", "gj"))

  // per-side prep shared by both block routes: cast to double ONCE
  // per vector, not once per pair (the per-pair cast allocation
  // dominated this query's bench time), norm once, bucket by id hash.
  // POSITIONAL contract: the frame's FIRST column is the id; the
  // embedding column is named `embedding` — enforced eagerly so a
  // wider projection or a reordered select fails at the call site
  // instead of binding the wrong column as the id.
  private def prepSide(df: DataFrame, id: String, emb: String,
      nrm: String, g: String, blocks: Int): DataFrame = {
    require(df.columns.length == 2 && df.columns(1) == "embedding",
      "prepSide expects a two-column (id, embedding) projection; got [" +
        df.columns.mkString(", ") + "]")
    df.select(col(df.columns.head).as(id),
      col("embedding").cast("array<double>").as(emb))
      .withColumn(nrm, norm2(col(emb)))
      .withColumn(g, pmod(hash(col(id)), lit(blocks)))
  }

  /** Guard rail for the exact all-pairs baselines (dedup_embedding,
    * sim_knn_join, dedup_semantic): their compare work is inherently
    * O(n^2), kept in the catalog as oracle ground truth next to the
    * subquadratic production siblings (dedupEmbeddingLshOn, IVF/PQ,
    * dedupSemanticClusteredOn). On a 100x corpus the exact form must
    * be a DELIBERATE choice, not an accident of running the same
    * catalog — so the entry point counts its input (metadata-only on
    * a parquet scan) and refuses above `spark.graft.exact.maxRows`
    * (default 1,000,000 vectors ~ 10^12 raw pairs, already a
    * full-cluster job). Raise the cap or set it to -1 to force the
    * exact form; sample/cluster first otherwise. */
  private def exactAllPairsGate(emb: DataFrame, op: String,
      sibling: String): Unit = {
    val cap = emb.sparkSession.conf
      .getOption("spark.graft.exact.maxRows").map(_.toLong)
      .getOrElse(1000000L)
    if (cap >= 0) {
      val n = emb.count()
      if (n > cap) throw new IllegalStateException(
        s"$op is the exact O(n^2) all-pairs baseline and its input has " +
          s"$n rows > spark.graft.exact.maxRows=$cap. At this scale use " +
          s"$sibling; raise the cap (or set -1) only to force the exact " +
          "form deliberately.")
    }
  }

  def blockCosinePairsOn(emb: DataFrame, blocks: Int,
      pairPred: (Column, Column) => Column): DataFrame = {
    val s = emb.sparkSession
    exactAllPairsGate(emb, "blockCosinePairsOn (dedup_embedding / " +
      "sim_knn_join / dedup_semantic)",
      "dedupEmbeddingLshOn / simAnnIvfPq / dedupSemanticClusteredOn")
    val e = prepSide(emb.select("vec_id", "embedding"),
      "vec_id", "emb", "nrm", "g", blocks)
    val grid = gridOf(s, blocks)
    e.as("l").join(grid, col("l.g") === col("gi"))
      .join(
        e.as("r").join(grid, col("r.g") === col("gj")).hint("shuffle_hash"),
        Seq("gi", "gj"))
      .filter(pairPred(col("l.vec_id"), col("r.vec_id")))
      .select(col("l.vec_id").as("da"), col("r.vec_id").as("db"),
        round(dot(col("l.emb"), col("r.emb")) /
          (col("l.nrm") * col("r.nrm")), 4).as("cos"))
  }

  /** L3d: exact k-NN self-join — every vector's top-k cosine neighbors
    * within the corpus, i.e. the k-NN graph that semantic dedup and
    * embedding-cluster pruning build on (each node's edge list, not a
    * handful of external queries like [[topkCosineOn]]). Pairs route
    * through [[blockCosinePairsOn]], then per-vector top-k via a
    * row_number window partitioned by the query vector (shuffle key =
    * vec_id; the per-partition TopKPerKey operator is the drop-in if
    * k*|corpus| rows ever dominate). Exact by construction at any
    * block count; the LSH/IVF paths are the approximate alternatives
    * when n^2/G dot products is too many. */
  def simKnnJoinOn(emb: DataFrame, k: Int = 3, blocks: Int = 8): DataFrame =
    knnOfPairs(blockCosinePairsOn(emb, blocks, (l, r) => l =!= r)
      .select(col("da").as("qid"), col("db").as("nid"), col("cos")), k)

  private def knnOfPairs(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
    pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .orderBy("qid", "rnk")
  }

  private val pairCache = Memo.cache[String, DataFrame]

  /** The corpus all-pairs cosine relation, memoized per (session,
    * dir) — the [[Dedup]] shingle-cache discipline. Both k-NN graph
    * degrees the catalog consumes (k=3 for the graph-algorithm
    * family via [[Clusters.knnEdges]], k=$GraphAnnDegree for the
    * graph-ANN search layer) are one window over THIS relation, so a
    * catalog run pays the n²/G block join once. */
  private[graft] def cosPairsCached(s: SparkSession, dir: String): DataFrame = {
    // the O(n^2) gate must fire on EVERY entry point, cached or not —
    // memoization must not let an oversize-corpus refusal silently
    // disappear after the first build (RobustnessSpec pins the
    // refusal through this path)
    exactAllPairsGate(Tables.embeddings(s, dir),
      "cosPairsCached (dedup_embedding / sim_knn_join / dedup_semantic)",
      "dedupEmbeddingLshOn / simAnnIvfPq / dedupSemanticClusteredOn")
    memo(pairCache, s, dir) {
      blockCosinePairsOn(Tables.embeddings(s, dir), 8, (l, r) => l =!= r)
        .select(col("da").as("qid"), col("db").as("nid"), col("cos"))
        .localCheckpoint(true)
    }
  }

  /** [[simKnnJoinOn]] over the memoized pair relation. */
  private[graft] def simKnnJoinCached(s: SparkSession, dir: String,
      k: Int = 3): DataFrame =
    knnOfPairs(cosPairsCached(s, dir), k)

  def simKnnJoin(s: SparkSession, dir: String): DataFrame =
    simKnnJoinOn(Tables.embeddings(s, dir))

  /** Cross-group block cosine: every (left, right) pair between two
    * DISTINCT relations, routed through the same G x G grid as
    * [[blockCosinePairsOn]] — both sides replicate against the
    * broadcast grid and shuffle on the full (gi, gj) cell, so
    * parallelism is G^2 tasks and neither corpus broadcasts or
    * cross-joins. POSITIONAL input contract (unlike this module's
    * named-column ops): each frame's FIRST column is its id and the
    * embedding column is named `embedding` — pass
    * `select(id, "embedding")` projections, nothing wider. */
  def blockCosineCrossOn(left: DataFrame, right: DataFrame,
      blocks: Int): DataFrame = {
    val sess = left.sparkSession
    val l = prepSide(left, "sid", "lemb", "lnrm", "gi", blocks)
    val r = prepSide(right, "tid", "remb", "rnrm", "gj", blocks)
    val grid = gridOf(sess, blocks)
    l.join(grid, Seq("gi"))
      .join(r.join(grid, Seq("gj")).hint("shuffle_hash"), Seq("gi", "gj"))
      .select(col("sid"), col("tid"),
        round(dot(col("lemb"), col("remb")) /
          (col("lnrm") * col("rnrm")), 4).as("cos"))
  }

  /** L3g: bitext-style alignment — each source vector's best target
    * match by cosine, scored with the margin criterion (best over
    * second-best, the Artetxe & Schwenk 2019 mining rule): the
    * embedding-space step that mines parallel pairs for multilingual
    * training corpora. Pairs route through [[blockCosineCrossOn]]
    * (G^2-cell shuffle, no cross-join plan, no corpus broadcast);
    * per-source top-2 is one window keyed on the source id. A source
    * with a single candidate keeps a NULL second/margin rather than
    * inventing a score. Margin is the one float ratio, rounded at
    * the contract boundary. */
  def alignBitextOn(src: DataFrame, tgt: DataFrame,
      blocks: Int = 8): DataFrame = {
    // one window pass: lead(cos) over the same per-source order IS
    // the second-best — no rnk<=2 split + self-join (that spelling
    // paid a second window sort and a join shuffle for nothing).
    // Margin guards cos2 > 0: at or below zero the ratio is
    // meaningless (and 0 would throw under ANSI division) — NULL
    // instead, the anomaly_mad zero-scale rule applied here
    val w = Window.partitionBy("sid").orderBy(col("cos").desc, col("tid").asc)
    blockCosineCrossOn(src, tgt, blocks)
      .withColumn("rnk", row_number().over(w))
      .withColumn("cos2", lead(col("cos"), 1).over(w))
      .filter(col("rnk") === 1)
      .select(col("sid"), col("tid"), col("cos").as("cos1"), col("cos2"),
        when(col("cos2") > 0,
          round(col("cos") / col("cos2"), 4)).as("margin"))
      .orderBy("sid")
  }

  /** Catalog form: label-0 vectors mined against label-1 vectors —
    * the two groups stand in for the two languages of a bitext run. */
  def alignBitext(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    alignBitextOn(
      e.filter(col("label") === 0).select("vec_id", "embedding"),
      e.filter(col("label") === 1).select("vec_id", "embedding"))
  }

  /** L3e: distributed k-means (Lloyd's algorithm, fixed iteration
    * count) over the embedding corpus — the "trained centroids"
    * upgrade of [[simAnnIvf]]'s static cells, and the building block
    * of cluster-balanced corpus sampling. Each iteration is the
    * canonical two-shuffle MapReduce step: assign (join against the
    * broadcast-sized centroid relation + per-vector argmin) and
    * update (groupBy cell, partial-aggregated means). Iteration count
    * is FIXED (not convergence-tested): deterministic cost, unrollable
    * by the SQL oracle, and standard practice for pipeline k-means.
    *
    * Cross-engine determinism: coordinates are quantized to BIGINT
    * (floor(x * 2^20), the [[bucketsOf]] scheme), distances are exact
    * integer sums, and centroid updates floor an exact-integer double
    * division — no accumulation-order-dependent float math anywhere,
    * so DuckDB replays every iteration bit-for-bit. Ties (equal d2)
    * break to the lower cell id. */
  def kmeansOn(emb: DataFrame, k: Int = 8, iters: Int = 2): DataFrame = {
    // the quantized relation feeds every assign and update of the
    // unrolled plan (~8 subtrees): materialize it once (localCheckpoint
    // rather than persist so the entry GCs with the last reference
    // instead of pinning the cache manager; at 100 TB this staging
    // relation would be written to parquet between stages)
    val qv = emb
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("i"),
        floor(col("col").cast("double") * 1048576).cast("long").as("qv"))
      .localCheckpoint(true)
    val w = Window.partitionBy("vec_id").orderBy(col("d2").asc, col("cell").asc)
    def assign(cent: DataFrame): DataFrame =
      qv.join(broadcast(cent), "i")
        .groupBy("vec_id", "cell")
        .agg(sum((col("qv") - col("cv")) * (col("qv") - col("cv"))).as("d2"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("vec_id", "cell", "d2")
    def update(asg: DataFrame): DataFrame =
      qv.join(asg.select("vec_id", "cell"), "vec_id")
        .groupBy("cell", "i")
        .agg(floor(sum(col("qv")).cast("double") / count(lit(1)))
          .cast("long").as("cv"))
    // seed from the k SMALLEST ids present (cell = their dense rank),
    // not `vec_id < k`: an id space that starts above k — a filtered
    // slice, an offset snapshot — must not silently collapse the
    // centroid count. The rank window runs over k rows post-limit.
    val seedIds = qv.select("vec_id").distinct().orderBy("vec_id").limit(k)
      .withColumn("cell",
        (row_number().over(Window.partitionBy(Guards.one)
          .orderBy("vec_id")) - 1).cast("int"))
    val seed = qv.join(broadcast(seedIds), "vec_id")
      .select(col("cell"), col("i"), col("qv").as("cv"))
    var cent = seed
    for (_ <- 1 to iters) cent = update(assign(cent))
    val fin = assign(cent)
    val sizes = fin.groupBy("cell").agg(count(lit(1)).as("n_members"))
    fin.join(sizes, "cell")
      .select(col("vec_id"), col("cell"), col("d2"), col("n_members"))
      .orderBy("vec_id")
  }

  private val kmCache = Memo.cache[String, DataFrame]

  /** The trained catalog k-means assignment (vec_id, cell, d2,
    * n_members), memoized per (session, dir) — the cosPairsCached /
    * knnEdges discipline: FIVE catalog consumers (cluster_kmeans,
    * sample_cluster_balanced, cluster_purity_eval,
    * sim_ann_ivf_trained, dedup_semantic_clustered) read this exact
    * relation, so a catalog run pays Lloyd's iterations once. */
  private[graft] def kmeansCached(s: SparkSession, dir: String): DataFrame =
    memo(kmCache, s, dir) {
      kmeansOn(Tables.embeddings(s, dir)).localCheckpoint(true)
    }

  def clusterKmeans(s: SparkSession, dir: String): DataFrame =
    kmeansCached(s, dir).orderBy("vec_id")

  /** L3f: cluster-balanced subsampling — up to `perCell` vectors from
    * each trained k-means cell, picked by a deterministic pseudo-random
    * rank (a Knuth multiplicative hash of the id — rerun-stable, no
    * RNG), i.e. diversity sampling: a size-N subset that preserves
    * embedding-space coverage instead of mirroring cluster mass. The
    * sample is one window over the assignment, partitioned by cell —
    * at 100 TB the heavy lifting is the k-means itself; this adds a
    * single cell-keyed shuffle. */
  private def clusterBalancedPick(asg: DataFrame,
      perCell: Int): DataFrame = {
    val w = Window.partitionBy("cell")
      .orderBy(((col("vec_id") * 2654435761L) % Text.P).asc, col("vec_id").asc)
    asg
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= perCell)
      .select("vec_id", "cell", "rk")
      .orderBy("vec_id")
  }

  def sampleClusterBalancedOn(emb: DataFrame, k: Int = 8, iters: Int = 2,
      perCell: Int = 25): DataFrame =
    clusterBalancedPick(kmeansOn(emb, k, iters), perCell)

  def sampleClusterBalanced(s: SparkSession, dir: String): DataFrame =
    clusterBalancedPick(kmeansCached(s, dir), 25)

  /** L3n: cluster purity — the external-label evaluation of the
    * trained k-means partition (the standard clustering-quality
    * readout when ground-truth classes exist; Manning et al.,
    * "Introduction to IR" §16.3): per cell, the majority label and
    * its exact ppm share of the cell. High purity = cells align with
    * classes; a cell near 1/|labels| is noise. The eval a curation
    * pipeline runs before trusting cluster-balanced sampling or
    * SemDeDup cells as semantic strata. Ties break to the smallest
    * label (pinned on both engines). Shape: one cell×label rollup
    * off the memoized assignment (map-side combined; at most
    * k·|labels| rows shuffle), then a k-row window. */
  def clusterPurityEvalOn(asg: DataFrame, emb: DataFrame): DataFrame = {
    val cl = asg.select("vec_id", "cell")
      .join(emb.select(col("vec_id"),
        col("label").cast("long").as("label")), "vec_id")
      .groupBy("cell", "label").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("cell")
      .orderBy(col("n").desc, col("label").asc)
    cl
      .withColumn("rk", row_number().over(w))
      .withColumn("n_members",
        sum(col("n")).over(Window.partitionBy("cell")))
      .filter(col("rk") === 1)
      .select(col("cell"), col("n_members"),
        col("label").as("top_label"), col("n").as("n_top"),
        expr("CAST(n * 1000000 DIV n_members AS BIGINT)")
          .as("purity_ppm"))
      .orderBy("cell")
  }

  def clusterPurityEval(s: SparkSession, dir: String): DataFrame =
    clusterPurityEvalOn(kmeansCached(s, dir), Tables.embeddings(s, dir))

  /** Per-vector LSH bucket ids, one per hash table: sign bits of 4
    * integer hyperplane projections over floor(x * 2^20)-quantized
    * coordinates -> (vec_id, t, bucket). */
  private def buckets(s: SparkSession, dir: String): DataFrame =
    bucketsOf(Tables.embeddings(s, dir), TABLES, PLANES)

  /** L3b: LSH-bucketed approximate top-k — candidates are only the
    * query's bucket-mates (equi-join on bucket = the shuffle key that
    * replaces the cross product at scale), then exact cosine rerank. */
  def simAnnLsh(s: SparkSession, dir: String): DataFrame = {
    val bk = buckets(s, dir)
    // candidate pairs: same bucket in ANY of the TABLES tables
    val qbk = bk.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("t"), col("bucket"))
    val cand = bk.join(broadcast(qbk), Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select("qid", "vec_id").distinct()
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .select(col("vec_id"), col("emb"), norm2(col("emb")).as("nrm"))
    val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"),
      col("nrm").as("qnrm"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("qid")
      .orderBy(col("cos").desc, col("vec_id").asc)
    cand.join(e, "vec_id").join(broadcast(q), "qid")
      .select(col("qid"), col("vec_id"),
        round(dot(col("qemb"), col("emb")) /
          (col("qnrm") * col("nrm")), 4).as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .orderBy("qid", "rnk")
  }

  /** L3h: ANN recall evaluation — "measure, don't guess" applied to
    * the engine's own approximate path: per query, how many of the
    * exact top-k ([[simTopk]]) the LSH path ([[simAnnLsh]]) actually
    * returned. This is the accept/reject gate every production ANN
    * rollout runs before swapping exact search out; keeping it in the
    * catalog means the bucket count / plane count tuning has a
    * first-class measurement. Cost shape: both sides are the already-
    * scale-safe query plans (broadcast query side); the eval adds one
    * tiny (5·k rows) join + agg on top. recall_pct is integer
    * arithmetic, never a float ratio. */
  def simAnnRecallEval(s: SparkSession, dir: String): DataFrame = {
    // the exact relation is probed TWICE (hit join + per-query
    // denominator); checkpoint the tiny k·queries-row result so the
    // brute-force scan behind it runs once, not twice — the
    // simAnnRecallMatrix lesson applied to the single-method eval
    val exact = simTopk(s, dir).select(col("qid"), col("vec_id"))
      .localCheckpoint(true)
    val ann = simAnnLsh(s, dir).select(col("qid"), col("vec_id"))
    val hits = exact.join(ann, Seq("qid", "vec_id"))
      .groupBy("qid").agg(count(lit(1)).as("n_hit"))
    exact.groupBy("qid").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("qid"), "left_outer")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .select(col("qid"), col("n_exact"), col("n_hit"),
        expr("CAST(n_hit * 100 div n_exact AS BIGINT)").as("recall_pct"))
      .orderBy("qid")
  }

  /** L3h': the ANN recall MATRIX — [[simAnnRecallEval]] widened to
    * every approximate path the engine ships (graph beam search, LSH,
    * IVF-Flat, multi-probe IVF, PQ-ADC, IVF+PQ), one dashboard row per method
    * against the exact top-k:
    * the "which index do we deploy" decision table, where recall
    * trades against each method's scan cost. Each method's pairs are
    * its OWN catalog plan (nothing re-derived), the exact side is
    * [[simTopk]]'s broadcast-probe scan, and the per-method overlap
    * is a k·queries-row join — the matrix costs one pass over each
    * method it measures, nothing more. recall_pct stays integer. */
  def simAnnRecallMatrix(s: SparkSession, dir: String): DataFrame = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val exact = simTopk(s, dir).select(col("qid"), col("vec_id"))
      .localCheckpoint(true) // probed by all six methods
    val ne = exact.agg(count(lit(1)).as("n_exact"))
    // the six methods are INDEPENDENT plans probing one checkpointed
    // exact relation — build and materialize each 1-row recall line as
    // a concurrent job chain (the cluster_linkage_ladder lesson: a fan
    // of independent iterative plans is driver-latency-bound when run
    // sequentially). Shared trainings (kmeans cells, the k-NN search
    // graph) stay single-build: every memo getter is synchronized.
    val methods: Seq[(String, () => DataFrame)] = Seq(
      "graph" -> (() => simAnnGraph(s, dir).select(col("qid"),
        col("nid").as("vec_id"))),
      "ivf" -> (() => simAnnIvf(s, dir)),
      "ivf_mp" -> (() => simAnnIvfMultiprobe(s, dir)),
      "ivfpq" -> (() => simAnnIvfPq(s, dir)),
      "lsh" -> (() => simAnnLsh(s, dir)),
      "pq" -> (() => simAnnPq(s, dir)))
    methods.map { case (name, mk) =>
      Future {
        exact.join(mk().select("qid", "vec_id"), Seq("qid", "vec_id"))
          .agg(count(lit(1)).as("n_hit"))
          .crossJoin(broadcast(ne))
          .select(lit(name).as("method"), col("n_exact"), col("n_hit"),
            expr("n_hit * 100 div n_exact").as("recall_pct"))
          .localCheckpoint(true)
      }
    }.map(Await.result(_, Duration.Inf))
      .reduce(_ union _).orderBy("method")
  }

  /** sim_ann_graph knobs — bounded and unrolled, plan linear in
    * rounds: search-graph out-degree, beam-search rounds, beam width,
    * global entry points, results per query. Degree is the recall
    * lever (NSW: out-degree must exceed the data's intrinsic
    * dimensionality for greedy routing to converge): a parameter
    * sweep on the sf0.01 corpus measured recall@5 = 0.20 on the
    * sparse k=3 graph vs 0.96 at degree 8 / beam 32 / seeds 32 /
    * 3 rounds — the shipped operating point. */
  val GraphAnnDegree = 8
  val GraphAnnRounds = 3
  val GraphAnnBeam = 32
  val GraphAnnSeeds = 32
  val GraphAnnK = 5

  /** L3i: graph-ANN — greedy BEAM search over the k-NN similarity
    * graph, the flat (single-layer) form of the NSW/HNSW family
    * (Malkov & Yashunin 2018: SEARCH-LAYER with ef = beam): start
    * from fixed entry points, repeatedly expand the current beam's
    * graph neighbors, keep the best `beam` candidates by exact
    * cosine, emit the top-k after `rounds` hops. This is the third
    * ANN paradigm beside the hash family (LSH) and the quantization
    * family (IVF/PQ/SQ) — on disk-resident corpora it is the one
    * that reads only the walked neighborhood instead of whole
    * buckets/cells.
    *
    * Determinism: entry points are the `seeds` smallest vec_ids
    * (HNSW's fixed enter-point generalized), scores are the corpus
    * round(·,4) cosine with (cos DESC, nid ASC) tie-break everywhere,
    * so both engines replay the identical walk — no RNG.
    *
    * Scale shape: the edge relation is the (memoized) k-NN graph,
    * symmetrized; each round is ONE equi-join of the (queries × beam)
    * frontier against it (candidate rows ≤ |Q|·beam·2k — constant
    * fan-out, hub-free by construction since out-degree is k), one
    * scoring join against the corpus keyed by vec_id, and one
    * beam-partitioned window. Rounds are bounded and unrolled;
    * per-round localCheckpoint keeps the plan constant-size. Recall
    * is measured in-catalog by the AnnGraphSpec against [[simTopk]]'s
    * exact answer — measure, don't guess. */
  def simAnnGraphOn(emb: DataFrame, edges: DataFrame,
      rounds: Int = GraphAnnRounds, beam: Int = GraphAnnBeam,
      seeds: Int = GraphAnnSeeds, k: Int = GraphAnnK): DataFrame = {
    require(rounds >= 1 && beam >= k && seeds >= 1,
      s"need rounds>=1, beam>=k, seeds>=1; got $rounds/$beam/$seeds/$k")
    val e = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), col("v"), norm2(col("v")).as("nrm"))
      .localCheckpoint(true) // scored against every round
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"))
      .localCheckpoint(true) // the 5 standard probes, broadcast-sized
    val sym = edges.select(col("qid").as("src"), col("nid").as("dst"))
      .unionByName(edges.select(col("nid").as("src"), col("qid").as("dst")))
      .distinct().localCheckpoint(true)
    val seedRel = e.orderBy("vec_id").limit(seeds)
      .select(col("vec_id").as("nid"))
    def score(cand: DataFrame): DataFrame = cand
      .join(e.select(col("vec_id").as("nid"), col("v").as("nv"),
        col("nrm").as("nnrm")), "nid")
      .join(broadcast(q), "qid")
      .select(col("qid"), col("nid"),
        round(dot(col("qv"), col("nv")) / (col("qnrm") * col("nnrm")), 4)
          .as("cos"))
    val wBeam = Window.partitionBy("qid")
      .orderBy(col("cos").desc, col("nid").asc)
    var beamDf = score(
        q.select("qid").crossJoin(broadcast(seedRel))
          .filter(col("nid") =!= col("qid")))
      .withColumn("rnk", row_number().over(wBeam))
      .filter(col("rnk") <= beam).drop("rnk")
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val cand = beamDf.select("qid", "nid")
        .join(sym, col("nid") === col("src"))
        .select(col("qid"), col("dst").as("nid"))
        .filter(col("nid") =!= col("qid"))
        .distinct()
      // scores are deterministic, so the union's duplicates are
      // identical rows — distinct() is the dedupe
      beamDf = beamDf.unionByName(score(cand)).distinct()
        .withColumn("rnk", row_number().over(wBeam))
        .filter(col("rnk") <= beam).drop("rnk")
        .localCheckpoint(true)
    }
    beamDf.withColumn("rnk", row_number().over(wBeam).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("nid"), col("cos"))
      .orderBy("qid", "rnk")
  }

  private val annEdgeCache = Memo.cache[String, DataFrame]

  /** The degree-[[GraphAnnDegree]] search graph, memoized: one window
    * over the memoized pair relation. */
  private def annGraphEdges(s: SparkSession, dir: String): DataFrame =
    memo(annEdgeCache, s, dir) {
      simKnnJoinCached(s, dir, GraphAnnDegree)
        .select("qid", "nid").localCheckpoint(true)
    }

  def simAnnGraph(s: SparkSession, dir: String): DataFrame =
    simAnnGraphOn(Tables.embeddings(s, dir), annGraphEdges(s, dir))

  val CELLS = 16 // IVF coarse cells

  /** L3c: IVF-Flat — coarse quantization into CELLS inverted lists,
    * then exact search within the query's cell. "Training" is
    * deterministic (centroids = the first CELLS corpus vectors — at
    * scale, a seeded k-means over a sample); assignment distance runs
    * in floor(x*2^20)-quantized integer space so the argmin (with
    * centroid-id tie-break) is bit-identical in the oracle. */
  def simAnnIvf(s: SparkSession, dir: String): DataFrame = {
    // Round 12 (optimization): the assignment (quantized L2 to every
    // centroid, argmin with cid tie-break) is [[coarseCellRanksOn]]'s
    // rn = 1 slice — previously spelled inline with an identical plan;
    // riding the shared (now checkpointed) relation stops the
    // corpus-side e's two references from re-deriving it.
    val cells = coarseCellsOn(Tables.embeddings(s, dir))
    // exact cosine rerank within the query's cell
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .select(col("vec_id"), col("emb"), norm2(col("emb")).as("nrm"))
      .join(cells, "vec_id")
    val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"),
      col("nrm").as("qnrm"), col("cell").as("qcell"))
      .filter(col("qid") < 5)
    val w = Window.partitionBy("qid")
      .orderBy(col("cos").desc, col("vec_id").asc)
    e.join(broadcast(q),
        col("cell") === col("qcell") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("cell"),
        round(dot(col("qemb"), col("emb")) /
          (col("qnrm") * col("nrm")), 4).as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .orderBy("qid", "rnk")
  }

  val NPROBE = 4 // cells each query probes in the multi-probe variant

  /** L3c'': multi-probe IVF — the production recall lever single-cell
    * IVF lacks (FAISS `nprobe`; Jégou et al. 2011 §V): the true
    * nearest neighbor of a query near a cell boundary often lives in
    * the SECOND- or third-closest inverted list, so each query scans
    * its NPROBE closest cells instead of one. Data vectors keep their
    * single rn=1 list assignment (the index is unchanged — only probe
    * fan-out grows), so scanned candidates grow ~linearly in nprobe
    * while recall climbs toward exact. Plan shape is [[simAnnIvf]]'s:
    * the probe relation is (queries x NPROBE) rows — still a
    * broadcast — the corpus side makes one pass joined on the cell
    * equi-key, and each candidate matches AT MOST ONE probe row per
    * query (probe cells are distinct), so no dedup is needed before
    * the per-query top-k window. The recall gain is pinned by spec
    * against the single-probe variant on the same corpus. */
  def simAnnIvfMultiprobe(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val ranked = coarseCellRanksOn(emb)
    val cells = ranked.filter(col("rn") === 1)
      .select(col("vec_id"), col("cid").as("cell"))
    val qprobe = ranked.filter(col("vec_id") < 5 && col("rn") <= NPROBE)
      .select(col("vec_id").as("qid"), col("cid").as("qcell"))
    val e = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .select(col("vec_id"), col("emb"), norm2(col("emb")).as("nrm"))
      .join(cells, "vec_id")
    val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"),
        col("nrm").as("qnrm"))
      .filter(col("qid") < 5)
      .join(qprobe, "qid")
    val w = Window.partitionBy("qid")
      .orderBy(col("cos").desc, col("vec_id").asc)
    e.join(broadcast(q),
        col("cell") === col("qcell") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("cell"),
        round(dot(col("qemb"), col("emb")) /
          (col("qnrm") * col("nrm")), 4).as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .orderBy("qid", "rnk")
  }

  /** L3c': IVF-Flat with TRAINED coarse centroids — [[simAnnIvf]]'s
    * "at scale, a seeded k-means" note made real: the inverted lists
    * are [[kmeansOn]]'s trained cells (k = 8, 2 Lloyd's iterations,
    * the exact-integer recipe the oracle replays), then exact cosine
    * rerank within the query's cell. Same plan skeleton as the static
    * variant — tiny query side broadcast, cell equi-predicate, one
    * qid-keyed window — reading the (vec_id, cell) assignment from
    * the memoized [[kmeansCached]] relation (same defaults, already
    * checkpointed), so a catalog run never re-runs Lloyd's for this
    * query. */
  def simAnnIvfTrained(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val cells = kmeansCached(s, dir).select("vec_id", "cell")
    val e = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .select(col("vec_id"), col("emb"), norm2(col("emb")).as("nrm"))
      .join(cells, "vec_id")
    val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"),
      col("nrm").as("qnrm"), col("cell").as("qcell"))
      .filter(col("qid") < 5)
    val w = Window.partitionBy("qid")
      .orderBy(col("cos").desc, col("vec_id").asc)
    e.join(broadcast(q),
        col("cell") === col("qcell") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("cell"),
        round(dot(col("qemb"), col("emb")) /
          (col("qnrm") * col("nrm")), 4).as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .orderBy("qid", "rnk")
  }

  /** L3i: product-quantization ANN (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search") — the memory-bound
    * scale path the IVF/LSH variants don't cover: each vector is
    * compressed to `subs` one-byte codes (here 4 subspaces x 16 dims,
    * 8 centroids each), and search runs entirely against the CODES via
    * asymmetric distance computation (ADC): per query, ONE tiny
    * distance table (subs x k entries, the exact query-to-centroid
    * distances) is built, then every corpus vector's approximate
    * distance is just `subs` table lookups summed — no original
    * vectors are ever touched at query time. At 100 TB that is the
    * whole point: the encoded corpus is ~1/64th the raw size, the
    * codebooks and distance tables are broadcast scalars, and the scan
    * side is a map-only join + partial agg on (qid, vec_id).
    *
    * Training is one Lloyd round PER SUBSPACE over the same quantized
    * integer grid as [[kmeansOn]] (seed = the k smallest vec_ids'
    * subvectors, one update, re-assign to encode) — deterministic
    * integer arithmetic end to end, so the DuckDB oracle replays the
    * codebooks, codes, and ADC sums bit-for-bit. */
  private def pqGrid(df: DataFrame, id: String, subDim: Int): DataFrame =
    df.select(col(id), posexplode(col("embedding")))
      .select(col(id), expr(s"CAST(pos div $subDim AS INT)").as("sub"),
        col("pos").as("i"),
        floor(col("col").cast("double") * 1048576).cast("long").as("qv"))

  /** Nearest-codebook assignment carrying the winning quantization
    * error: (vec_id, sub, cell, d2). */
  private def pqAssignD2(qv: DataFrame, cent: DataFrame): DataFrame =
    qv.join(broadcast(cent), Seq("sub", "i"))
      .groupBy("vec_id", "sub", "cell")
      .agg(sum((col("qv") - col("cv")) * (col("qv") - col("cv"))).as("d2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id", "sub")
          .orderBy(col("d2").asc, col("cell").asc)))
      .filter(col("rn") === 1)
      .select("vec_id", "sub", "cell", "d2")

  /** PQ training core shared by [[pqAnnOn]] and
    * [[simPqDistortionOn]]: subspaced integer grid + the one-Lloyd-
    * round codebook (both checkpointed). */
  private def pqTrain(emb: DataFrame, subDim: Int, k: Int)
      : (DataFrame, DataFrame) = {
    val qv = pqGrid(emb, "vec_id", subDim).localCheckpoint(true)
    val seedIds = qv.select("vec_id").distinct().orderBy("vec_id").limit(k)
      .withColumn("cell",
        (row_number().over(Window.partitionBy(Guards.one)
          .orderBy("vec_id")) - 1).cast("int"))
    val c0 = qv.join(broadcast(seedIds), "vec_id")
      .select(col("sub"), col("cell"), col("i"), col("qv").as("cv"))
    val c1 = qv
      .join(pqAssignD2(qv, c0).select("vec_id", "sub", "cell"),
        Seq("vec_id", "sub"))
      .groupBy("sub", "cell", "i")
      .agg(floor(sum(col("qv")).cast("double") / count(lit(1)))
        .cast("long").as("cv"))
      .localCheckpoint(true)
    (qv, c1)
  }

  private val pqTrainCache = Memo.cache[String, (DataFrame, DataFrame)]

  /** The catalog PQ training, memoized per (session, dir): three
    * consumers (sim_ann_pq, sim_ann_ivfpq, sim_pq_distortion) read
    * the same grid + codebook, so a catalog run trains once. */
  private def pqTrainCached(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    memo(pqTrainCache, s, dir) {
      pqTrain(Tables.embeddings(s, dir), 16, 8)
    }

  def pqAnnOn(emb: DataFrame, queries: DataFrame, subDim: Int = 16,
      k: Int = 8, topK: Int = 5,
      coarseCells: Option[DataFrame] = None,
      trained: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    def grid(df: DataFrame, id: String): DataFrame = pqGrid(df, id, subDim)
    val (qv, c1) = trained.getOrElse(pqTrain(emb, subDim, k))
    val codes = pqAssignD2(qv, c1).select("vec_id", "sub", "cell")
      .withColumnRenamed("cell", "code")
    // ADC: the per-query distance table is (queries x subs x k) rows —
    // a broadcast no matter the corpus size
    val dt = grid(queries, "qid").join(broadcast(c1), Seq("sub", "i"))
      .groupBy("qid", "sub", "cell")
      .agg(sum((col("qv") - col("cv")) * (col("qv") - col("cv"))).as("pd2"))
      .select(col("qid"), col("sub"), col("cell").as("code"), col("pd2"))
    // optional IVF restriction (the FAISS IVFPQ compose): candidates
    // must share the query's coarse cell, so the ADC scan touches
    // only the query's inverted list — the cell predicate joins into
    // the broadcast distance-table side and prunes BEFORE the sum
    val (codeSide, dtSide) = coarseCells match {
      case Some(cells) =>
        val qc = cells.select(col("vec_id").as("qid"),
          col("cell").as("qcell"))
        (codes.join(cells, "vec_id"), dt.join(broadcast(qc), "qid"))
      case None => (codes, dt)
    }
    codeSide.join(broadcast(dtSide), Seq("sub", "code"))
      .filter(col("qid") =!= col("vec_id") &&
        (if (coarseCells.isDefined) col("cell") === col("qcell")
         else lit(true)))
      .groupBy("qid", "vec_id").agg(sum(col("pd2")).as("ad2"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("ad2").asc, col("vec_id").asc)))
      .filter(col("rnk") <= topK)
  }

  def simAnnPq(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    pqAnnOn(emb,
      emb.filter(col("vec_id") < 5).withColumnRenamed("vec_id", "qid"),
      trained = Some(pqTrainCached(s, dir)))
      .orderBy("qid", "rnk")
  }

  /** L3k: PQ codebook-health dashboard — per subquantizer the mean
    * and max quantization error (Jégou et al. 2011's distortion, the
    * quantity PQ training minimizes) plus code utilization (distinct
    * codes assigned of k): the "is the codebook good enough / did a
    * subspace collapse" readout an ANN deployment reads next to the
    * recall matrix. Errors are the winning assignment's exact
    * integer-grid d2 — the same relation encoding already computes —
    * so the op adds one rollup over the memoized training.
    *
    * Scale: encode is a map-side join against the broadcast codebook;
    * the dashboard is a 4-row rollup. */
  def simPqDistortionOn(emb: DataFrame, subDim: Int = 16, k: Int = 8,
      trained: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val (qv, c1) = trained.getOrElse(pqTrain(emb, subDim, k))
    pqAssignD2(qv, c1)
      .groupBy("sub")
      .agg(count(lit(1)).as("n_vecs"),
        expr("CAST(SUM(d2) DIV COUNT(1) AS BIGINT)").as("mean_d2"),
        max(col("d2")).as("max_d2"),
        countDistinct(col("cell")).as("n_codes_used"))
      .orderBy("sub")
  }

  def simPqDistortion(s: SparkSession, dir: String): DataFrame =
    simPqDistortionOn(Tables.embeddings(s, dir),
      trained = Some(pqTrainCached(s, dir)))

  /** The static coarse quantizer shared by [[simAnnIvf]] and the
    * IVFPQ compose: quantized-L2 argmin against the first [[CELLS]]
    * corpus vectors (at scale: [[kmeansOn]] over a sample — the
    * trained variant is [[simAnnIvfTrained]]). */
  /** Quantized-L2 distance rank of every (vector, coarse cell) pair —
    * rn = 1 is the vector's inverted-list assignment; rn <= nprobe is
    * a query's probe set. Shared by [[coarseCellsOn]] (single-assign)
    * and [[simAnnIvfMultiprobe]] (multi-probe queries). */
  private def coarseCellRanksOn(emb: DataFrame): DataFrame = {
    val qv = emb
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("i"),
        floor(col("col").cast("double") * 1048576).cast("long").as("qv"))
    val cent = qv.filter(col("vec_id") < CELLS)
      .select(col("vec_id").as("cid"), col("i"), col("qv").as("cv"))
    val w0 = Window.partitionBy("vec_id")
      .orderBy(col("d2").asc, col("cid").asc)
    qv.join(broadcast(cent), "i")
      .groupBy("vec_id", "cid")
      .agg(sum((col("qv") - col("cv")) * (col("qv") - col("cv"))).as("d2"))
      .withColumn("rn", row_number().over(w0))
      // Round 12 (optimization): every consumer references this
      // relation 2-3x (cells + query probes, each joined into the
      // corpus-side relation that is itself read twice), re-running
      // the 64x explode + d2 aggregation + argmin WINDOW each time —
      // post-exchange work exchange reuse cannot recover. One
      // CELLS-rows-per-vector checkpoint.
      .localCheckpoint(true)
  }

  private def coarseCellsOn(emb: DataFrame): DataFrame =
    coarseCellRanksOn(emb)
      .filter(col("rn") === 1).select(col("vec_id"), col("cid").as("cell"))

  /** L3i': IVF + PQ — the FAISS-default index structure at billion
    * scale (Jégou et al. 2011 §IV): a coarse quantizer routes each
    * query to ONE inverted list, and within the list distances come
    * from the PQ codes via ADC. Composes the engine's two existing
    * pieces: [[coarseCellsOn]]'s static cells restrict the candidate
    * set, [[pqAnnOn]]'s code scan scores it. At 100 TB the coarse
    * restriction divides the scanned codes by the cell count and the
    * PQ codes divide the scanned BYTES by ~64x — multiplicative with
    * each other, which is why production ANN ships the compose, not
    * either piece alone. Everything stays quantized-integer, so the
    * oracle replays cells, codebooks, codes, and ADC sums exactly. */
  def simAnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    pqAnnOn(emb,
      emb.filter(col("vec_id") < 5).withColumnRenamed("vec_id", "qid"),
      coarseCells = Some(coarseCellsOn(emb)),
      trained = Some(pqTrainCached(s, dir)))
      .orderBy("qid", "rnk")
  }

  /** L3j: MaxSim late-interaction scoring (the ColBERT retrieval
    * primitive) — a MULTI-VECTOR query (one embedding per query
    * token) against multi-vector documents: per query vector, take
    * the max cosine over the document's vectors, then sum those
    * maxima. Captures fine-grained term matching that single-vector
    * cosine collapses away.
    *
    * Scale shape is the broadcast-probe scan ([[topkCosineOn]]'s):
    * the query's vector set is small by construction (tokens in one
    * query), so it broadcasts; the corpus makes ONE map-side pass,
    * then two bounded aggregations — max per (doc, query-vector),
    * sum per doc. Nothing doc-keyed ever shuffles except the
    * (doc, qid) maxima, at most |q| rows per doc. Determinism: cos
    * rounds to 4 dp at the boundary; max over rounded doubles is
    * order-free, and the final score sums SCALED INTEGERS
    * (`score_x10k` = sum of round(max_cos * 10^4) as BIGINT) so
    * accumulation order cannot perturb bits AND the on-disk
    * representation is hash-stable across engines — r5's driver
    * flagged the DECIMAL(14,4) spelling on encoding alone while every
    * value compared equal (graft.Exact convention). */
  def maxsimOn(corpus: DataFrame, qvecs: DataFrame): DataFrame = {
    val e = corpus
      .select(col("label"), col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      .select(col("label"), col("vec_id"), col("emb"),
        norm2(col("emb")).as("nrm"))
    val q = qvecs
      .select(col("qid"), col("embedding").cast("array<double>").as("qemb"))
      .select(col("qid"), col("qemb"), norm2(col("qemb")).as("qnrm"))
    e.join(broadcast(q), lit(true))
      .select(col("label"), col("qid"),
        round(dot(col("qemb"), col("emb")) /
          (col("qnrm") * col("nrm")), 4).as("cos"))
      .groupBy("label", "qid").agg(max(col("cos")).as("mx"))
      .groupBy("label").agg(count(lit(1)).as("n_qvecs"),
        sum(round(col("mx") * 10000, 0).cast("long")).as("score_x10k"))
  }

  /** Catalog wrapper: label 0's vector set plays the multi-vector
    * query; every label (itself included — its score is the
    * self-match ceiling) is a multi-vector document. */
  def simMaxsim(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    maxsimOn(emb,
      emb.filter(col("label") === 0).select(col("vec_id").as("qid"),
        col("embedding")))
      .orderBy("label")
  }

  /** L3m: ANN-mined hard negatives — the contrastive-training miner
    * (Xiong et al. 2021 ANCE; Karpukhin et al. 2020 DPR §5.2): for
    * each query vector, the top-k most-similar vectors whose label
    * DIFFERS — near-misses the embedding model must learn to push
    * away. Same broadcast-probe scan as [[topkCosineOn]] with the
    * label disequality folded into the join predicate, so negatives
    * are filtered BEFORE the per-query top-k window; at cluster scale
    * the window becomes the partial-TopK plan (graft.plans.TopK) the
    * topk_per_key query pins. Scores ship as half-up-scaled BIGINT
    * (`rel_x10k`, ORACLES.md A12). */
  def simHardNegativesOn(corpus: DataFrame, queries: DataFrame,
      k: Int = 10): DataFrame = {
    val e = corpus
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
      .select(col("vec_id"), col("label"), col("emb"), norm2(col("emb")).as("nrm"))
    val q = queries
      .select(col("qid"), col("qlabel"),
        col("embedding").cast("array<double>").as("qemb"))
      .select(col("qid"), col("qlabel"), col("qemb"), norm2(col("qemb")).as("qnrm"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("qid")
      .orderBy(col("cos").desc, col("vec_id").asc)
    e.join(broadcast(q), col("label") =!= col("qlabel"))
      .select(col("qid"), col("vec_id"), col("label").as("neg_label"),
        round(dot(col("qemb"), col("emb")) /
          (col("qnrm") * col("nrm")), 4).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"), col("neg_label"),
        expr("CAST(floor(cos * 10000 + 0.5) AS BIGINT)").as("rel_x10k"))
      .orderBy("qid", "rank")
  }

  def simHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    simHardNegativesOn(emb,
      emb.filter(col("vec_id") < 10).select(col("vec_id").as("qid"),
        col("label").as("qlabel"), col("embedding")))
  }

  /** Johnson–Lindenstrauss output width of [[simRandomProjection]]:
    * 64 → 16 dims (4× compression). */
  val RpDim = 16

  /** Deterministic ±1 sign for input dim `d` (1-based), output dim
    * `j` (0-based) — a fixed seeded sign matrix, the Achlioptas 2003
    * database-friendly JL variant (entries ±1, no gaussians). The
    * multiply-then-mod mixes parity so no two output dims share a
    * sign pattern; all-integer, so both engines agree bit-for-bit. */
  private def rpSignSql(d: String, j: String): String =
    s"CASE WHEN (($d * 131 + $j * 31 + 7) * 2654435761) % 1000000007 % 2 = 0 " +
      s"THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END"

  /** Spark-side projection: emb (any dim) → [[RpDim]] doubles. The
    * j-th output is a fixed-order left fold over the input dims —
    * the same fold order as the DuckDB mirror, so the float sums are
    * IEEE-identical. r13: one compiled pass per row
    * ([[graft.plans.RpProject]] — same sign LCG, same ascending-d
    * fold, spec-checked equal to the transform/aggregate spelling,
    * which ran RpDim·dims INTERPRETED lambda evaluations per row). */
  private def rpProject(emb: String): Column =
    graft.plans.GraftFunctions.rp_project(col(emb), RpDim)

  /** L3n: random-projection (JL) top-k with in-catalog recall — the
    * cheapest ANN rung: project corpus and queries through the fixed
    * ±1 matrix (map-only, 4× narrower vectors), run the same
    * broadcast-probe top-k in the projected space, and report per
    * query how many of the exact top-k survive. One dashboard row per
    * query, same schema as sim_ann_recall_eval — slotting JL into the
    * "which index do we deploy" table next to LSH/IVF/PQ. At 100 TB
    * the projected corpus is what you'd persist: the full-width scan
    * happens once at projection time, every later search touches 1/4
    * the bytes. */
  def simRandomProjection(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .select(col("vec_id"), rpProject("emb").as("p"))
      .select(col("vec_id"), col("p"), norm2(col("p")).as("nrm"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("p").as("qp"), col("nrm").as("qnrm"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("qid")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val proj = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(dot(col("qp"), col("p")) /
          (col("qnrm") * col("nrm")), 4).as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("qid", "vec_id")
    // probed twice (hit join + denominator): checkpoint the tiny
    // k·queries-row exact result — see simAnnRecallEval
    val exact = simTopk(s, dir).select(col("qid"), col("vec_id"))
      .localCheckpoint(true)
    val hits = exact.join(proj, Seq("qid", "vec_id"))
      .groupBy("qid").agg(count(lit(1)).as("n_hit"))
    exact.groupBy("qid").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("qid"), "left_outer")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .select(col("qid"), col("n_exact"), col("n_hit"),
        expr("CAST(n_hit * 100 div n_exact AS BIGINT)").as("recall_pct"))
      .orderBy("qid")
  }

  /** Rounds of greedy k-center selection in [[sampleKcenter]]. */
  val KcenterK = 5

  /** Portable squared-L2 between two double arrays: fixed ascending
    * fold, mirrored by [[sqlD2]]. */
  private def d2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  private def sqlD2(a: String, b: String): String =
    s"""list_reduce(list_concat([CAST(0 AS DOUBLE)],
       |  list_transform(range(1, len($a) + 1),
       |    i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) *
       |         (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))),
       |  (x, y) -> x + y)""".stripMargin

  /** L7c: greedy k-center coreset (Gonzalez 1985 farthest-point
    * traversal, the 2-approximation): seed with the smallest vec_id,
    * then k−1 rounds each picking the vector FARTHEST from the
    * selected set — the diversity-maximal coreset a curation pass
    * uses to cover an embedding space with a fixed label/inspection
    * budget (complementary to [[sampleClusterBalancedOn]], which
    * balances a given clustering; k-center BUILDS the cover and
    * reports its radius).
    *
    * Each round is one corpus pass: distance to the ONE new center
    * (broadcast single row), a `least` against the running min, and
    * a 1-row TakeOrdered argmax (the BPE-argmax precedent — never a
    * global sort). k bounded rounds, localCheckpointed so round r's
    * plan does not re-derive rounds 1..r−1. Distances are 4dp-rounded
    * before the argmax, ties to the lower vec_id — deterministic in
    * both engines; the oracle unrolls the same rounds as CTEs.
    * Output: selection order, the chosen centers, and the shrinking
    * coverage radius (max-min distance at pick time — the k-vs-radius
    * curve that says when the budget is enough). */
  def sampleKcenterOn(corpus: DataFrame, k: Int = KcenterK): DataFrame = {
    require(k >= 2, s"need k >= 2, got $k")
    val e = corpus
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val seed = e.orderBy(col("vec_id").asc).limit(1)
      .select(col("vec_id"), col("emb"), lit(0.0).as("md"))
      .localCheckpoint(true)
    var picked = Seq(seed)
    var mind = e.crossJoin(broadcast(seed.select(col("emb").as("cemb"))))
      .select(col("vec_id"), col("emb"),
        round(d2(col("emb"), col("cemb")), 4).as("md"))
      .localCheckpoint(true)
    for (_ <- 2 to k) {
      val next = mind.orderBy(col("md").desc, col("vec_id").asc).limit(1)
        .localCheckpoint(true)
      picked = picked :+ next
      mind = mind
        .crossJoin(broadcast(next.select(col("emb").as("cemb"))))
        .select(col("vec_id"), col("emb"),
          least(col("md"), round(d2(col("emb"), col("cemb")), 4)).as("md"))
        .localCheckpoint(true)
    }
    picked.zipWithIndex.map { case (c, i) =>
      c.select(lit(i + 1).as("pick"), col("vec_id"),
        expr("CAST(floor(md * 10000 + 0.5) AS BIGINT)").as("radius_x10k"))
    }.reduce(_ unionByName _).orderBy("pick")
  }

  def sampleKcenter(s: SparkSession, dir: String): DataFrame =
    sampleKcenterOn(Tables.embeddings(s, dir))

  /** L3m: scalar-quantization ANN (SQ8, the FAISS `SQ8`/Milvus
    * `IVF_SQ8` compression tier): each dimension is affinely mapped
    * to an 8-bit code between the corpus-wide per-dimension min and
    * max, cutting vector storage 4x vs float32 (16x vs the 2^20
    * integer grid) while — unlike PQ's codebook cells — keeping every
    * dimension independently addressable. Search is asymmetric: the
    * query stays at full precision and scores against each code's
    * reconstruction (cell floor), so the only error is one
    * quantization cell per dimension. All arithmetic stays on the
    * floor(x·2^20) BIGINT grid with single non-negative DIVs
    * (code = (qv−mn)·255 div (mx−mn), recon = mn + code·(mx−mn) div
    * 255), so DuckDB replays the ranking bit-for-bit.
    *
    * Scale: training is one 64-row min/max aggregate (broadcast
    * back); encoding is a map-side join against that 64-row frame;
    * scoring joins the broadcast query coordinates on dimension and
    * the (qid, vec_id) distance aggregate partial-combines map-side,
    * so the one real shuffle carries |Q| rows per corpus vector. The
    * IVF row of the recall matrix is the routing complement: compose
    * as IVF_SQ8 by swapping PQ's codes for these in the ivfpq
    * pipeline. */
  def simAnnSqOn(corpus: DataFrame, queries: DataFrame, k: Int = 5): DataFrame = {
    val qv = corpus
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("i"),
        floor(col("col").cast("double") * 1048576).cast("long").as("qv"))
    val mm = broadcast(
      qv.groupBy("i").agg(min(col("qv")).as("mn"), max(col("qv")).as("mx")))
    val recon = qv.join(mm, "i")
      .select(col("vec_id"), col("i"),
        expr("""mn + (CASE WHEN mx > mn
               |  THEN (qv - mn) * 255 DIV (mx - mn) ELSE 0 END)
               |  * (mx - mn) DIV 255""".stripMargin).as("recon"))
    val qq = broadcast(queries
      .select(col("qid"), posexplode(col("embedding")))
      .select(col("qid"), col("pos").as("i"),
        floor(col("col").cast("double") * 1048576).cast("long").as("q")))
    val d = recon.join(qq, "i")
      .filter(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id")
      .agg(sum(expr("(q - recon) * (q - recon)")).as("adist"))
    val w = Window.partitionBy("qid").orderBy(col("adist").asc, col("vec_id").asc)
    d.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("qid", "rnk", "vec_id", "adist")
      .orderBy("qid", "rnk")
  }

  def simAnnSq(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    simAnnSqOn(emb,
      emb.filter(col("vec_id") < 5).withColumnRenamed("vec_id", "qid"))
  }

  /** L11y: embedding-distribution drift between two vector slices —
    * the [[graft.functions.Corpus.profileDriftOn]] monitor for the
    * VECTOR column (embedding-model version bumped? new scrape
    * shifted the semantic mix? an index rebuild is due?): per
    * dimension, the micro-quantized means of both slices and their
    * absolute shift; corpus-wide, the L1 mean shift and the cosine
    * between the two mean vectors (1e6 = identical direction).
    *
    * Exact discipline: each component quantizes to integer micro
    * BEFORE the sum (order-free — the logreg convention), per-dim
    * means FLOOR a double quotient (negative sums: div/`//` disagree
    * across engines, ORACLES.md rule), and the one cosine crosses
    * the round(,9) transcendental boundary. Shape: one posexplode →
    * dim-keyed rollup per slice (map-side combined, |dims| groups),
    * a dim join of two |dims|-row relations, scalars on the 1-row
    * broadcast. Nothing row-keyed shuffles. */
  def simEmbeddingDriftOn(a: DataFrame, b: DataFrame): DataFrame = {
    def dimMeans(df: DataFrame, tag: String): DataFrame = df
      .select(posexplode(col("embedding").cast("array<double>"))
        .as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"),
        expr("CAST(floor(x * 1000000 + 0.5) AS BIGINT)").as("xm"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum(col("xm")).as("s"))
      .select(col("dim"),
        expr("CAST(FLOOR(CAST(s AS DOUBLE) / n) AS BIGINT)")
          .as(s"mean_${tag}_micro"))
    val joined = dimMeans(a, "a").join(dimMeans(b, "b"), Seq("dim"))
      .withColumn("shift_micro",
        abs(col("mean_a_micro") - col("mean_b_micro")))
      .localCheckpoint(true) // |dims| rows; read by scalars + output
    val tot = joined.agg(
      sum(col("shift_micro")).as("l1_shift_micro"),
      sum(col("mean_a_micro") * col("mean_b_micro")).as("dot"),
      sum(col("mean_a_micro") * col("mean_a_micro")).as("na2"),
      sum(col("mean_b_micro") * col("mean_b_micro")).as("nb2"))
      .select(col("l1_shift_micro"), expr(
        """CASE WHEN na2 > 0 AND nb2 > 0 THEN
          |  CAST(floor(round(CAST(dot AS DOUBLE)
          |    / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))),
          |    9) * 1000000) AS BIGINT) END""".stripMargin)
        .as("cos_ppm"))
    joined.crossJoin(broadcast(tot))
      .select("dim", "mean_a_micro", "mean_b_micro", "shift_micro",
        "l1_shift_micro", "cos_ppm")
      .orderBy("dim")
  }

  /** L3r: top principal component by fixed-iteration power method —
    * the spectral readout an embedding pipeline runs before whitening
    * (Mu et al. 2018's "all-but-the-top": dominant directions of a
    * sentence-embedding corpus are corpus-wide artifacts worth
    * removing), for drift detection (did the dominant direction
    * move?), and as the 1-D projection behind PCA-tree sharding.
    *
    * Exact integer end to end, the [[kmeansOn]] discipline: coords
    * quantize at floor(x·2²⁰); per-dim means floor once (BIGINT DIV
    * n); the 64×64 covariance is C_ij = ⌊Σ c_i·c_j / n⌋ with the sum
    * in DECIMAL(38,0) (exact to ~10²⁵ vectors — no overflow cliff at
    * any reachable corpus size); the iterate starts at the
    * deterministic e₀·2²⁰ and each of the three unrolled rounds is
    * u = C·v (DECIMAL sums over 64 terms) followed by max-norm
    * renormalization v = ⌊u·2²⁰ / max|u|⌋ — every floor a documented
    * quantization boundary, so DuckDB replays all rounds bit-for-bit
    * (HUGEINT on its side, same headroom). Sign convention: whatever
    * sign the e₀-seeded iterate converges to — deterministic, shared
    * with the oracle. A zero max|u| (degenerate all-equal corpus)
    * gates the round to NULL rather than fabricating a direction.
    *
    * Shape: ONE corpus pass builds the centered coordinate relation;
    * the d²-fanout covariance join (64·n rows in flight, UPPER
    * triangle only — mirrored after the rollup) partial-aggregates
    * map-side down to 2080 carrier rows, and everything after —
    * matvecs, norms, output — lives on ≤ 64-row relations riding
    * broadcasts. At 100 TB the covariance rollup is the only shuffle
    * that sees data; its key space is (i,j), constant. */
  def simPcaPowerOn(emb: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    val qv = emb
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("i"),
        floor(col("col").cast("double") * 1048576).cast("long").as("qv"))
      .localCheckpoint(true) // means + the centered pair join
    val nm = qv.groupBy("i")
      .agg(count(lit(1)).as("n"), sum(col("qv")).as("s"))
      .select(col("i"), col("n"), expr("s DIV n").as("m"))
    val cen = qv.join(broadcast(nm), "i")
      .select(col("vec_id"), col("i"), (col("qv") - col("m")).as("c"),
        col("n"))
    val upper = cen.as("a")
      .join(cen.as("b"), col("a.vec_id") === col("b.vec_id")
        && col("a.i") <= col("b.i"))
      .groupBy(col("a.i").as("i"), col("b.i").as("j"), col("a.n").as("n"))
      .agg(expr("sum(CAST(a.c AS DECIMAL(38,0)) * b.c)").as("sc"))
      .select(col("i"), col("j"), expr("CAST(sc DIV n AS BIGINT)").as("cv"))
      .localCheckpoint(true) // read by every unrolled matvec
    // Fresh aliases on BOTH union children: a self-union whose second
    // child projects the first's attributes trips Catalyst's
    // Union.rewriteConstraints (key-not-found on the shared exprIds).
    val cov = upper
      .select(col("i").as("i"), col("j").as("j"), col("cv").as("cv"))
      .union(upper.filter(col("i") < col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("cv").as("cv")))
    var v = nm.select(col("i").as("j"),
      when(col("i") === 0, lit(1048576L)).otherwise(lit(0L)).as("v"))
    for (_ <- 1 to iters) {
      val u = cov.join(broadcast(v), "j")
        .groupBy("i")
        .agg(expr("sum(CAST(cv AS DECIMAL(38,0)) * v)").as("u"))
      val mx = u.agg(max(abs(col("u"))).as("mx"))
      v = u.crossJoin(broadcast(mx))
        .select(col("i").as("j"), expr(
          "CASE WHEN mx > 0 THEN CAST(u * 1048576 DIV mx AS BIGINT) END")
          .as("v"))
    }
    val lam = cov.join(broadcast(v), "j")
      .groupBy("i")
      .agg(expr("sum(CAST(cv AS DECIMAL(38,0)) * v)").as("u"))
      .agg(max(abs(col("u"))).as("mxu"))
      .select(expr("CAST(mxu DIV 1048576 AS BIGINT)").as("lambda_q"))
    v.crossJoin(broadcast(lam))
      .select(col("j").cast("long").as("dim"), col("v").as("loading_q20"),
        col("lambda_q"))
      .orderBy("dim")
  }

  private val pcaCache = Memo.cache[String, DataFrame]

  /** The corpus top-PC relation (dim, loading_q20, lambda_q),
    * memoized per (session, dir) — the kmeansCached discipline: both
    * catalog consumers (sim_pca_power, sim_whiten_abtt) read this
    * 64-row relation, so a catalog run pays the covariance pass once. */
  private[graft] def pcaCached(s: SparkSession, dir: String): DataFrame =
    memo(pcaCache, s, dir) {
      simPcaPowerOn(Tables.embeddings(s, dir)).localCheckpoint(true)
    }

  def simPcaPower(s: SparkSession, dir: String): DataFrame =
    pcaCached(s, dir)

  /** L3s: all-but-the-top whitening readout (Mu & Viswanath, ICLR
    * 2018): sentence/doc embedding corpora concentrate a large share
    * of every vector's energy in a few corpus-wide dominant
    * directions that carry frequency artifacts, not meaning; removing
    * the top component(s) improves similarity tasks almost for free.
    * This op scores the removal: per vector, the projection onto the
    * corpus top PC ([[simPcaPowerOn]]'s iterate) and the fraction of
    * centered energy that SURVIVES removing that component —
    * kept_ppm = 10⁶·(‖c‖²·‖u‖² − ⟨c,u⟩²) / (‖c‖²·‖u‖²), the
    * Cauchy-Schwarz-bounded [0,10⁶] readout (a vector lying ON the
    * dominant direction keeps 0). Exact integer end to end: c is the
    * centered q20 coordinate vector, u the q20 loading vector; both
    * quadratic forms stay ≤ ~10²⁸ inside DECIMAL(38,0) and the single
    * DIV is the documented quantization boundary (⟨c,u⟩ // 2²⁰ for
    * the projection readout — signed truncating division, identical
    * in both engines). Zero-energy vectors NULL-gate; a degenerate
    * corpus (NULL loadings) propagates NULL, never fabricates.
    *
    * Shape: one corpus pass for coords + means (dim-keyed rollup),
    * then a per-vector rollup against the BROADCAST 64-row loading
    * relation — map-side-combinable, nothing quadratic; the PCA
    * subtree is shared (memoized) with sim_pca_power. */
  def simWhitenAbttOn(emb: DataFrame, pc: DataFrame): DataFrame = {
    val qv = emb
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("i"),
        floor(col("col").cast("double") * 1048576).cast("long").as("qv"))
    val nm = qv.groupBy("i")
      .agg(count(lit(1)).as("n"), sum(col("qv")).as("s"))
      .select(col("i"), expr("s DIV n").as("m"))
    val cen = qv.join(broadcast(nm), "i")
      .select(col("vec_id"), col("i"), (col("qv") - col("m")).as("c"))
    val u2 = pc.agg(
      expr("sum(CAST(loading_q20 AS DECIMAL(38,0)) * loading_q20)").as("u2"))
    cen.join(broadcast(pc.select(col("dim").as("i"),
        col("loading_q20").as("u"))), "i")
      .groupBy("vec_id")
      .agg(expr("sum(CAST(c AS DECIMAL(38,0)) * u)").as("dot"),
        expr("sum(CAST(c AS DECIMAL(38,0)) * c)").as("c2"))
      .crossJoin(broadcast(u2))
      .select(col("vec_id"),
        expr("CAST(dot DIV 1048576 AS BIGINT)").as("proj_q20"),
        expr("CAST(c2 AS BIGINT)").as("norm2_q40"),
        expr("""CAST(CASE WHEN c2 > 0 THEN
               |  (c2 * u2 - dot * dot) * 1000000 DIV (c2 * u2)
               |END AS BIGINT)""".stripMargin).as("kept_ppm"))
      .orderBy("vec_id")
  }

  def simWhitenAbtt(s: SparkSession, dir: String): DataFrame =
    simWhitenAbttOn(Tables.embeddings(s, dir), pcaCached(s, dir))

  /** Expected coreset size for [[sampleCoresetOn]]. */
  val CoresetM = 64L

  /** L10y: lightweight k-means coreset (Bachem, Lucic & Krause, KDD
    * 2018): a weighted subsample that provably preserves the k-means
    * cost of ANY candidate clustering, drawn with mixture
    * probabilities q(x) = ½·1/n + ½·d²(x,μ)/Σd² (μ = the corpus MEAN
    * — one cheap pass, no clustering needed) and importance weights
    * w = 1/(m·q). The uniform half guards dense regions, the
    * distance half guards outliers — the tool that shrinks a
    * 10⁹-vector embedding corpus to a laptop-sized weighted set
    * before any expensive curation clustering.
    *
    * Derandomized draw, exact to the bit: coords quantize at q20, the
    * mean floors once per dim (BIGINT DIV), d² is an exact BIGINT,
    * and "keep x iff hash(x)/10⁶ < m·q(x)" is cross-multiplied into
    * the integer predicate h·2·n·Σd² < m·10⁶·(Σd² + n·d²(x)) in
    * DECIMAL(38,0) (exact to ~10²⁵ vectors); weights take one DIV at
    * the milli boundary. A zero-variance corpus (Σd² = 0, q
    * degenerates) falls back to the uniform half: keep iff
    * h < m·10⁶ DIV n with weight n·1000 DIV m.
    *
    * Shape: one posexplode pass → dim-keyed mean rollup (64 rows,
    * broadcast back) → per-vector d² rollup (map-side combinable) →
    * broadcast scalar totals → a map-only filter. Nothing quadratic,
    * no window, no sort but the output's. */
  def sampleCoresetOn(emb: DataFrame, m: Long = CoresetM): DataFrame = {
    require(m >= 1, s"need m >= 1, got $m")
    val qv = emb
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("i"),
        floor(col("col").cast("double") * 1048576).cast("long").as("qv"))
    val nm = qv.groupBy("i")
      .agg(count(lit(1)).as("n"), sum(col("qv")).as("s"))
      .select(col("i"), expr("s DIV n").as("mu"))
    val d2 = qv.join(broadcast(nm), "i")
      .select(col("vec_id"),
        ((col("qv") - col("mu")) * (col("qv") - col("mu"))).as("t"))
      .groupBy("vec_id").agg(sum(col("t")).as("d2"))
      .localCheckpoint(true) // totals + the draw read it
    val tot = d2.agg(count(lit(1)).as("n"),
      sum(col("d2").cast("decimal(38,0)")).as("sd2"))
    d2.crossJoin(broadcast(tot))
      .withColumn("h",
        expr(s"(vec_id * 2654435761 + 12345) % ${Text.P} % 1000000"))
      .filter(expr(
        s"""CASE WHEN sd2 > 0 THEN
           |  CAST(h AS DECIMAL(38,0)) * 2 * n * sd2
           |    < CAST($m AS DECIMAL(38,0)) * 1000000 * (sd2 + n * d2)
           |ELSE h < $m * 1000000 DIV n END""".stripMargin))
      .select(col("vec_id"), col("d2"),
        expr(
          s"""CAST(CASE WHEN sd2 > 0 THEN
             |  CAST(2 AS DECIMAL(38,0)) * n * sd2 * 1000
             |    DIV (CAST($m AS DECIMAL(38,0)) * (sd2 + n * d2))
             |ELSE n * 1000 DIV $m END AS BIGINT)""".stripMargin)
          .as("w_milli"))
      .orderBy("vec_id")
  }

  def sampleCoreset(s: SparkSession, dir: String): DataFrame =
    sampleCoresetOn(Tables.embeddings(s, dir))

  /** Truncation tiers for [[simMatryoshkaEvalOn]]. */
  val MrlDims = Seq(8, 16, 32, 64)

  /** L3t: Matryoshka truncation-recall evaluation (Kusupati et al.,
    * NeurIPS 2022 "Matryoshka Representation Learning"; the OpenAI
    * `dimensions` parameter's cost/recall trade): how much retrieval
    * quality survives keeping only the FIRST d′ embedding dimensions
    * — the eval a pipeline runs before shrinking its vector index
    * 8×. For each tier d′ ∈ {8,16,32,64}: top-k by the truncated dot
    * product vs the full-dimension top-k, recall_pct per tier (the
    * sim_ann_recall_matrix discipline: the eval IS the operator;
    * tier 64 is the self-recall-100 sanity row).
    *
    * Exact integers end to end: q20 coords, all four tier dots from
    * ONE (qid, nid) rollup via conditional sums (≤ 2⁴⁸ — BIGINT
    * headroom), (dot desc, nid asc) rank ties. Shape: the 5 standard
    * probes broadcast against one corpus pass (5·n candidate rows,
    * map-side), one rollup, then k-row windows per tier — at 100 TB
    * this is the brute-force EVAL path over a sampled probe set, not
    * the serving path (that is the ANN family). */
  def simMatryoshkaEvalOn(emb: DataFrame, k: Int = 5): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val qv = emb
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("i"),
        floor(col("col").cast("double") * 1048576).cast("long").as("q"))
    val probes = qv.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("i"), col("q").as("pq"))
    val aggs = MrlDims.map(d =>
      sum(when(col("i") < d, col("q") * col("pq")).otherwise(lit(0L)))
        .as(s"dot$d"))
    val dots = qv.join(broadcast(probes), "i")
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id").as("nid"))
      .agg(aggs.head, aggs.tail: _*)
      .localCheckpoint(true) // ranked once per tier
    def top(dcol: String) = {
      val w = Window.partitionBy("qid")
        .orderBy(col(dcol).desc, col("nid").asc)
      dots.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k).select("qid", "nid")
    }
    val truth = top(s"dot${MrlDims.last}").localCheckpoint(true)
    val ne = truth.agg(count(lit(1)).as("n_exact"))
    MrlDims.map { d =>
      truth.join(top(s"dot$d"), Seq("qid", "nid"))
        .agg(count(lit(1)).as("n_hit"))
        .crossJoin(broadcast(ne))
        .select(lit(d.toLong).as("dims"), col("n_exact"), col("n_hit"),
          expr("n_hit * 100 DIV n_exact").as("recall_pct"))
    }.reduce(_ unionByName _).orderBy("dims")
  }

  def simMatryoshkaEval(s: SparkSession, dir: String): DataFrame =
    simMatryoshkaEvalOn(Tables.embeddings(s, dir))

  /** Catalog form: even vs odd vec_id halves of the embedding corpus
    * (the stand-in for "last snapshot vs this snapshot"). */
  def simEmbeddingDrift(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    simEmbeddingDriftOn(
      emb.filter(col("vec_id") % 2 === 0),
      emb.filter(col("vec_id") % 2 === 1))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_embedding_drift" -> simEmbeddingDrift,
    "sim_pca_power" -> simPcaPower,
    "sim_whiten_abtt" -> simWhitenAbtt,
    "sample_coreset" -> sampleCoreset,
    "sim_matryoshka_eval" -> simMatryoshkaEval,
    "sim_ann_sq" -> simAnnSq,
    "sample_kcenter" -> sampleKcenter,
    "sim_hard_negatives" -> simHardNegatives,
    "sim_random_projection" -> simRandomProjection,
    "sim_maxsim" -> simMaxsim,
    "sim_ann_pq" -> simAnnPq,
    "sim_pq_distortion" -> simPqDistortion,
    "sim_ann_ivfpq" -> simAnnIvfPq,
    "sim_ann_ivf_trained" -> simAnnIvfTrained,
    "sim_sparse_cosine" -> simSparseCosine,
    "sim_topk" -> simTopk,
    "sim_range_search" -> simRangeSearch,
    "sim_knn_join" -> simKnnJoin,
    "align_bitext" -> alignBitext,
    "sim_ann_lsh" -> simAnnLsh,
    "sim_ann_recall_eval" -> simAnnRecallEval,
    "sim_ann_recall_matrix" -> simAnnRecallMatrix,
    "sim_ann_graph" -> simAnnGraph,
    "sim_ann_ivf" -> simAnnIvf,
    "sim_ann_ivf_multiprobe" -> simAnnIvfMultiprobe,
    "sim_rerank_mmr" -> simRerankMmr,
    "cluster_kmeans" -> clusterKmeans,
    "cluster_purity_eval" -> clusterPurityEval,
    "sample_cluster_balanced" -> sampleClusterBalanced,
  )

  /** DuckDB mirror of [[simKnnJoinOn]] as a reusable CTE chain ending
    * in `knn(qid, nid, cos, rnk)` — shared by the sim_knn_join oracle
    * and the graph oracles that build on the k-NN graph
    * ([[Clusters]] graph_triangles). */
  val knnCoreSql: String =
    s"""e AS (SELECT vec_id, embedding,
       |    sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings),
       |p AS (SELECT l.vec_id AS qid, r.vec_id AS nid,
       |    round(${sqlDot("l.embedding", "r.embedding")} / (l.nrm * r.nrm), 4) AS cos
       |  FROM e l JOIN e r ON l.vec_id <> r.vec_id),
       |rk AS (SELECT qid, nid, cos,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY cos DESC, nid ASC) AS INT) AS rnk
       |  FROM p),
       |knn AS (SELECT qid, nid, cos, rnk FROM rk WHERE rnk <= 3)""".stripMargin

  /** One unrolled k-means assignment step (DuckDB mirror of
    * [[kmeansOn]]'s assign). */
  private def kmAssign(name: String, cent: String): String =
    s"""$name AS (SELECT vec_id, cell, d2 FROM (
       |    SELECT qv.vec_id, $cent.cell,
       |      CAST(SUM((qv.qv - $cent.cv) * (qv.qv - $cent.cv)) AS BIGINT) AS d2
       |    FROM qv JOIN $cent ON qv.i = $cent.i
       |    GROUP BY qv.vec_id, $cent.cell)
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY d2 ASC, cell ASC) = 1)""".stripMargin

  /** One unrolled k-means centroid update (mirror of update). */
  private def kmUpdate(name: String, asg: String): String =
    s"""$name AS (SELECT $asg.cell, qv.i,
       |    CAST(FLOOR(CAST(SUM(qv.qv) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
       |  FROM qv JOIN $asg ON qv.vec_id = $asg.vec_id
       |  GROUP BY $asg.cell, qv.i)""".stripMargin

  /** DuckDB mirror of the full [[kmeansOn]] run (k = 8, iters = 2) as
    * a reusable CTE chain ending in `a2(vec_id, cell, d2)` — shared by
    * the cluster_kmeans / sample_cluster_balanced oracles and the
    * [[Clusters]] dedup_semantic_clustered oracle that builds on the
    * trained cells. */
  val kmeansCoreSql: String =
    s"""qv AS (SELECT vec_id, i.i,
       |    CAST(FLOOR(CAST(embedding[i.i + 1] AS DOUBLE) * 1048576) AS BIGINT) AS qv
       |  FROM embeddings, range(0, 64) i(i)),
       |sid AS (SELECT vec_id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cell
       |  FROM (SELECT DISTINCT vec_id FROM embeddings
       |        ORDER BY vec_id LIMIT 8)),
       |c0 AS (SELECT s.cell, q.i, q.qv AS cv
       |       FROM qv q JOIN sid s USING (vec_id)),
       |${kmAssign("a0", "c0")},
       |${kmUpdate("c1", "a0")},
       |${kmAssign("a1", "c1")},
       |${kmUpdate("c2", "a1")},
       |${kmAssign("a2", "c2")}""".stripMargin

  /** One unrolled per-subspace assignment (PQ mirror of [[kmAssign]]:
    * nearest codebook cell per (vec_id, sub)). */
  private def pqAssign(name: String, cent: String): String =
    s"""$name AS (SELECT vec_id, sub, cell FROM (
       |    SELECT qv.vec_id, qv.sub, $cent.cell,
       |      CAST(SUM((qv.qv - $cent.cv) * (qv.qv - $cent.cv)) AS BIGINT) AS d2
       |    FROM qv JOIN $cent ON qv.sub = $cent.sub AND qv.i = $cent.i
       |    GROUP BY qv.vec_id, qv.sub, $cent.cell)
       |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub
       |    ORDER BY d2 ASC, cell ASC) = 1)""".stripMargin

  /** DuckDB mirror of [[pqAnnOn]]'s training + encode: subspaced grid,
    * seed codebooks, one Lloyd update, final codes in `a1`. */
  private val pqCoreSql: String =
    s"""qv AS (SELECT vec_id, CAST(i.i // 16 AS INT) AS sub, i.i AS i,
       |    CAST(FLOOR(CAST(embedding[i.i + 1] AS DOUBLE) * 1048576) AS BIGINT) AS qv
       |  FROM embeddings, range(0, 64) i(i)),
       |sid AS (SELECT vec_id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cell
       |  FROM (SELECT DISTINCT vec_id FROM embeddings
       |        ORDER BY vec_id LIMIT 8)),
       |c0 AS (SELECT q.sub, s.cell, q.i, q.qv AS cv
       |       FROM qv q JOIN sid s USING (vec_id)),
       |${pqAssign("a0", "c0")},
       |c1 AS (SELECT a0.sub, a0.cell, qv.i,
       |    CAST(FLOOR(CAST(SUM(qv.qv) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
       |  FROM qv JOIN a0 ON qv.vec_id = a0.vec_id AND qv.sub = a0.sub
       |  GROUP BY a0.sub, a0.cell, qv.i),
       |${pqAssign("a1", "c1")}""".stripMargin

  private val bucketSql = bucketSqlFor(TABLES, PLANES)

  private val ivfSql =
    s"""qv AS (SELECT vec_id, i.i,
       |    CAST(FLOOR(CAST(embedding[i.i + 1] AS DOUBLE) * 1048576) AS BIGINT) AS qv
       |  FROM embeddings, range(0, 64) i(i)),
       |cent AS (SELECT vec_id AS cid, i, qv AS cv FROM qv WHERE vec_id < $CELLS),
       |d2 AS (SELECT qv.vec_id, cent.cid, SUM((qv.qv - cent.cv) * (qv.qv - cent.cv)) AS d2
       |  FROM qv JOIN cent ON qv.i = cent.i GROUP BY 1, 2),
       |cellrank AS (SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
       |  FROM d2),
       |cells AS (SELECT vec_id, cid AS cell FROM cellrank WHERE rn = 1)""".stripMargin

  /** DuckDB mirror of [[rpProject]]: same sign rule, same ascending
    * left fold per output dim. */
  private val rpProjectSql: String =
    s"""list_transform(range(0, $RpDim), j ->
       |  list_reduce(list_concat([CAST(0 AS DOUBLE)],
       |    list_transform(range(1, len(embedding) + 1),
       |      d -> CAST(embedding[d] AS DOUBLE) * ${rpSignSql("d", "j")})),
       |    (x, y) -> x + y))""".stripMargin

  private val kcenterChainSql: String = {
    val base =
      s"""e AS (SELECT vec_id, embedding FROM embeddings),
         |c1 AS (SELECT vec_id, embedding, CAST(0.0 AS DOUBLE) AS md
         |  FROM e ORDER BY vec_id ASC LIMIT 1),
         |m1 AS (SELECT e.vec_id, e.embedding,
         |    round(${sqlD2("e.embedding", "c1.embedding")}, 4) AS md
         |  FROM e, c1)""".stripMargin
    val rounds = (2 to KcenterK).map { r =>
      val p = r - 1
      s"""c$r AS (SELECT vec_id, embedding, md FROM m$p
         |  ORDER BY md DESC, vec_id ASC LIMIT 1),
         |m$r AS (SELECT m$p.vec_id, m$p.embedding,
         |    LEAST(m$p.md,
         |      round(${sqlD2(s"m$p.embedding", s"c$r.embedding")}, 4)) AS md
         |  FROM m$p, c$r)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$rounds"
  }

  /** Shared DuckDB replay of [[simPcaPowerOn]] (q20 coords,
    * truncating integer means, HUGEINT covariance sums, three
    * unrolled max-norm power rounds), ending in `cen` (centered
    * coords), `v3` (the converged iterate) and `lam` — the CTE prefix
    * both sim_pca_power and sim_whiten_abtt oracles build on. */
  private val pcaCoreSql: String =
    """qv AS (SELECT vec_id, i.i AS i,
      |    CAST(FLOOR(CAST(embedding[i.i + 1] AS DOUBLE) * 1048576)
      |      AS BIGINT) AS qv
      |  FROM embeddings, range(0, 64) i(i)),
      |nm AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(qv) // COUNT(*) AS BIGINT) AS m
      |  FROM qv GROUP BY i),
      |cen AS MATERIALIZED (SELECT qv.vec_id, qv.i, qv.qv - nm.m AS c, nm.n
      |  FROM qv JOIN nm USING (i)),
      |up AS (SELECT a.i AS i, b.i AS j, a.n AS n,
      |    SUM(CAST(a.c AS HUGEINT) * b.c) AS sc
      |  FROM cen a JOIN cen b
      |    ON a.vec_id = b.vec_id AND a.i <= b.i
      |  GROUP BY 1, 2, 3),
      |cu AS (SELECT i, j, CAST(sc // n AS BIGINT) AS cv FROM up),
      |cov AS MATERIALIZED (SELECT * FROM cu
      |  UNION ALL SELECT j AS i, i AS j, cv FROM cu WHERE i < j),
      |v0 AS (SELECT i AS j, CASE WHEN i = 0 THEN CAST(1048576 AS BIGINT)
      |    ELSE CAST(0 AS BIGINT) END AS v FROM nm),
      |u1 AS (SELECT cov.i, SUM(CAST(cv AS HUGEINT) * v) AS u
      |  FROM cov JOIN v0 ON cov.j = v0.j GROUP BY 1),
      |m1 AS (SELECT MAX(ABS(u)) AS mx FROM u1),
      |v1 AS (SELECT i AS j, CASE WHEN mx > 0
      |    THEN CAST(u * 1048576 // mx AS BIGINT) END AS v FROM u1, m1),
      |u2 AS (SELECT cov.i, SUM(CAST(cv AS HUGEINT) * v) AS u
      |  FROM cov JOIN v1 ON cov.j = v1.j GROUP BY 1),
      |m2 AS (SELECT MAX(ABS(u)) AS mx FROM u2),
      |v2 AS (SELECT i AS j, CASE WHEN mx > 0
      |    THEN CAST(u * 1048576 // mx AS BIGINT) END AS v FROM u2, m2),
      |u3 AS (SELECT cov.i, SUM(CAST(cv AS HUGEINT) * v) AS u
      |  FROM cov JOIN v2 ON cov.j = v2.j GROUP BY 1),
      |m3 AS (SELECT MAX(ABS(u)) AS mx FROM u3),
      |v3 AS MATERIALIZED (SELECT i AS j, CASE WHEN mx > 0
      |    THEN CAST(u * 1048576 // mx AS BIGINT) END AS v FROM u3, m3),
      |u4 AS (SELECT cov.i, SUM(CAST(cv AS HUGEINT) * v) AS u
      |  FROM cov JOIN v3 ON cov.j = v3.j GROUP BY 1),
      |lam AS (SELECT CAST(MAX(ABS(u)) // 1048576 AS BIGINT) AS lambda_q
      |  FROM u4)""".stripMargin

  private val oraclesBase: Map[String, String] = Map(
    "sim_pca_power" ->
      s"""WITH $pcaCoreSql
         |SELECT v3.j AS dim, v3.v AS loading_q20, lambda_q
         |FROM v3, lam ORDER BY dim""".stripMargin,
    // Mirrors simMatryoshkaEvalOn: one conditional-sum rollup yields
    // all four tier dots; (dot desc, nid) QUALIFY top-k per tier.
    "sim_matryoshka_eval" -> {
      val dotCols = MrlDims.map(d =>
        s"    SUM(CASE WHEN qv.i < $d THEN qv.q * pr.pq ELSE 0 END) AS dot$d")
        .mkString(",\n")
      val tiers = MrlDims.map(d =>
        s"""h$d AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
           |  FROM t64 JOIN (SELECT qid, nid FROM dt
           |    QUALIFY row_number() OVER (PARTITION BY qid
           |      ORDER BY dot$d DESC, nid ASC) <= 5) s
           |  USING (qid, nid))""".stripMargin).mkString(",\n")
      val rows = MrlDims.map(d =>
        s"""SELECT CAST($d AS BIGINT) AS dims, n_exact, n_hit,
           |    CAST(n_hit * 100 // n_exact AS BIGINT) AS recall_pct
           |  FROM h$d, ne""".stripMargin).mkString("\n  UNION ALL ")
      s"""WITH qv AS (SELECT vec_id, i.i AS i,
         |    CAST(FLOOR(CAST(embedding[i.i + 1] AS DOUBLE) * 1048576)
         |      AS BIGINT) AS q
         |  FROM embeddings, range(0, 64) i(i)),
         |pr AS (SELECT vec_id AS qid, i, q AS pq FROM qv
         |  WHERE vec_id < 5),
         |dt AS (SELECT pr.qid, qv.vec_id AS nid,
         |$dotCols
         |  FROM qv JOIN pr ON qv.i = pr.i
         |  WHERE qv.vec_id <> pr.qid GROUP BY 1, 2),
         |t64 AS (SELECT qid, nid FROM dt
         |  QUALIFY row_number() OVER (PARTITION BY qid
         |    ORDER BY dot64 DESC, nid ASC) <= 5),
         |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM t64),
         |$tiers
         |SELECT * FROM (
         |  $rows) ORDER BY dims""".stripMargin
    },
    // Mirrors sampleCoresetOn: q20 coords, floored means, exact d2,
    // cross-multiplied keep predicate, milli weights; the zero-
    // variance branch replays the uniform fallback.
    "sample_coreset" ->
      s"""WITH qv AS (SELECT vec_id, i.i AS i,
         |    CAST(FLOOR(CAST(embedding[i.i + 1] AS DOUBLE) * 1048576)
         |      AS BIGINT) AS qv
         |  FROM embeddings, range(0, 64) i(i)),
         |nm AS (SELECT i, CAST(SUM(qv) // COUNT(*) AS BIGINT) AS mu
         |  FROM qv GROUP BY i),
         |dd AS (SELECT vec_id,
         |    CAST(SUM((qv - mu) * (qv - mu)) AS BIGINT) AS d2
         |  FROM qv JOIN nm USING (i) GROUP BY vec_id),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(d2) AS HUGEINT) AS sd2 FROM dd),
         |dr AS (SELECT vec_id, d2,
         |    (vec_id * 2654435761 + 12345) % ${Text.P} % 1000000 AS h,
         |    n, sd2 FROM dd, tot)
         |SELECT vec_id, d2,
         |  CAST(CASE WHEN sd2 > 0 THEN
         |    CAST(2 AS HUGEINT) * n * sd2 * 1000
         |      // (CAST(${CoresetM} AS HUGEINT) * (sd2 + n * d2))
         |  ELSE n * 1000 // ${CoresetM} END AS BIGINT) AS w_milli
         |FROM dr
         |WHERE CASE WHEN sd2 > 0 THEN
         |    CAST(h AS HUGEINT) * 2 * n * sd2
         |      < CAST(${CoresetM} AS HUGEINT) * 1000000 * (sd2 + n * d2)
         |  ELSE h < ${CoresetM} * 1000000 // n END
         |ORDER BY vec_id""".stripMargin,
    // Mirrors simWhitenAbttOn: per-vector dot/energy rollups against
    // the converged iterate, single truncating DIVs at the q20 and
    // ppm boundaries.
    "sim_whiten_abtt" ->
      s"""WITH $pcaCoreSql,
         |u2s AS (SELECT SUM(CAST(v AS HUGEINT) * v) AS u2 FROM v3),
         |pv AS (SELECT cen.vec_id,
         |    SUM(CAST(c AS HUGEINT) * v) AS dot,
         |    SUM(CAST(c AS HUGEINT) * c) AS c2
         |  FROM cen JOIN v3 ON cen.i = v3.j GROUP BY 1)
         |SELECT vec_id,
         |  CAST(dot // 1048576 AS BIGINT) AS proj_q20,
         |  CAST(c2 AS BIGINT) AS norm2_q40,
         |  CAST(CASE WHEN c2 > 0 THEN
         |    (c2 * u2 - dot * dot) * 1000000 // (c2 * u2)
         |  END AS BIGINT) AS kept_ppm
         |FROM pv, u2s ORDER BY vec_id""".stripMargin,
    // Mirrors simEmbeddingDriftOn: micro quantize before sum, FLOOR
    // double quotients, cosine through the round(,9) boundary.
    "sim_embedding_drift" ->
      """WITH xa AS (SELECT i.i AS dim,
        |    CAST(floor(CAST(embedding[i.i + 1] AS DOUBLE) * 1000000
        |      + 0.5) AS BIGINT) AS xm
        |  FROM embeddings, range(0, 64) i(i) WHERE vec_id % 2 = 0),
        |xb AS (SELECT i.i AS dim,
        |    CAST(floor(CAST(embedding[i.i + 1] AS DOUBLE) * 1000000
        |      + 0.5) AS BIGINT) AS xm
        |  FROM embeddings, range(0, 64) i(i) WHERE vec_id % 2 = 1),
        |ma AS (SELECT dim, CAST(FLOOR(CAST(SUM(xm) AS DOUBLE)
        |    / COUNT(*)) AS BIGINT) AS mean_a_micro
        |  FROM xa GROUP BY dim),
        |mb AS (SELECT dim, CAST(FLOOR(CAST(SUM(xm) AS DOUBLE)
        |    / COUNT(*)) AS BIGINT) AS mean_b_micro
        |  FROM xb GROUP BY dim),
        |j AS (SELECT dim, mean_a_micro, mean_b_micro,
        |    abs(mean_a_micro - mean_b_micro) AS shift_micro
        |  FROM ma JOIN mb USING (dim)),
        |t AS (SELECT CAST(SUM(shift_micro) AS BIGINT) AS l1_shift_micro,
        |    CAST(SUM(mean_a_micro * mean_b_micro) AS BIGINT) AS dot,
        |    CAST(SUM(mean_a_micro * mean_a_micro) AS BIGINT) AS na2,
        |    CAST(SUM(mean_b_micro * mean_b_micro) AS BIGINT) AS nb2
        |  FROM j),
        |s AS (SELECT l1_shift_micro,
        |    CASE WHEN na2 > 0 AND nb2 > 0 THEN
        |      CAST(floor(round(CAST(dot AS DOUBLE)
        |        / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))),
        |        9) * 1000000) AS BIGINT) END AS cos_ppm
        |  FROM t)
        |SELECT dim, mean_a_micro, mean_b_micro, shift_micro,
        |  l1_shift_micro, cos_ppm
        |FROM j CROSS JOIN s ORDER BY dim""".stripMargin,
    "sim_ann_sq" ->
      """WITH qv AS (SELECT vec_id, i.i,
        |    CAST(FLOOR(CAST(embedding[i.i + 1] AS DOUBLE) * 1048576)
        |      AS BIGINT) AS qv
        |  FROM embeddings, range(0, 64) i(i)),
        |mm AS (SELECT i, MIN(qv) AS mn, MAX(qv) AS mx FROM qv GROUP BY i),
        |rec AS (SELECT vec_id, qv.i,
        |    mn + (CASE WHEN mx > mn THEN (qv - mn) * 255 // (mx - mn)
        |          ELSE 0 END) * (mx - mn) // 255 AS recon
        |  FROM qv JOIN mm ON qv.i = mm.i),
        |q AS (SELECT vec_id AS qid, i, qv AS q FROM qv WHERE vec_id < 5),
        |d AS (SELECT q.qid, r.vec_id,
        |    CAST(SUM((q.q - r.recon) * (q.q - r.recon)) AS BIGINT) AS adist
        |  FROM rec r JOIN q ON r.i = q.i WHERE r.vec_id <> q.qid
        |  GROUP BY 1, 2),
        |rk AS (SELECT qid, vec_id, adist, ROW_NUMBER() OVER (
        |    PARTITION BY qid ORDER BY adist ASC, vec_id ASC) AS rnk FROM d)
        |SELECT qid, CAST(rnk AS INT) AS rnk, vec_id, adist
        |FROM rk WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,
    "sample_kcenter" -> {
      val picks = (1 to KcenterK).map(r =>
        s"""SELECT $r AS pick, vec_id,
           |  CAST(floor(md * 10000 + 0.5) AS BIGINT) AS radius_x10k
           |FROM c$r""".stripMargin).mkString("\nUNION ALL\n")
      s"WITH $kcenterChainSql\n$picks\nORDER BY pick"
    },
    "sim_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, label, embedding,
         |    sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings),
         |q AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qemb,
         |    nrm AS qnrm FROM e WHERE vec_id < 10),
         |p AS (SELECT qid, e.vec_id, e.label AS neg_label,
         |    round(${sqlDot("qemb", "e.embedding")} / (qnrm * e.nrm), 4) AS cos
         |  FROM e JOIN q ON e.label <> q.qlabel),
         |r AS (SELECT qid, vec_id, neg_label, cos,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY cos DESC, vec_id ASC) AS rnk FROM p)
         |SELECT qid, CAST(rnk AS INT) AS rank, vec_id, neg_label,
         |  CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS rel_x10k
         |FROM r WHERE rnk <= 10 ORDER BY qid, rank""".stripMargin,
    "sim_maxsim" ->
      s"""WITH e AS (SELECT label, vec_id, embedding,
         |    sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qemb, nrm AS qnrm
         |      FROM e WHERE label = 0),
         |c AS (SELECT e.label, q.qid,
         |    round(${sqlDot("qemb", "e.embedding")} / (qnrm * e.nrm), 4) AS cos
         |  FROM e CROSS JOIN q),
         |m AS (SELECT label, qid, MAX(cos) AS mx FROM c GROUP BY label, qid)
         |SELECT label, COUNT(*) AS n_qvecs,
         |  CAST(SUM(CAST(ROUND(mx * 10000, 0) AS BIGINT)) AS BIGINT) AS score_x10k
         |FROM m GROUP BY label ORDER BY label""".stripMargin,
    // Mirrors simPqDistortionOn: the d2-carrying assignment over the
    // replayed one-round codebook, rolled up per subquantizer.
    "sim_pq_distortion" ->
      s"""WITH $pqCoreSql,
         |ad AS (SELECT vec_id, sub, cell, d2 FROM (
         |    SELECT qv.vec_id, qv.sub, c1.cell,
         |      CAST(SUM((qv.qv - c1.cv) * (qv.qv - c1.cv)) AS BIGINT) AS d2
         |    FROM qv JOIN c1 ON qv.sub = c1.sub AND qv.i = c1.i
         |    GROUP BY 1, 2, 3)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub
         |    ORDER BY d2 ASC, cell ASC) = 1)
         |SELECT sub, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |  CAST(SUM(d2) // COUNT(*) AS BIGINT) AS mean_d2,
         |  CAST(MAX(d2) AS BIGINT) AS max_d2,
         |  CAST(COUNT(DISTINCT cell) AS BIGINT) AS n_codes_used
         |FROM ad GROUP BY sub ORDER BY sub""".stripMargin,
    "sim_ann_pq" ->
      s"""WITH $pqCoreSql,
         |q AS (SELECT vec_id AS qid, sub, i, qv FROM qv WHERE vec_id < 5),
         |dt AS (SELECT q.qid, c1.sub, c1.cell AS code,
         |    CAST(SUM((q.qv - c1.cv) * (q.qv - c1.cv)) AS BIGINT) AS pd2
         |  FROM q JOIN c1 ON q.sub = c1.sub AND q.i = c1.i
         |  GROUP BY q.qid, c1.sub, c1.cell),
         |ad AS (SELECT dt.qid, a1.vec_id, CAST(SUM(dt.pd2) AS BIGINT) AS ad2
         |  FROM a1 JOIN dt ON a1.sub = dt.sub AND a1.cell = dt.code
         |  WHERE a1.vec_id <> dt.qid GROUP BY dt.qid, a1.vec_id)
         |SELECT qid, vec_id, ad2,
         |  CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY ad2 ASC, vec_id ASC) AS INT) AS rnk
         |FROM ad QUALIFY rnk <= 5 ORDER BY qid, rnk""".stripMargin,
    // IVFPQ = the PQ chain + the static coarse quantizer (cells over
    // the full-dim grid derivable from the subspaced qv by dropping
    // `sub`), with the candidate scan restricted to the query's cell
    "sim_ann_ivfpq" ->
      s"""WITH $pqCoreSql,
         |cent AS (SELECT vec_id AS cid, i, qv AS cv FROM qv
         |  WHERE vec_id < $CELLS),
         |cd2 AS (SELECT qv.vec_id, cent.cid,
         |    SUM((qv.qv - cent.cv) * (qv.qv - cent.cv)) AS d2
         |  FROM qv JOIN cent ON qv.i = cent.i GROUP BY 1, 2),
         |cells AS (SELECT vec_id, cid AS cell FROM cd2
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |    ORDER BY d2 ASC, cid ASC) = 1),
         |q AS (SELECT vec_id AS qid, sub, i, qv FROM qv WHERE vec_id < 5),
         |dt AS (SELECT q.qid, c1.sub, c1.cell AS code,
         |    CAST(SUM((q.qv - c1.cv) * (q.qv - c1.cv)) AS BIGINT) AS pd2
         |  FROM q JOIN c1 ON q.sub = c1.sub AND q.i = c1.i
         |  GROUP BY q.qid, c1.sub, c1.cell),
         |ad AS (SELECT dt.qid, a1.vec_id, CAST(SUM(dt.pd2) AS BIGINT) AS ad2
         |  FROM a1 JOIN dt ON a1.sub = dt.sub AND a1.cell = dt.code
         |  JOIN cells cv ON cv.vec_id = a1.vec_id
         |  JOIN cells cq ON cq.vec_id = dt.qid
         |  WHERE a1.vec_id <> dt.qid AND cv.cell = cq.cell
         |  GROUP BY dt.qid, a1.vec_id)
         |SELECT qid, vec_id, ad2,
         |  CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY ad2 ASC, vec_id ASC) AS INT) AS rnk
         |FROM ad QUALIFY rnk <= 5 ORDER BY qid, rnk""".stripMargin,
    "sim_sparse_cosine" ->
      s"""${Dedup.shingleHashSql},
         |nrel AS (SELECT count(*) AS n_docs FROM documents),
         |dfr AS (SELECT hs, count(*) AS df FROM hs GROUP BY 1),
         |w AS (SELECT h.doc_id, h.hs,
         |    CAST(round(ln(CAST(n.n_docs AS DOUBLE) / d.df) * 1000, 0) AS BIGINT) AS w
         |  FROM hs h JOIN dfr d USING (hs) CROSS JOIN nrel n
         |  WHERE d.df >= 2 AND d.df * 20 <= n.n_docs),
         |norms AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS nrm FROM w GROUP BY 1),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(sum(a.w * b.w) AS BIGINT) AS dot
         |  FROM w a JOIN w b USING (hs) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT doc_a, doc_b, dot, na.nrm AS norm_a, nb.nrm AS norm_b
         |FROM pairs p JOIN norms na ON p.doc_a = na.doc_id
         |  JOIN norms nb ON p.doc_b = nb.doc_id
         |WHERE 4 * (CAST(dot AS HUGEINT) * dot) >= CAST(na.nrm AS HUGEINT) * nb.nrm
         |ORDER BY doc_a, doc_b""".stripMargin,
    "sim_ann_ivf_trained" ->
      s"""WITH $kmeansCoreSql,
         |e AS (SELECT e0.vec_id, e0.embedding,
         |    sqrt(${sqlDot("e0.embedding", "e0.embedding")}) AS nrm, a2.cell
         |  FROM embeddings e0 JOIN a2 ON e0.vec_id = a2.vec_id),
         |q AS (SELECT vec_id AS qid, embedding AS qemb, nrm AS qnrm,
         |    cell AS qcell FROM e WHERE vec_id < 5)
         |SELECT qid, e.vec_id, e.cell,
         |  round(${sqlDot("qemb", "e.embedding")} / (qnrm * e.nrm), 4) AS cos,
         |  CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY round(${sqlDot("qemb", "e.embedding")} / (qnrm * e.nrm), 4) DESC,
         |    e.vec_id ASC) AS INT) AS rnk
         |FROM e JOIN q ON e.cell = qcell AND e.vec_id <> qid
         |QUALIFY rnk <= 5
         |ORDER BY qid, rnk""".stripMargin,
    "cluster_kmeans" ->
      s"""WITH $kmeansCoreSql,
         |sz AS (SELECT cell, COUNT(*) AS n_members FROM a2 GROUP BY cell)
         |SELECT a2.vec_id, a2.cell, a2.d2, sz.n_members
         |FROM a2 JOIN sz ON a2.cell = sz.cell
         |ORDER BY vec_id""".stripMargin,
    // Mirrors clusterPurityEvalOn over the same trained assignment;
    // majority ties break to the smallest label.
    "cluster_purity_eval" ->
      s"""WITH $kmeansCoreSql,
         |cl AS (SELECT a2.cell, CAST(e.label AS BIGINT) AS label,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM a2 JOIN embeddings e USING (vec_id) GROUP BY 1, 2),
         |tot AS (SELECT cell, CAST(SUM(n) AS BIGINT) AS n_members
         |  FROM cl GROUP BY cell),
         |top AS (SELECT cell, label, n FROM cl
         |  QUALIFY row_number() OVER (PARTITION BY cell
         |    ORDER BY n DESC, label ASC) = 1)
         |SELECT t.cell, tot.n_members, t.label AS top_label,
         |  t.n AS n_top,
         |  CAST(t.n * 1000000 // tot.n_members AS BIGINT) AS purity_ppm
         |FROM top t JOIN tot USING (cell) ORDER BY t.cell""".stripMargin,
    "sample_cluster_balanced" ->
      s"""WITH $kmeansCoreSql
         |SELECT vec_id, cell, rk FROM (
         |  SELECT vec_id, cell,
         |    CAST(row_number() OVER (PARTITION BY cell
         |      ORDER BY (vec_id * 2654435761) % 1000000007 ASC, vec_id ASC)
         |      AS INT) AS rk
         |  FROM a2)
         |WHERE rk <= 25
         |ORDER BY vec_id""".stripMargin,
    "align_bitext" ->
      s"""WITH s AS (SELECT vec_id AS sid, embedding,
         |    sqrt(${sqlDot("embedding", "embedding")}) AS nrm
         |  FROM embeddings WHERE label = 0),
         |t AS (SELECT vec_id AS tid, embedding,
         |    sqrt(${sqlDot("embedding", "embedding")}) AS nrm
         |  FROM embeddings WHERE label = 1),
         |p AS (SELECT sid, tid,
         |    round(${sqlDot("s.embedding", "t.embedding")}
         |      / (s.nrm * t.nrm), 4) AS cos
         |  FROM s CROSS JOIN t),
         |rk AS (SELECT sid, tid, cos,
         |    ROW_NUMBER() OVER (PARTITION BY sid
         |      ORDER BY cos DESC, tid ASC) AS rnk FROM p)
         |SELECT r1.sid, r1.tid, r1.cos AS cos1, r2.cos AS cos2,
         |  CASE WHEN r2.cos > 0
         |       THEN round(r1.cos / r2.cos, 4) END AS margin
         |FROM rk r1 LEFT JOIN rk r2 ON r1.sid = r2.sid AND r2.rnk = 2
         |WHERE r1.rnk = 1
         |ORDER BY r1.sid""".stripMargin,
    "sim_knn_join" ->
      s"""WITH $knnCoreSql
         |SELECT qid, nid, cos, rnk FROM knn
         |ORDER BY qid, rnk""".stripMargin,
    "sim_ann_ivf" ->
      s"""WITH $ivfSql,
         |e AS (SELECT e0.vec_id, e0.embedding,
         |    sqrt(${sqlDot("e0.embedding", "e0.embedding")}) AS nrm, cells.cell
         |  FROM embeddings e0 JOIN cells ON e0.vec_id = cells.vec_id),
         |q AS (SELECT vec_id AS qid, embedding AS qemb, nrm AS qnrm,
         |    cell AS qcell FROM e WHERE vec_id < 5)
         |SELECT qid, e.vec_id, e.cell,
         |  round(${sqlDot("qemb", "e.embedding")} / (qnrm * e.nrm), 4) AS cos,
         |  CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY round(${sqlDot("qemb", "e.embedding")} / (qnrm * e.nrm), 4) DESC,
         |    e.vec_id ASC) AS INT) AS rnk
         |FROM e JOIN q ON e.cell = qcell AND e.vec_id <> qid
         |QUALIFY rnk <= 5
         |ORDER BY qid, rnk""".stripMargin,
    // MMR: the greedy rounds unroll as MATERIALIZED CTEs (each round
    // references its predecessor >1 time — the ORACLES.md inline-
    // explosion rule). Round r: redundancy = max sim to sel_{r-1},
    // pick argmax(7·rel − 3·red) among unpicked pool members.
    "sim_rerank_mmr" -> {
      def round(r: Int): String =
        s"""red$r AS MATERIALIZED (SELECT s.qid, s.va AS vec_id,
           |    MAX(s.sim) AS red
           |  FROM sims s JOIN sel${r - 1} ON s.qid = sel${r - 1}.qid
           |    AND s.vb = sel${r - 1}.vec_id
           |  GROUP BY s.qid, s.va),
           |pick$r AS MATERIALIZED (SELECT p.qid, p.vec_id, p.rel, $r AS rank
           |  FROM pool p JOIN red$r USING (qid, vec_id)
           |  LEFT JOIN sel${r - 1} sl ON p.qid = sl.qid AND p.vec_id = sl.vec_id
           |  WHERE sl.vec_id IS NULL
           |  QUALIFY row_number() OVER (PARTITION BY p.qid
           |    ORDER BY 7 * p.rel - 3 * red$r.red DESC, p.vec_id ASC) = 1),
           |sel$r AS MATERIALIZED (
           |  SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM pick$r)"""
          .stripMargin
      s"""WITH e AS (SELECT vec_id, embedding,
         |    sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qemb, nrm AS qnrm
         |      FROM e WHERE vec_id < 5),
         |pool AS MATERIALIZED (SELECT qid, vec_id,
         |    CAST(FLOOR(cosr * 10000 + 0.5) AS BIGINT) AS rel
         |  FROM (SELECT qid, vec_id,
         |      round(${sqlDot("qemb", "embedding")} / (qnrm * nrm), 4) AS cosr
         |    FROM e JOIN q ON vec_id <> qid)
         |  QUALIFY row_number() OVER (PARTITION BY qid
         |    ORDER BY cosr DESC, vec_id ASC) <= 20),
         |sims AS MATERIALIZED (SELECT a.qid, a.vec_id AS va, b.vec_id AS vb,
         |    CAST(FLOOR(round(${sqlDot("ea.embedding", "eb.embedding")}
         |      / (ea.nrm * eb.nrm), 4) * 10000 + 0.5) AS BIGINT) AS sim
         |  FROM pool a JOIN pool b ON a.qid = b.qid AND a.vec_id <> b.vec_id
         |  JOIN e ea ON a.vec_id = ea.vec_id
         |  JOIN e eb ON b.vec_id = eb.vec_id),
         |sel1 AS MATERIALIZED (SELECT qid, vec_id, rel, 1 AS rank FROM pool
         |  QUALIFY row_number() OVER (PARTITION BY qid
         |    ORDER BY rel DESC, vec_id ASC) = 1),
         |${(2 to 5).map(round).mkString(",\n")}
         |SELECT qid, CAST(rank AS INT) AS rank, vec_id, rel AS rel_x10k
         |FROM sel5 ORDER BY qid, rank""".stripMargin
    },
    "sim_ann_ivf_multiprobe" ->
      s"""WITH $ivfSql,
         |qprobe AS (SELECT vec_id AS qid, cid AS qcell FROM cellrank
         |  WHERE vec_id < 5 AND rn <= $NPROBE),
         |e AS (SELECT e0.vec_id, e0.embedding,
         |    sqrt(${sqlDot("e0.embedding", "e0.embedding")}) AS nrm, cells.cell
         |  FROM embeddings e0 JOIN cells ON e0.vec_id = cells.vec_id),
         |q AS (SELECT e.vec_id AS qid, e.embedding AS qemb, e.nrm AS qnrm,
         |    qprobe.qcell
         |  FROM e JOIN qprobe ON e.vec_id = qprobe.qid WHERE e.vec_id < 5)
         |SELECT qid, e.vec_id, e.cell,
         |  round(${sqlDot("qemb", "e.embedding")} / (qnrm * e.nrm), 4) AS cos,
         |  CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY round(${sqlDot("qemb", "e.embedding")} / (qnrm * e.nrm), 4) DESC,
         |    e.vec_id ASC) AS INT) AS rnk
         |FROM e JOIN q ON e.cell = q.qcell AND e.vec_id <> qid
         |QUALIFY rnk <= 5
         |ORDER BY qid, rnk""".stripMargin,
    "sim_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding,
         |    sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qemb, nrm AS qnrm
         |      FROM e WHERE vec_id < 5)
         |SELECT qid, vec_id,
         |  round(${sqlDot("qemb", "embedding")} / (qnrm * nrm), 4) AS cos,
         |  CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY round(${sqlDot("qemb", "embedding")} / (qnrm * nrm), 4) DESC,
         |    vec_id ASC) AS INT) AS rnk
         |FROM e JOIN q ON vec_id <> qid
         |QUALIFY rnk <= 5
         |ORDER BY qid, rnk""".stripMargin,
    "sim_range_search" ->
      s"""WITH e AS (SELECT vec_id, embedding,
         |    sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qemb, nrm AS qnrm
         |      FROM e WHERE vec_id < 5)
         |SELECT qid, vec_id,
         |  round(${sqlDot("qemb", "embedding")} / (qnrm * nrm), 4) AS cos
         |FROM e JOIN q ON vec_id <> qid
         |WHERE round(${sqlDot("qemb", "embedding")} / (qnrm * nrm), 4) >= 0.2
         |ORDER BY qid, vec_id""".stripMargin,
    "sim_ann_recall_eval" ->
      s"""WITH $bucketSql,
         |cand AS (SELECT DISTINCT qb.vec_id AS qid, bk.vec_id
         |  FROM bk JOIN (SELECT * FROM bk WHERE vec_id < 5) qb
         |    ON bk.t = qb.t AND bk.bucket = qb.bucket
         |  WHERE bk.vec_id <> qb.vec_id),
         |e AS (SELECT e0.vec_id, e0.embedding,
         |    sqrt(${sqlDot("e0.embedding", "e0.embedding")}) AS nrm
         |  FROM embeddings e0),
         |q AS (SELECT vec_id AS qid, embedding AS qemb, nrm AS qnrm
         |  FROM e WHERE vec_id < 5),
         |ann AS (SELECT qid, vec_id FROM (
         |  SELECT cand.qid, cand.vec_id,
         |    CAST(row_number() OVER (PARTITION BY cand.qid
         |      ORDER BY round(${sqlDot("qemb", "e.embedding")} / (qnrm * e.nrm), 4) DESC,
         |      cand.vec_id ASC) AS INT) AS rnk
         |  FROM cand JOIN e ON cand.vec_id = e.vec_id
         |  JOIN q ON cand.qid = q.qid)
         |  WHERE rnk <= 5),
         |exact AS (SELECT qid, vec_id FROM (
         |  SELECT q.qid, e.vec_id,
         |    CAST(row_number() OVER (PARTITION BY q.qid
         |      ORDER BY round(${sqlDot("qemb", "e.embedding")} / (qnrm * e.nrm), 4) DESC,
         |      e.vec_id ASC) AS INT) AS rnk
         |  FROM e JOIN q ON e.vec_id <> q.qid)
         |  WHERE rnk <= 5),
         |hits AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_hit
         |  FROM exact JOIN ann USING (qid, vec_id) GROUP BY qid),
         |ex AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_exact
         |  FROM exact GROUP BY qid)
         |SELECT ex.qid, ex.n_exact,
         |  CAST(COALESCE(hits.n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(COALESCE(hits.n_hit, 0) * 100 // ex.n_exact AS BIGINT)
         |    AS recall_pct
         |FROM ex LEFT JOIN hits USING (qid)
         |ORDER BY ex.qid""".stripMargin,
    "sim_ann_lsh" ->
      s"""WITH $bucketSql,
         |cand AS (SELECT DISTINCT qb.vec_id AS qid, bk.vec_id
         |  FROM bk JOIN (SELECT * FROM bk WHERE vec_id < 5) qb
         |    ON bk.t = qb.t AND bk.bucket = qb.bucket
         |  WHERE bk.vec_id <> qb.vec_id),
         |e AS (SELECT e0.vec_id, e0.embedding,
         |    sqrt(${sqlDot("e0.embedding", "e0.embedding")}) AS nrm
         |  FROM embeddings e0),
         |q AS (SELECT vec_id AS qid, embedding AS qemb, nrm AS qnrm
         |  FROM e WHERE vec_id < 5)
         |SELECT cand.qid, cand.vec_id,
         |  round(${sqlDot("qemb", "e.embedding")} / (qnrm * e.nrm), 4) AS cos,
         |  CAST(row_number() OVER (PARTITION BY cand.qid
         |    ORDER BY round(${sqlDot("qemb", "e.embedding")} / (qnrm * e.nrm), 4) DESC,
         |    cand.vec_id ASC) AS INT) AS rnk
         |FROM cand JOIN e ON cand.vec_id = e.vec_id
         |JOIN q ON cand.qid = q.qid
         |QUALIFY rnk <= 5
         |ORDER BY cand.qid, rnk""".stripMargin,
  )

  /** One unrolled [[simAnnGraphOn]] beam round (DuckDB mirror):
    * expand b{i-1} through the symmetric knn graph, score via the
    * all-pairs cosine relation `p` from [[knnCoreSql]], keep the
    * beam. UNION (distinct) is the dedupe — scores are deterministic
    * so duplicates are identical rows. */
  private def annGraphRoundSql(i: Int): String = {
    val prev = if (i == 1) "b0" else s"b${i - 1}"
    s"""c$i AS (SELECT DISTINCT b.qid, y.dst AS nid
       |  FROM $prev b JOIN sym y ON y.src = b.nid WHERE y.dst <> b.qid),
       |u$i AS (SELECT qid, nid, cos FROM $prev UNION
       |  SELECT c.qid, c.nid, p.cos FROM c$i c
       |    JOIN p ON p.qid = c.qid AND p.nid = c.nid),
       |b$i AS (SELECT qid, nid, cos FROM (SELECT qid, nid, cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY cos DESC, nid ASC) AS rnk FROM u$i)
       |  WHERE rnk <= $GraphAnnBeam)""".stripMargin
  }

  private lazy val annGraphOracleSql: String = {
    val rounds = (1 to GraphAnnRounds).map(annGraphRoundSql).mkString(",\n")
    val last = s"b$GraphAnnRounds"
    s"""WITH $knnCoreSql,
       |knn_g AS (SELECT qid, nid FROM rk WHERE rnk <= $GraphAnnDegree),
       |sym AS (SELECT DISTINCT src, dst FROM (
       |  SELECT qid AS src, nid AS dst FROM knn_g
       |  UNION ALL SELECT nid AS src, qid AS dst FROM knn_g)),
       |qq AS (SELECT vec_id AS qid FROM e WHERE vec_id < 5),
       |sd AS (SELECT vec_id AS nid FROM e ORDER BY vec_id
       |  LIMIT $GraphAnnSeeds),
       |b0 AS (SELECT qid, nid, cos FROM (
       |  SELECT qq.qid, sd.nid, p.cos,
       |    ROW_NUMBER() OVER (PARTITION BY qq.qid
       |      ORDER BY p.cos DESC, sd.nid ASC) AS rnk
       |  FROM qq JOIN sd ON sd.nid <> qq.qid
       |  JOIN p ON p.qid = qq.qid AND p.nid = sd.nid)
       |  WHERE rnk <= $GraphAnnBeam),
       |$rounds
       |SELECT qid, CAST(rnk AS BIGINT) AS rnk, nid, cos FROM (
       |  SELECT qid, nid, cos, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY cos DESC, nid ASC) AS rnk FROM $last)
       |WHERE rnk <= $GraphAnnK ORDER BY qid, rnk""".stripMargin
  }

  /** The recall matrix's oracle embeds each method oracle as a
    * derived table, so the dashboard can never drift from the
    * methods it measures. */
  val oracles: Map[String, String] = oraclesBase +
    ("sim_ann_graph" -> annGraphOracleSql) +
    ("sim_random_projection" ->
      s"""WITH pe AS (SELECT vec_id, $rpProjectSql AS p FROM embeddings),
         |pn AS (SELECT vec_id, p, sqrt(${sqlDot("p", "p")}) AS nrm FROM pe),
         |pq AS (SELECT vec_id AS qid, p AS qp, nrm AS qnrm
         |  FROM pn WHERE vec_id < 5),
         |pp AS (SELECT qid, pn.vec_id,
         |    round(${sqlDot("qp", "pn.p")} / (qnrm * pn.nrm), 4) AS cos
         |  FROM pn JOIN pq ON pn.vec_id <> pq.qid),
         |pr AS (SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, vec_id ASC) AS rnk FROM pp),
         |ap AS (SELECT qid, vec_id FROM pr WHERE rnk <= 5),
         |ex AS (SELECT qid, vec_id FROM (${oraclesBase("sim_topk")})),
         |h AS (SELECT qid, COUNT(*) AS n_hit FROM ex
         |  JOIN ap USING (qid, vec_id) GROUP BY qid),
         |ne AS (SELECT qid, COUNT(*) AS n_exact FROM ex GROUP BY qid)
         |SELECT ne.qid, n_exact, COALESCE(n_hit, 0) AS n_hit,
         |  CAST(COALESCE(n_hit, 0) * 100 // n_exact AS BIGINT) AS recall_pct
         |FROM ne LEFT JOIN h ON ne.qid = h.qid ORDER BY ne.qid""".stripMargin) +
    ("sim_ann_recall_matrix" -> {
      def hitSql(m: String) =
        s"""(SELECT COUNT(*) AS n_hit FROM ex
           |  JOIN (${oraclesBase(s"sim_ann_$m")}) m USING (qid, vec_id))"""
          .stripMargin
      s"""WITH ex AS (SELECT qid, vec_id FROM (${oraclesBase("sim_topk")})),
         |ne AS (SELECT COUNT(*) AS n_exact FROM ex),
         |hivf AS ${hitSql("ivf")},
         |hivfmp AS ${hitSql("ivf_multiprobe")},
         |hivfpq AS ${hitSql("ivfpq")},
         |hlsh AS ${hitSql("lsh")},
         |hpq AS ${hitSql("pq")},
         |hgraph AS (SELECT COUNT(*) AS n_hit FROM ex
         |  JOIN (SELECT qid, nid AS vec_id FROM ($annGraphOracleSql)) m
         |  USING (qid, vec_id))
         |SELECT method, n_exact, n_hit,
         |  CAST(n_hit * 100 // n_exact AS BIGINT) AS recall_pct
         |FROM (
         |  SELECT 'graph' AS method, n_exact, n_hit FROM hgraph, ne
         |  UNION ALL SELECT 'ivf', n_exact, n_hit FROM hivf, ne
         |  UNION ALL SELECT 'ivf_mp', n_exact, n_hit FROM hivfmp, ne
         |  UNION ALL SELECT 'ivfpq', n_exact, n_hit FROM hivfpq, ne
         |  UNION ALL SELECT 'lsh', n_exact, n_hit FROM hlsh, ne
         |  UNION ALL SELECT 'pq', n_exact, n_hit FROM hpq, ne)
         |ORDER BY method""".stripMargin
    })
}
