package graft.functions

import graft.{Memo, Tables}
import graft.Memo.memo
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication for training-data pipelines — SURVEY.md §2.11 L1/L2.
  *
  * Scale design (the 100 TB path, tested here at corpus scale):
  *  - exact dedup: one hash-groupBy — map-side partial agg, shuffle
  *    carries (hash, min_id, count) only.
  *  - MinHash: shingle → k min-hashes → band → bucket-join. The only
  *    shuffles are the per-doc signature groupBy and the band-bucket
  *    self-join; candidate verification touches candidate pairs, never
  *    the full cross product.
  *  - SimHash: per-doc 32-bit signature, then pairs within Hamming
  *    distance (banded by signature prefix at scale; direct self-join
  *    at corpus scale).
  *  - n-gram Jaccard: exact ground truth via shingle equi-join — the
  *    recall yardstick for the approximate paths.
  *  - embedding near-dup: cosine threshold pairs (brute-force here;
  *    the LSH-bucketed scale path is Similarity.simAnnLsh).
  *
  * Hashing is the polynomial-mod fold from Text.polyHash: every
  * intermediate is a BIGINT, so DuckDB reproduces signatures exactly
  * (Spark's murmur3 `hash()` is not portable to the oracle).
  */
object Dedup {

  import Text.P

  val K = 8 // minhash signature length
  val BANDS = 4 // LSH bands (r = 2 rows per band)

  /** Distinct 3-word shingles over an already-tokenized array column
    * (empty for <3 tokens). Native codegen expression
    * ([[graft.plans.Shingles]]): the column formulation's
    * transform/concat_ws lambdas evaluate interpreted, and tokenizing
    * once into an array column first matters either way — an
    * element_at over split(text) re-splits the whole text per element,
    * measured O(tokens^2) per doc at bench time. */
  def shinglesOf(toksCol: String): Column =
    graft.plans.GraftFunctions.shingles(col(toksCol), 3)

  /** Shingles straight from a text column (spec convenience). */
  def shingles(textCol: String): Column =
    graft.plans.GraftFunctions.shingles(split(col(textCol), " "), 3)

  /** (doc_id, shingle_hash) long form — the base relation for both
    * minhash signatures and exact Jaccard verification. Persisted:
    * each dedup query references it 3-4 times (signatures, sizes, both
    * join sides), and Spark's cache manager matches the identical plan
    * across dedup_minhash/dedup_ngram in the same session, so the
    * shingle+hash scan runs once per corpus instead of ~7 times
    * (measured 2.2x on the dedup tail at sf0.1). ~10s of MB at corpus
    * scale; at 100 TB this staging relation would be written to
    * parquet between stages instead. */
  private val shCache = Memo.cache[String, DataFrame]

  /** Library form: (doc_id, hs) shingle-hash relation of any corpus
    * with (doc_id, text) columns. Persist (or checkpoint to parquet at
    * 100 TB) before feeding it to the pair ops — they reference it
    * several times. */
  def shingleHashesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(shinglesOf("toks")).as("sh"))
      .select(col("doc_id"), Text.polyHash(col("sh")).as("hs"))

  private def shingleHashes(s: SparkSession, dir: String): DataFrame =
    // memoized per (session, dir): dedup_minhash and dedup_ngram both
    // call this, and repeated catalog runs in one long-lived session
    // must not accumulate fresh MEMORY_AND_DISK entries per invocation
    memo(shCache, s, dir) {
      shingleHashesOf(Tables.documents(s, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** DuckDB mirror of [[dedupSubstringOn]]'s span find as a reusable
    * CTE chain ending in `sp(doc_id, span_start, span_end, n_windows)`
    * (with the token arrays still visible as `tk(doc_id, t)`) — shared
    * by the dedup_substring oracle and the dedup_substring_apply
    * rewrite oracle. */
  private[functions] val substringSpanSql =
    """WITH tk AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
      |g AS (SELECT doc_id, i - 1 AS pos,
      |        list_reduce(list_concat([CAST(0 AS BIGINT)],
      |          list_transform(string_split(array_to_string(t[i:i+7], ' '),''),
      |            c -> CAST(unicode(c) AS BIGINT))),
      |          (a, b) -> (a * 31 + b) % 1000000007) AS gh
      |      FROM tk, UNNEST(range(1, len(t) - 6)) AS r(i)),
      |dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2),
      |h AS (SELECT doc_id, pos FROM g JOIN dup USING (gh)),
      |m AS (SELECT doc_id, pos,
      |        CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
      |          OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
      |        THEN 1 ELSE 0 END AS ns FROM h),
      |s AS (SELECT doc_id, pos,
      |        CAST(SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS span_id
      |      FROM m),
      |sp AS (SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 8 AS span_end,
      |         CAST(COUNT(*) AS BIGINT) AS n_windows
      |       FROM s GROUP BY doc_id, span_id)""".stripMargin

  private[functions] val shingleHashSql =
    """WITH tk AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
      |       FROM tk, UNNEST(range(1, greatest(len(toks) - 1, 1))) AS r(i)),
      |hs AS (SELECT doc_id, list_reduce(
      |         list_concat([CAST(0 AS BIGINT)],
      |           list_transform(string_split(sh,''), c -> CAST(unicode(c) AS BIGINT))),
      |         (a, b) -> (a * 31 + b) % 1000000007) AS hs
      |       FROM sh)""".stripMargin

  /** L1: exact dedup by content hash — keeper = min doc id per sha256
    * of the text (dropDuplicates is nondeterministic about which row
    * survives; min-per-group is the reproducible form). */
  def dedupExactOn(docs: DataFrame): DataFrame =
    docs
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min(col("doc_id")).as("keeper_doc_id"),
        count(lit(1)).as("n_copies"))
      .orderBy("keeper_doc_id")

  def dedupExact(s: SparkSession, dir: String): DataFrame =
    dedupExactOn(Tables.documents(s, dir))

  /** L1e: token-sort dedup (the rapidfuzz token_sort_ratio == 100
    * blocking rule): documents whose token MULTISETS coincide are one
    * document — catches shuffled boilerplate, reordered CSV-ish
    * fields, and template paraphrase that exact hashing misses, while
    * staying a pure equi-join (no pairwise fuzz). Canonical key = the
    * space-joined sorted token array (array_sort is a total order on
    * strings in both engines); same group/keeper output shape as
    * [[dedupExactOn]], one map-side-combined hash-groupBy at any
    * scale. Subsumes exact dedup: equal texts sort equal. */
  def dedupTokenSortOn(docs: DataFrame): DataFrame =
    docs
      .groupBy(array_join(array_sort(Text.toks(col("text"))), " ")
        .as("sorted_key"))
      .agg(min(col("doc_id")).as("keeper_doc_id"),
        count(lit(1)).as("n_copies"))
      .select("keeper_doc_id", "n_copies")
      .orderBy("keeper_doc_id")

  def dedupTokenSort(s: SparkSession, dir: String): DataFrame =
    dedupTokenSortOn(Tables.documents(s, dir))

  /** L1b: URL-canonicalization dedup — the cheapest dedup pass a
    * crawl-derived corpus runs, BEFORE any content hashing: the same
    * page fetched as http/https, with/without `www.`, with a trailing
    * slash, or with tracking params is one document. Canonical form =
    * strip scheme, strip `www.`, drop `utm_*` params, collapse the
    * trailing slash; keeper = min doc_id per canonical URL. Map-only
    * string normalization (anchored regex + literal replace, all
    * codegen'd built-ins) feeding one hash agg — the same shape as
    * [[dedupExactOn]], so it shards identically at 100 TB.
    *
    * The testdata has no URL column (same situation as
    * [[graft.operators.Analytics.fnUrl]]), so the raw URLs are
    * constructed deterministically from catalog columns with the
    * noise injected by doc_id residues: scheme flips on %3, `www.` on
    * %2, trailing slash on %7, a utm param on %5 — canonicalization
    * must erase all four axes, and the group key (source, lang,
    * doc_id%25) plants real duplicate classes for the gate to count.
    */
  /** Canonical form of a crawl URL: scheme and `www.` stripped,
    * `utm_source` tracking param dropped, trailing slash collapsed.
    * Idempotent (PropertySpec-pinned) — safe to re-apply on already
    * canonical input, the property incremental crawl merges rely on. */
  def canonicalUrl(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    replace(
      replace(
        regexp_replace(
          regexp_replace(url, "^https?://", ""),
          "^www\\.", ""),
        lit("utm_source=feed&"), lit("")),
      lit("/?"), lit("?"))

  def dedupUrlOn(urls: DataFrame): DataFrame =
    urls
      .withColumn("curl", canonicalUrl(col("url")))
      .groupBy("curl")
      .agg(min(col("doc_id")).as("keeper_doc_id"),
        count(lit(1)).as("n_copies"))
      .orderBy("curl")

  /** The deterministic synthetic crawl-URL relation (doc_id, url) —
    * shared by dedup_url and the staged-funnel's URL rung. */
  private[functions] def syntheticUrlsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(
        when(col("doc_id") % 3 === 0, "http://").otherwise("https://"),
        when(col("doc_id") % 2 === 0, "www.").otherwise(""),
        col("source"), lit(".example.com/"), col("lang"), lit("/item-"),
        pmod(col("doc_id"), lit(25)),
        when(col("doc_id") % 7 === 0, "/").otherwise(""),
        lit("?"),
        when(col("doc_id") % 5 === 0, "utm_source=feed&").otherwise(""),
        lit("ref=item"), pmod(col("doc_id"), lit(25))).as("url"))

  def dedupUrl(s: SparkSession, dir: String): DataFrame =
    dedupUrlOn(syntheticUrlsOf(Tables.documents(s, dir)))

  /** L2: MinHash + LSH banding, then exact-Jaccard verification of the
    * banded candidates (jac >= threshold), over a (doc_id, hs)
    * shingle-hash relation (see [[shingleHashesOf]]). */
  /** Step chains shared verbatim by [[dedupLshPlanner]] and its
    * oracle (the ONE-string convention): exponentiation strictly by
    * SQUARING over prior step columns and roots strictly by sqrt
    * composition — every step is a single correctly-rounded IEEE op,
    * so both engines produce bit-identical doubles and the final ppm
    * floor cannot straddle a ulp (pow()'s 1-ulp libm drift would). */
  private val LshJrSql =
    "CASE r WHEN 2 THEN j2 WHEN 4 THEN j4 WHEN 8 THEN j8 END"
  private val LshQbSql =
    "CASE b WHEN 4 THEN q4 WHEN 8 THEN q8 WHEN 16 THEN q16 " +
      "WHEN 32 THEN q32 END"
  private val LshThrSql =
    "CASE r WHEN 2 THEN sqrt(1.0 / b) WHEN 4 THEN sqrt(sqrt(1.0 / b)) " +
      "WHEN 8 THEN sqrt(sqrt(sqrt(1.0 / b))) END"

  /** L2p: MinHash-LSH parameter PLANNER — the S-curve table (Leskovec
    * et al., MMDS ch.3) every banding deployment is designed from:
    * for each (rows-per-band r, bands b) configuration and Jaccard
    * level J, the candidate-collision probability
    * 1 − (1 − J^r)^b in ppm, plus the configuration's S-curve
    * threshold (1/b)^(1/r) — the J where collision probability jumps
    * (the dedup sibling of [[graft.operators.Events]]'
    * event_mde_curve: design the index BEFORE paying for it; the
    * shipped [[K]]=8/[[BANDS]]=4 operating point is the r=2, b=4
    * row). No corpus input — a pure closed-form planning relation —
    * and no libm pow: see [[LshJrSql]].
    *
    * Scale: a 72-row literal relation; the value at 100 TB is what it
    * tells you to configure, not what it computes. */
  def dedupLshPlanner(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grid = (for {
      r <- Seq(2L, 4L, 8L); b <- Seq(4L, 8L, 16L, 32L)
      jp <- Seq(50L, 60L, 70L, 80L, 90L, 95L)
    } yield (r, b, jp)).toDF("r", "b", "j_pct")
    grid
      .withColumn("j", col("j_pct") / 100.0)
      .withColumn("j2", expr("j * j"))
      .withColumn("j4", expr("j2 * j2"))
      .withColumn("j8", expr("j4 * j4"))
      .withColumn("q", expr(s"1.0 - ($LshJrSql)"))
      .withColumn("q2", expr("q * q"))
      .withColumn("q4", expr("q2 * q2"))
      .withColumn("q8", expr("q4 * q4"))
      .withColumn("q16", expr("q8 * q8"))
      .withColumn("q32", expr("q16 * q16"))
      .select(col("r"), col("b"), col("j_pct"),
        expr(s"CAST(floor((1.0 - ($LshQbSql)) * 1000000 + 0.5) AS BIGINT)")
          .as("p_collide_ppm"),
        expr(s"CAST(floor(($LshThrSql) * 1000000 + 0.5) AS BIGINT)")
          .as("s_threshold_ppm"))
      .orderBy("r", "b", "j_pct")
  }

  def dedupMinhashOn(hs: DataFrame, threshold: Double = 0.8): DataFrame =
    minhashVerified(hs, threshold, identity)

  /** Shared minhash pipeline; `candFilter` prunes the banded candidate
    * pair set BEFORE the exact-Jaccard verification join — the hook
    * [[dedupIncrementalOn]] uses to skip verification work for pairs
    * entirely inside the already-deduped corpus. */
  /** Shared signature + band + candidate chain: the (doc_id,
    * n_shingles, m0..m{K-1}) signature relation and the distinct
    * banded candidate pairs. Every minhash rung (verify, incremental
    * prune, signature-only estimate) starts here. */
  private def minhashSigCands(hs: DataFrame,
      candFilter: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    // k min-hashes per doc in ONE pass via the custom
    // TypedImperativeAggregate (k-slot buffer), not K separate min()s;
    // same affine family, so the oracle SQL (K MIN columns) still
    // reproduces every slot. Equivalence pinned in CustomAggSpec.
    val sig = hs.groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        graft.plans.MinHashAgg.minhash(col("hs"), K).as("sig"))
      .select(col("doc_id") +: col("n_shingles") +:
        (0 until K).map(i => element_at(col("sig"), i + 1).as(s"m$i")): _*)
      // Round 12 (optimization): every rung references this relation
      // 2-4x (banding self-join l/r; estimate/bbit additionally join
      // it back per pair side), and the MinHashAgg
      // TypedImperativeAggregate is corpus-sized POST-exchange work
      // that AQE exchange reuse does not deduplicate (plan-verified:
      // the ObjectHashAggregate chain appeared up to 4x). One slim
      // (doc_id, n_shingles, m0..m{K-1}) checkpoint.
      .localCheckpoint(true)
    // band hashes: pairs of adjacent signature rows.
    val banded = sig.select(
      col("doc_id") +: (0 until BANDS).map(b =>
        ((col(s"m${2 * b}") * 131 + col(s"m${2 * b + 1}")) % P).as(s"b$b")): _*)
    val bandLong = banded.select(col("doc_id"),
      explode(array((0 until BANDS).map(b =>
        struct(lit(b).as("band"), col(s"b$b").as("bh"))): _*)).as("x"))
      .select(col("doc_id"), col("x.band"), col("x.bh"))
    // candidate pairs: docs sharing any band bucket.
    val cand = candFilter(bandLong.as("l")
      .join(bandLong.as("r"),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("da"), col("r.doc_id").as("db")))
      .distinct()
    (sig, cand)
  }

  private def minhashVerified(hs: DataFrame, threshold: Double,
      candFilter: DataFrame => DataFrame): DataFrame =
    jaccardVerify(minhashSigCands(hs, candFilter)._2, hs, threshold)

  /** Exact-Jaccard verification of a (da, db) candidate pair relation
    * against the (doc_id, hs) shingle sets — the shared verify rung
    * of every lexical candidate generator (minhash bands, sorted
    * neighborhood): intersection via the hs-keyed equi-join, sizes
    * joined back, jac >= threshold kept. */
  private def jaccardVerify(cand: DataFrame, hs: DataFrame,
      threshold: Double): DataFrame =
    overlapVerify(cand, hs, threshold,
      (inter, na, nb) => inter.cast("double") / (na + nb - inter), "jac")

  /** Overlap scoring of candidate pairs against the shingle sets with
    * a pluggable denominator — Jaccard and containment share the
    * whole pipeline except the final ratio. */
  private def overlapVerify(cand: DataFrame, hs: DataFrame,
      threshold: Double,
      score: (Column, Column, Column) => Column,
      scoreName: String): DataFrame = {
    val sizes = hs.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(hs.as("a"), col("da") === col("a.doc_id"))
      .join(hs.as("b"),
        col("db") === col("b.doc_id") && col("a.hs") === col("b.hs"))
      .groupBy("da", "db").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), col("da") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("db") === col("sb.doc_id"))
      .select(col("da"), col("db"),
        score(col("inter"), col("sa.n"), col("sb.n")).as(scoreName))
      .filter(col(scoreName) >= threshold)
      .orderBy("da", "db")
  }

  /** L2c: containment verification of the banded candidates — the
    * one-sided overlap |A ∩ B| / min(|A|, |B|), the measure that
    * catches subset/superset near-dups (doc B = doc A plus appended
    * boilerplate) whose symmetric Jaccard dilutes below any sane
    * threshold as the size gap grows. Same bands, same intersection
    * join, same sizes — ONLY the denominator changes (shared
    * [[overlapVerify]] rung), so the scale story is exactly the
    * minhash path's. containment >= jaccard always, so this relation
    * is a superset of [[dedupMinhashOn]]'s at equal threshold — the
    * delta IS the asymmetric-dup family. Candidate recall caveat:
    * banding is tuned for Jaccard (band collision prob = jac^r), so
    * extreme-size-ratio pairs may not band-collide; the full fix is
    * the prefix-filter path over the smaller set's tokens
    * ([[dedupPrefixFilterOn]]). */
  def dedupContainmentOn(hs: DataFrame, threshold: Double = 0.8): DataFrame =
    overlapVerify(minhashSigCands(hs, identity)._2, hs, threshold,
      (inter, na, nb) => inter.cast("double") / least(na, nb),
      "containment")

  def dedupContainment(s: SparkSession, dir: String): DataFrame =
    dedupContainmentOn(shingleHashes(s, dir))

  /** L2 blocking alternative: sorted-neighborhood candidate
    * generation (Hernandez & Stolfo 1995) — sort the corpus by a
    * similarity-preserving key, slide a w-row window, verify only
    * in-window pairs. The sort key is the FIRST minhash slot
    * (min affine-hashed shingle): two docs agree on it with
    * probability = their Jaccard, so near-dups land adjacent in the
    * sort order for free, reusing machinery the minhash path already
    * pins. Scale shape: ranks come from [[graft.operators.Windows
    * .denseIdsOn]] (range partition + per-partition numbering — NO
    * single-partition window), and the window join is an EQUI-join
    * on rank = rank + k for k in 1..w-1, so candidates are exactly
    * (w-1)*n pairs — linear by construction, the property that makes
    * SNM the bounded-candidate fallback when band collisions skew
    * (a hot LSH bucket generates quadratic candidates; a sort window
    * never exceeds w-1 per row). Trade-off vs LSH: a cluster larger
    * than w under-pairs (the classic SNM multi-pass caveat), which
    * the downstream connected-components rung absorbs for dedup
    * purposes (A~B and B~C merge {A,B,C} without the A~C pair). */
  def dedupSortedNeighborhoodOn(hs: DataFrame, window: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    require(window >= 2, s"need window >= 2, got $window")
    val skey = hs.groupBy("doc_id")
      .agg(min((col("hs") * 3 + 31) % P).as("skey"))
    val ranked = graft.operators.Windows.denseIdsOn(
      skey, Seq("skey", "doc_id"))
    // probe each row against the k rows after it: (w-1) shifted
    // copies equi-joined on rank — pairs are distinct by
    // construction (ranks are unique), no dedup step needed
    val probes = ranked.select(col("doc_id").as("pa"),
      explode(array((1 until window).map(k =>
        col("dense_id") + k): _*)).as("rid"))
    val cand = probes
      .join(ranked.select(col("doc_id").as("pb"),
        col("dense_id").as("rid")), "rid")
      .select(least(col("pa"), col("pb")).as("da"),
        greatest(col("pa"), col("pb")).as("db"))
    jaccardVerify(cand, hs, threshold)
  }

  def dedupSortedNeighborhood(s: SparkSession, dir: String): DataFrame =
    dedupSortedNeighborhoodOn(shingleHashes(s, dir))

  def dedupMinhash(s: SparkSession, dir: String): DataFrame =
    dedupMinhashOn(shingleHashes(s, dir))

  private val mhPairCache = Memo.cache[String, DataFrame]

  /** The MinHash-verified near-dup pair relation of the catalog
    * corpus, memoized per (session, dir) — the shingle-cache
    * discipline one rung up: FIVE catalog consumers read these exact
    * pairs (dedup_minhash, dedup_stage_funnel, dedup_method_eval,
    * dedup_clusters_altstar, and the minhash-CC memo behind
    * dedup_clusters/dedup_apply/corpus_soft_dedup/
    * corpus_pipeline_full), so a catalog run pays the
    * band -> bucket -> Jaccard-verify chain once. Pair sets are a
    * small fraction of the corpus (near-dup edges), so the eager
    * checkpoint is bounded; at 100 TB this is the staging relation
    * a production funnel writes to parquet between rungs anyway. */
  private[graft] def dedupMinhashCached(s: SparkSession, dir: String): DataFrame =
    memo(mhPairCache, s, dir) { dedupMinhash(s, dir).localCheckpoint(true) }

  /** L2g: candidate-generation agreement matrix — do the cheap and
    * expensive dedup paths find the same pairs? For each pair of
    * methods (minhash-LSH banding, exact df-capped n-gram join,
    * sorted-neighborhood blocking) — all verified at the SAME Jaccard
    * threshold, so any disagreement is pure candidate-generation
    * coverage — emit |A|, |B|, |A ∩ B|. The curation dashboard query
    * behind every "can we drop the exact pass yet?" decision; run on
    * a sample at 100 TB (the three pair relations it compares are
    * already the bounded outputs of their own scale-safe plans, and
    * the memoized shingle relation is scanned once for all three).
    * Intersections are equi-joins on the (da, db) pair key; the three
    * count rows are 1-row aggregates crossed broadcast-style. */
  def dedupMethodEval(s: SparkSession, dir: String): DataFrame = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // the three candidate generators are INDEPENDENT plans over the
    // one memoized shingle relation (synchronized memo => built once);
    // materialize each pair set concurrently (the
    // cluster_linkage_ladder lesson), then the three 1-row agreement
    // lines concurrently against the checkpointed pair sets.
    val built = Seq(
      "minhash" -> (() => dedupMinhashCached(s, dir).select("da", "db")),
      "ngram" -> (() => dedupNgram(s, dir).select("da", "db")),
      "snm" -> (() => dedupSortedNeighborhood(s, dir).select("da", "db")))
      .map { case (n, mk) =>
        n -> Future(mk().localCheckpoint(true))
      }.map { case (n, f) => n -> Await.result(f, Duration.Inf) }.toMap
    def row(an: String, bn: String): Future[DataFrame] = Future {
      val (a, b) = (built(an), built(bn))
      a.agg(count(lit(1)).as("n_a"))
        .crossJoin(b.agg(count(lit(1)).as("n_b")))
        .crossJoin(a.join(b, Seq("da", "db")).agg(count(lit(1)).as("n_both")))
        .select(lit(an).as("method_a"), lit(bn).as("method_b"),
          col("n_a"), col("n_b"), col("n_both"))
        .localCheckpoint(true)
    }
    Seq(row("minhash", "ngram"), row("minhash", "snm"), row("ngram", "snm"))
      .map(Await.result(_, Duration.Inf))
      .reduce(_ unionByName _)
      .orderBy("method_a", "method_b")
  }

  /** L2e: signature-only Jaccard ESTIMATE for the banded candidates —
    * matching-slot fraction of the K minhashes, next to the exact
    * verified Jaccard for the same pair. At 100 TB this is the rung
    * that decides whether the verify join runs at all: the estimate
    * touches only the K-slot signatures (already materialized for
    * banding — no second corpus scan, no shingle-set join), so a
    * pipeline that tolerates the K^-1/2 estimator error skips the
    * most expensive join in the chain. Keeping both columns in one
    * output makes the estimator's error measurable in-catalog
    * (the [[Similarity.simAnnRecallEval]] pattern). Integer ppm both
    * sides — no float ratios cross the gate. */
  def dedupMinhashEstimateOn(hs: DataFrame): DataFrame = {
    val (sig, cand) = minhashSigCands(hs, identity)
    val sigArr = sig.select(col("doc_id"),
      array((0 until K).map(i => col(s"m$i")): _*).as("sg"),
      col("n_shingles"))
    val est = cand
      .join(sigArr.select(col("doc_id").as("da"), col("sg").as("sga"),
        col("n_shingles").as("na")), "da")
      .join(sigArr.select(col("doc_id").as("db"), col("sg").as("sgb"),
        col("n_shingles").as("nb")), "db")
      .select(col("da"), col("db"), col("na"), col("nb"),
        size(filter(zip_with(col("sga"), col("sgb"), (x, y) => x === y),
          b => b)).cast("long").as("slot_matches"))
    val inter = cand.join(hs.as("a"), col("da") === col("a.doc_id"))
      .join(hs.as("b"),
        col("db") === col("b.doc_id") && col("a.hs") === col("b.hs"))
      .groupBy("da", "db").agg(count(lit(1)).as("inter"))
    est.join(inter, Seq("da", "db"), "left_outer")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .select(col("da"), col("db"), col("slot_matches"),
        expr(s"CAST(slot_matches * 1000000 div $K AS BIGINT)").as("est_ppm"),
        expr("CAST(inter * 1000000 div (na + nb - inter) AS BIGINT)")
          .as("jac_ppm"))
      .orderBy("da", "db")
  }

  def dedupMinhashEstimate(s: SparkSession, dir: String): DataFrame =
    dedupMinhashEstimateOn(shingleHashes(s, dir))

  /** L2e': b-BIT minhash estimate (Li & König 2010, "b-Bit Minwise
    * Hashing") — store only the lowest `b` bits of each minhash slot
    * and correct the match rate for accidental collisions:
    * E[match] = C + (1 - C)·J with C = 2^-b, so
    * J_hat = (M - C) / (1 - C). At b=2 the signature shrinks 16x
    * (2 bits vs a 32-bit slot) for a ~sqrt((1+C)/(1-C)) variance
    * price — the storage rung BELOW [[dedupMinhashEstimateOn]] on the
    * 100 TB ladder, where the signature store itself (not the corpus)
    * is what no longer fits. Both estimators are emitted side by side
    * on the SAME banded candidates, so the compression's accuracy
    * cost is measurable in-catalog (the recall-eval pattern).
    * Arithmetic is all integer ppm; the bbit estimator clamps its
    * numerator at zero BEFORE the division (M < C happens on true
    * non-dups) — keeping the integer division non-negative, which is
    * the portability rule ORACLES.md records (Spark div truncates
    * toward zero, DuckDB // floors; they only agree >= 0). */
  def dedupMinhashBbitOn(hs: DataFrame, b: Int = 2): DataFrame = {
    require(b >= 1 && b <= 16, s"b=$b out of range")
    val base = 1 << b
    val (sig, cand) = minhashSigCands(hs, identity)
    val sigArr = sig.select(col("doc_id"),
      array((0 until K).map(i => col(s"m$i")): _*).as("sg"),
      array((0 until K).map(i => pmod(col(s"m$i"), lit(base))): _*).as("bb"))
    cand
      .join(sigArr.select(col("doc_id").as("da"), col("sg").as("sga"),
        col("bb").as("bba")), "da")
      .join(sigArr.select(col("doc_id").as("db"), col("sg").as("sgb"),
        col("bb").as("bbb")), "db")
      .select(col("da"), col("db"),
        size(filter(zip_with(col("sga"), col("sgb"), (x, y) => x === y),
          m => m)).cast("long").as("slot_matches"),
        size(filter(zip_with(col("bba"), col("bbb"), (x, y) => x === y),
          m => m)).cast("long").as("bbit_matches"))
      .select(col("da"), col("db"), col("slot_matches"), col("bbit_matches"),
        expr(s"CAST(slot_matches * 1000000 div $K AS BIGINT)").as("est_ppm"),
        expr(s"CAST(greatest(bbit_matches * $base - $K, 0) * 1000000" +
          s" div (${K * (base - 1)}) AS BIGINT)").as("est_bbit_ppm"))
      .orderBy("da", "db")
  }

  def dedupMinhashBbit(s: SparkSession, dir: String): DataFrame =
    dedupMinhashBbitOn(shingleHashes(s, dir))

  /** L2 (incremental): dedup an incoming batch against the union of
    * the existing corpus and the batch itself — the ingestion-time
    * form of [[dedupMinhashOn]]. `isNew` marks batch membership by
    * doc id. Candidate pairs are pruned to those touching at least one
    * new doc BEFORE the exact-Jaccard verification join, so
    * verification cost scales with the batch's candidates, never the
    * full corpus pair set: at 100 TB the existing side's signatures
    * and band buckets are read from the signature store of previous
    * runs (here recomputed — the band join is the same either way),
    * and old x old pairs are never generated past the band bucket.
    * Output tags each surviving pair new_new / new_old. */
  def dedupIncrementalOn(hs: DataFrame, isNew: Column => Column,
      threshold: Double = 0.8): DataFrame =
    minhashVerified(hs, threshold,
      cand => cand.filter(isNew(col("da")) || isNew(col("db"))))
      .withColumn("span",
        when(isNew(col("da")) && isNew(col("db")), "new_new")
          .otherwise("new_old"))
      .orderBy("da", "db")

  /** Catalog form: every 5th doc id plays the incoming batch. */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame =
    dedupIncrementalOn(shingleHashes(s, dir), c => c % 5 === 0)

  /** L2 (SimHash): 32-bit signature from count-weighted token hashes;
    * near-dup pairs at Hamming distance 0 (32-bit
    * simhash over a ~30-word shared vocabulary is collision-prone, so
    * any nonzero threshold floods with false positives; the planted
    * near-dup pairs all land at distance 0). */
  private val tokCache = Memo.cache[String, DataFrame]

  /** Library form: (doc_id, tok, cnt, h) token-count+hash relation of
    * any (doc_id, text) corpus. */
  def tokenCountsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      .withColumn("h", Text.polyHash(col("tok")))

  /** Shared by both simhash variants — memoized+persisted like
    * [[shingleHashes]]. */
  private def tokenCounts(s: SparkSession, dir: String): DataFrame =
    memo(tokCache, s, dir) {
      tokenCountsOf(Tables.documents(s, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  def dedupSimhashOn(tokCnt: DataFrame): DataFrame = {
    val sumCols = (0 until 32).map(j =>
      sum(when(expr(s"(h >> $j) & 1") === 1, col("cnt"))
        .otherwise(-col("cnt"))).as(s"s$j"))
    val sums = tokCnt.groupBy("doc_id").agg(sumCols.head, sumCols.tail: _*)
    // Round 12 (optimization): checkpoint the slim (doc_id, simhash)
    // signature — the lazy self-join below re-derived the whole
    // token-explode + 32-sum aggregation on BOTH sides.
    val sig = sums.select(col("doc_id"),
      (0 until 32).map(j =>
        when(col(s"s$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
      .localCheckpoint(true)
    // Hamming 0 == signature equality, so the pair search is a hash
    // EQUI-join on simhash (shuffle on the signature), never the
    // O(n^2) cross join. For a nonzero threshold t at scale, band the
    // signature into t+1 chunks and equi-join per chunk instead
    // (pigeonhole: some chunk must match exactly).
    sig.as("l").join(sig.as("r"),
        col("l.simhash") === col("r.simhash") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("da"), col("r.doc_id").as("db"),
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash")))
          .as("hamming"))
      .orderBy("da", "db")
  }

  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    dedupSimhashOn(tokenCounts(s, dir))

  /** L2 (SimHash-64, banded): the scale shape the 32-bit variant's
    * Scaladoc promises — a 64-bit signature searched at Hamming
    * distance <= 3 via 4 exact-match bands of 16 bits (pigeonhole: a
    * pair within distance 3 differs in at most 3 bands, so at least
    * one band matches exactly and every qualifying pair is a
    * candidate). Both the banding join and the verification are
    * equi-joins on 16-bit values — never a cross join. The token hash
    * is only ~30 bits (polynomial mod 1e9+7), so the 64 signature
    * bits come from 64 affine rehashes (LSB of (h*a_j + b_j) mod P),
    * which DuckDB reproduces in exact integer arithmetic.
    * Signature = 4 x 16-bit band columns h0..h3; total Hamming =
    * sum of per-band popcounts of XOR. */
  /** The 4 x 16-bit signature relation (doc_id, h0..h3) backing
    * [[dedupSimhash64]]; exposed for the recall-exactness spec. */
  /** Library form: 4 x 16-bit signature of a (doc_id, tok, cnt, h)
    * relation — signature built by the one-pass SimHash64Agg
    * (k-weighted sums in a 64-slot buffer); the equivalent
    * 64-SUM-column plan spent its wall time in generated-code
    * compilation, not data. */
  def simhash64SigOf(tokCnt: DataFrame): DataFrame =
    tokCnt
      .groupBy("doc_id")
      .agg(graft.plans.SimHash64Agg.simhash64(col("h"), col("cnt")).as("sig"))
      .select(col("doc_id") +: (0 until 4).map(b =>
        element_at(col("sig"), b + 1).as(s"h$b")): _*)

  private[graft] def simhash64Sig(s: SparkSession, dir: String): DataFrame =
    simhash64SigOf(tokenCounts(s, dir))

  def dedupSimhash64On(sig0: DataFrame, maxHamming: Int = 3): DataFrame = {
    // Round 12 (optimization): the plan referenced the signature FOUR
    // times (banding self-join l/r + verify sides a/b), re-deriving
    // the token aggregation + SimHash64Agg chain each time
    // (plan-verified: the scan→explode→agg subtree appeared 4x).
    // One eager checkpoint of the slim (doc_id, h0..h3) relation —
    // 4 re-derivations become 1 build + 4 reads.
    val sig = sig0.localCheckpoint(true)
    val bandLong = sig.select(col("doc_id"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"), col(s"h$b").as("bh"))): _*)).as("x"))
      .select(col("doc_id"), col("x.band"), col("x.bh"))
    val cand = bandLong.as("l")
      .join(bandLong.as("r"),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("da"), col("r.doc_id").as("db"))
      .distinct()
    cand
      .join(sig.as("a"), col("da") === col("a.doc_id"))
      .join(sig.as("b"), col("db") === col("b.doc_id"))
      .select(col("da"), col("db"),
        (0 until 4).map(b =>
          bit_count(col(s"a.h$b").bitwiseXOR(col(s"b.h$b"))))
          .reduce(_ + _).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy("da", "db")
  }

  def dedupSimhash64(s: SparkSession, dir: String): DataFrame =
    dedupSimhash64On(simhash64Sig(s, dir))

  /** L2 (exact n-gram Jaccard): ground-truth near-dup pairs via the
    * shingle equi-join, jac >= threshold — the recall yardstick for
    * the minhash path. Input: (doc_id, hs), see [[shingleHashesOf]].
    *
    * `maxDf` caps shingle document frequency BEFORE the self-join
    * (standard hot-shingle practice): a shingle shared by k docs
    * yields k^2 candidate rows, and real corpora have power-law
    * shingles, so an uncapped self-join explodes on boilerplate
    * n-grams. Jaccard is then exact over the df-capped shingle
    * universe — near-dup evidence lives in the rare shingles, so on
    * this corpus the pair set is IDENTICAL to uncapped at both sf0.01
    * and sf0.1 (pinned by spec); at 100 TB the cap is what bounds the
    * join's worst key at df^2 candidates. The df window reuses the
    * same hash partitioning on hs that the self-join needs — the cap
    * adds no extra shuffle of the shingle relation. */
  def dedupNgramOn(hs: DataFrame, threshold: Double = 0.8,
      maxDf: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("hs")
    val keep = hs
      .withColumn("df", count(lit(1)).over(w))
      .filter(col("df") <= maxDf)
      .select("doc_id", "hs")
      // Round 12 (optimization): the self-join (a/b) and the size
      // aggregate all re-ran the shingle-keyed df WINDOW — one
      // checkpoint of the capped (doc_id, hs) relation, three reads.
      .localCheckpoint(true)
    val sizes = keep.groupBy("doc_id").agg(count(lit(1)).as("n"))
    keep.as("a")
      .join(keep.as("b"),
        col("a.hs") === col("b.hs") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.as("sa"), col("da") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("db") === col("sb.doc_id"))
      .select(col("da"), col("db"),
        (col("inter").cast("double") /
          (col("sa.n") + col("sb.n") - col("inter"))).as("jac"))
      .filter(col("jac") >= threshold)
      .orderBy("da", "db")
  }

  def dedupNgram(s: SparkSession, dir: String): DataFrame =
    dedupNgramOn(shingleHashes(s, dir))

  /** L2 (prefix-filtered set-similarity join — Bayardo et al. WWW
    * 2007 / PPJoin's prefix principle): the LOSSLESS candidate
    * reduction for exact Jaccard joins. Each doc's shingles sort by
    * global rarity (df asc, hash asc — one canonical order both
    * engines agree on), and only the first |x| - ceil(t*|x|) + 1 of
    * them (t = 4/5, the ceil spelled in exact BIGINT math) join as
    * candidate keys: any pair with jac >= t MUST share a prefix
    * shingle, so verification over the full sets returns exactly the
    * ground-truth pair set — the oracle is the brute-force all-pairs
    * Jaccard, and hash equality IS the completeness proof. Scale: the
    * self-join key set shrinks from every shingle to the rare prefix
    * (boilerplate high-df shingles sort LAST and never join), the
    * principled alternative to [[dedupNgramOn]]'s df cap — that cap
    * bounds the worst key by fiat and is empirically lossless here;
    * the prefix bound is lossless by theorem at any corpus. The df
    * window and the candidate join share the hs hash partitioning;
    * the per-doc rank adds one doc-keyed window. */
  def dedupPrefixFilterOn(hs: DataFrame, threshold: Double = 0.8): DataFrame = {
    require(threshold == 0.8,
      "the exact-integer prefix bound is spelled for t = 4/5")
    val wdf = org.apache.spark.sql.expressions.Window.partitionBy("hs")
    val wdoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df").asc, col("hs").asc)
    val prefix = hs
      .withColumn("df", count(lit(1)).over(wdf))
      .withColumn("pos", row_number().over(wdoc))
      // set size rides the SAME sorted window spec under an explicit
      // unbounded frame (the r12 one-WindowExec fold): a bare
      // count(*) OVER (PARTITION BY doc_id) was a SECOND
      // whole-partition-buffering WindowExec pass over the shingle
      // relation beside the ordered row_number pass
      .withColumn("n", count(lit(1)).over(wdoc.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      // ceil(4n/5) = (4n + 4) div 5, all BIGINT
      .filter(expr("pos <= n - ((4 * n + 4) div 5) + 1"))
      .select("doc_id", "hs")
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.hs") === col("b.hs") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    val sizes = hs.groupBy("doc_id").agg(count(lit(1)).as("n"))
    cand
      .join(hs.as("fa"), col("da") === col("fa.doc_id"))
      .join(hs.as("fb"),
        col("db") === col("fb.doc_id") && col("fa.hs") === col("fb.hs"))
      .groupBy("da", "db")
      .agg(count(lit(1)).as("inter"))
      .join(sizes.as("sa"), col("da") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("db") === col("sb.doc_id"))
      .select(col("da"), col("db"),
        (col("inter").cast("double") /
          (col("sa.n") + col("sb.n") - col("inter"))).as("jac"))
      .filter(col("jac") >= threshold)
      .orderBy("da", "db")
  }

  def dedupPrefixFilter(s: SparkSession, dir: String): DataFrame =
    dedupPrefixFilterOn(shingleHashes(s, dir))

  /** L2 (exact repeated substrings): per-document maximal token spans
    * built by merging overlapping-or-adjacent `window`-token runs
    * that each occur in at least one OTHER document (a merged span may
    * straddle two duplicated runs, so interior windows of the span
    * need not themselves be cross-duplicated) — the ExactSubstr shape
    * of "Deduplicating Training Data
    * Makes Language Models Better" (Lee et al. 2022), which removes
    * the duplicated SPAN rather than the whole document (cross-doc
    * boilerplate, license headers, syndicated passages).
    *
    * Distributed spelling (the suffix-array of the paper is a
    * single-machine structure; the fingerprint form shuffles on
    * content keys instead):
    *  1. map-only sliding `window`-gram fingerprints per doc (per-row
    *     sequence+slice, like [[Text.textChunkOn]] — no shuffle, and
    *     gram count grows with document length, not corpus size);
    *  2. one groupBy on the gram hash marks grams seen in >= 2
    *     distinct docs — map-side-combinable, and the surviving
    *     duplicated-gram relation is tiny relative to the corpus, so
    *     its join back to the gram stream broadcasts;
    *  3. overlapping duplicated windows merge into maximal spans with
    *     a per-doc window (classic gaps-and-islands: new span when the
    *     gap to the previous hit exceeds the window length) — the only
    *     other shuffle, keyed on doc_id.
    * Within-doc repeats deliberately do NOT count (the >= 2 DISTINCT
    * docs test): self-repetition is [[Text.textRepetitionOn]]'s job.
    */
  def dedupSubstringOn(docs: DataFrame, window: Int = 8): DataFrame = {
    require(window >= 2, s"need window >= 2, got $window")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    // r13: the gram string existed only to be hashed — one native
    // expression (graft.plans.NgramHashes) folds the rolling hash
    // straight over the window's tokens and separators instead of the
    // interpreted transform + concat_ws + per-gram string allocation
    // (same values, same <window empty guard; spec-checked)
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), posexplode(
        graft.plans.GraftFunctions.ngram_hashes(col("t"), window)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("gh"))
    // dup-mark via aggregate + join back rather than collecting each
    // gram's occurrences into one array: a boilerplate gram shared by
    // k docs streams k join rows instead of materializing a k-element
    // array in a single reducer row (measured equal at corpus scale;
    // the join is what survives power-law grams at 100 TB, where the
    // gram relation would also be persisted between the two passes,
    // cf. [[shingleHashesOf]])
    val dup = grams.groupBy("gh")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("gh")
    grams.join(dup, "gh")
      .select(col("doc_id"), col("pos"))
      .withColumn("ns",
        (lag(col("pos"), 1).over(w).isNull ||
          col("pos") > lag(col("pos"), 1).over(w) + window).cast("long"))
      .withColumn("span_id", sum(col("ns")).over(w))
      .groupBy("doc_id", "span_id")
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + window).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select("doc_id", "span_start", "span_end", "n_windows")
      .orderBy("doc_id", "span_start")
  }

  def dedupSubstring(s: SparkSession, dir: String): DataFrame =
    dedupSubstringOn(Tables.documents(s, dir))

  /** L2 (ExactSubstr, the APPLY half): rewrite the corpus with every
    * duplicated span CUT — [[dedupSubstringOn]] finds the merged
    * duplicate windows, this op removes those token ranges and
    * reassembles the residual text, which is what Lee et al. 2022
    * actually train on (the find step alone just reports spans).
    * Aggressive mode: every occurrence of a duplicated span is cut,
    * the deliberately order-free choice — keeping one canonical copy
    * would need a global "first occurrence" tie-break joined back to
    * every gram, one more corpus-wide shuffle for a policy the paper
    * itself leaves open.
    *
    * Scale shape: tokens and spans are both doc-keyed, so after the
    * span find (whose one corpus-wide shuffle is the gram-hash groupBy
    * inside [[dedupSubstringOn]]) everything here is ONE doc-keyed
    * join + groupBy — spans per doc are few, the per-doc token x span
    * left join is bounded by doc length, and the rewrite never
    * shuffles text twice. Reassembly sorts each doc's kept tokens by
    * position INSIDE the row (array_sort over the collected structs,
    * unique pos = total order), not via a global window. */
  def dedupSubstringApplyOn(docs: DataFrame, window: Int = 8): DataFrame = {
    val spans = dedupSubstringOn(docs, window)
      .select("doc_id", "span_start", "span_end")
    val toks = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("tok"))
    toks.join(spans, Seq("doc_id"), "left")
      .groupBy(col("doc_id"), col("pos"), col("tok"))
      .agg(max(when(col("span_start").isNotNull &&
          col("pos") >= col("span_start") && col("pos") < col("span_end"), 1L)
        .otherwise(0L)).as("cut"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("cut")).as("n_removed"),
        array_sort(collect_list(when(col("cut") === 0,
          struct(col("pos"), col("tok"))))).as("kept"))
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        concat_ws(" ", expr("transform(kept, s -> s.tok)")).as("clean_text"))
  }

  def dedupSubstringApply(s: SparkSession, dir: String): DataFrame =
    dedupSubstringApplyOn(Tables.documents(s, dir)).orderBy("doc_id")

  /** L2 (embedding near-dup, exact): every cosine >= threshold pair,
    * computed as a BLOCK-PAIR shuffle join — the distributed spelling
    * of the all-pairs loop:
    *
    *  - each vector gets a block id g = pmod(hash(vec_id), G);
    *  - the G x G grid of block pairs is a tiny broadcast relation;
    *  - BOTH sides replicate against the grid (left on g = gi, right
    *    on g = gj) and meet in a SHUFFLE hash join keyed by the full
    *    (gi, gj) cell: G^2-way parallelism, each reduce task verifying
    *    one block pair of (n/G)^2 candidates with only 2n/G vectors
    *    held in memory.
    *
    * No side is ever broadcast (the prior spelling broadcast the whole
    * corpus — dead at Spark's 8 GB broadcast ceiling, i.e. ~1M
    * 2 KB vectors; this shape is bounded only by executor count). An
    * exact threshold join at LOW similarity is inherently O(n^2)
    * compare work — measured on this corpus, every hyperplane-LSH
    * config either misses >=0.4-pairs (96-98% recall) or prunes
    * nothing (candidate fraction 0.99: pairs at cos 0.4 sit 66 deg
    * apart, indistinguishable from random) — so the scale lever for
    * the exact op is distribution + block-size control (G), not
    * bucketing. For genuine near-dup thresholds (cos >= ~0.7), use
    * [[dedupEmbeddingLshOn]], where bucketing does prune.
    *
    * Cosine rounded to 4 decimals so sub-ulp summation-order noise
    * cannot flip the oracle compare. Input: any (vec_id, embedding)
    * relation. */
  def dedupEmbeddingOn(emb: DataFrame, threshold: Double = 0.4,
      blocks: Int = 16): DataFrame =
    // grid mechanics (full ordered grid, shuffle_hash, once-per-vector
    // cast) live in the shared Similarity.blockCosinePairsOn; da < db
    // halves the compare work vs the k-NN join's da != db
    Similarity.blockCosinePairsOn(emb, blocks, (l, r) => l < r)
      .filter(col("cos") >= threshold)
      .orderBy("da", "db")

  /** Catalog forms ride [[Similarity.cosPairsCached]] — the memoized
    * all-pairs cosine relation shared with the k-NN graph family —
    * filtered to da < db (values identical: the cached relation holds
    * both orientations of every pair with the same commutative dot).
    * The On-form above stays the library path for arbitrary inputs. */
  def dedupEmbeddingCached(s: SparkSession, dir: String,
      threshold: Double = 0.4): DataFrame =
    Similarity.cosPairsCached(s, dir)
      .select(col("qid").as("da"), col("nid").as("db"), col("cos"))
      .filter(col("da") < col("db") && col("cos") >= threshold)
      .orderBy("da", "db")

  def dedupEmbedding(s: SparkSession, dir: String): DataFrame =
    dedupEmbeddingCached(s, dir)

  /** L2 (embedding near-dup, LSH-bucketed): candidate pairs are
    * bucket-mates in ANY of `tables` hyperplane hash tables
    * ([[Similarity.bucketsOf]]), then exact-cosine verified — the
    * subquadratic scale path for genuine near-dup thresholds. A pair
    * at cos >= 0.9 (~26 deg) collides in some table with probability
    * ~1 - (1 - 0.59^planes)^tables (>= 99.9% at 16x6); pairs near
    * orthogonal almost never do, so candidates stay ~half the cross
    * product on random data and collapse to near-linear on real
    * near-dup corpora. Probabilistic recall at the margin is the same
    * contract as dedup_minhash's banding; the planted-pair spec pins
    * 100% recall at the design point. */
  def dedupEmbeddingLshOn(emb: DataFrame, threshold: Double = 0.45,
      tables: Int = 16, planes: Int = 6): DataFrame = {
    val bk = Similarity.bucketsOf(emb, tables, planes)
    val cand = bk.as("l")
      .join(bk.as("r"),
        col("l.t") === col("r.t") && col("l.bucket") === col("r.bucket") &&
          col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("da"), col("r.vec_id").as("db"))
      .distinct()
    val e = emb
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      .select(col("vec_id"), col("emb"),
        Similarity.norm2(col("emb")).as("nrm"))
    cand
      .join(e.as("a"), col("da") === col("a.vec_id"))
      .join(e.as("b"), col("db") === col("b.vec_id"))
      .select(col("da"), col("db"),
        round(Similarity.dot(col("a.emb"), col("b.emb")) /
          (col("a.nrm") * col("b.nrm")), 4).as("cos"))
      .filter(col("cos") >= threshold)
      .orderBy("da", "db")
  }

  /** Catalog wrapper: 8 tables (half the library default) — the
    * corpus's similarity ceiling is ~0.5, so extra tables only add
    * bucket-join cost without changing what is reachable; real
    * near-dup corpora (pairs at cos >= 0.9) keep the 16-table
    * default for the extra recall margin. */
  def dedupEmbeddingLsh(s: SparkSession, dir: String): DataFrame =
    dedupEmbeddingLshOn(Tables.embeddings(s, dir), tables = 8)

  /** Paragraph-granular width of [[dedupParagraphOn]]: with no
    * newline structure in the synthetic corpus, a "paragraph" is a
    * non-overlapping 16-token chunk (documented surrogate; a real
    * corpus splits on `\n\n` in the same relation shape). */
  val ParaTokens = 16

  /** L1p: paragraph-level exact dedup — CCNet's first stage (Wenzek
    * et al., LREC 2020 §4.1: hash every paragraph, drop repeats
    * keeping the FIRST occurrence corpus-wide) — the step that strips
    * boilerplate headers/footers shared across pages before any
    * document-level dedup runs.
    *
    * Shape, and why it scales:
    *  - paragraph extraction is a map-only array slice inside the
    *    scan projection (chunk_id = pos div [[ParaTokens]] — stride
    *    equals width, so a chunk is just 16 consecutive tokens);
    *  - first-occurrence election is ONE window keyed by the
    *    paragraph hash (row_number over (hash; doc_id, chunk_id)) —
    *    partitioned by real data, no global order, the same shape
    *    CCNet runs as a shard-and-elect MapReduce;
    *  - the rewrite is the per-doc regroup that reassembles kept
    *    paragraphs in position order (order restored inside the
    *    aggregate via array_sort, so the groupBy needs no sort).
    *
    * Output is the audit + apply relation: per doc, paragraph counts
    * before/after and the rewritten text (empty when every paragraph
    * already appeared earlier in the corpus — exact-duplicate docs
    * collapse to their first copy, subsuming doc-level exact dedup). */
  def dedupParagraphOn(docs: DataFrame, width: Int = ParaTokens): DataFrame = {
    require(width > 0, s"need width > 0, got $width")
    val paras = docs
      .select(col("doc_id"), Text.toks(col("text")).as("t"))
      .select(col("doc_id"), col("t"), size(col("t")).cast("long").as("n"))
      .select(col("doc_id"),
        explode(sequence(lit(0L), expr(s"(n - 1) div $width"))).as("chunk_id"),
        col("t"))
      .select(col("doc_id"), col("chunk_id"),
        concat_ws(" ", slice(col("t"),
          (col("chunk_id") * width + 1).cast("int"), lit(width))).as("chunk_text"))
      .select(col("doc_id"), col("chunk_id"), col("chunk_text"),
        Text.polyHash(col("chunk_text")).as("h"))
    val firstSeen = org.apache.spark.sql.expressions.Window.partitionBy("h")
      .orderBy(col("doc_id").asc, col("chunk_id").asc)
    paras
      .withColumn("keep", row_number().over(firstSeen) === 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("keep"), struct(col("chunk_id"), col("chunk_text"))))),
          x => x("chunk_text"))).as("kept_text"))
      .orderBy("doc_id")
  }

  def dedupParagraph(s: SparkSession, dir: String): DataFrame =
    dedupParagraphOn(Tables.documents(s, dir))

  /** L11b: bloom-filter membership gate for incremental dedup — the
    * constant-space alternative to [[dedupIncrementalOn]]'s exact
    * anti-join when the seen-corpus is 100 TB and the incoming batch
    * is small: the corpus publishes a bit SET (k=3 affine positions
    * per content hash over an m=2^16 space — the join_bloom family,
    * same affine rehash (h·(2j+3)+97j+31) mod P), the batch probes it
    * with three broadcast semi-probes, and only maybe-members pay any
    * exact follow-up. Guarantee: NO false negatives (every true dup
    * is flagged); false positives occur at ~(1−e^(−kn/m))^k and are
    * AUDITED in the output — each batch row carries maybe_dup,
    * exact-hash membership, and the false_positive flag, so the
    * filter's precision is measured in-catalog, not assumed.
    * "Exact" membership is polynomial-hash equality (the module's
    * documented ~30-bit identity convention). Scale: the bit relation
    * is ≤ m rows regardless of corpus size (broadcastable forever);
    * the corpus is scanned once to build it; the exact audit column
    * is the piece you drop at 100× — leaving the pure
    * constant-memory gate. */
  def dedupBloomOn(corpus: DataFrame, batch: DataFrame,
      bitsLog2: Int = 16, k: Int = 3): DataFrame = {
    require(bitsLog2 >= 4 && bitsLog2 <= 30, s"bad bitsLog2 $bitsLog2")
    val m = 1L << bitsLog2
    def pos(h: Column, j: Int): Column =
      pmod(h * lit(2L * j + 3) + lit(97L * j + 31), lit(P)) % lit(m)
    val ch = corpus.select(Text.polyHash(col("text")).as("h"))
    val bits = (0 until k)
      .map(j => ch.select(pos(col("h"), j).as("bitpos")))
      .reduce(_ union _).distinct()
    val bh = batch.select(col("doc_id"), Text.polyHash(col("text")).as("h"))
    val flagged = (0 until k).foldLeft(bh) { (df, j) =>
      df.join(broadcast(bits.withColumnRenamed("bitpos", s"bp$j")),
        pos(col("h"), j) === col(s"bp$j"), "left")
    }.withColumn("maybe_dup",
        (0 until k).map(j => col(s"bp$j").isNotNull).reduce(_ && _))
      .select("doc_id", "h", "maybe_dup")
    val exact = ch.distinct()
      .select(col("h").as("eh")).withColumn("hit", lit(1))
    flagged.join(exact, col("h") === col("eh"), "left")
      .select(col("doc_id"), col("maybe_dup"),
        col("hit").isNotNull.as("is_dup_exact"),
        (col("maybe_dup") && col("hit").isNull).as("false_positive"))
      .orderBy("doc_id")
  }

  /** Catalog form: every tenth doc is the incoming batch, the rest is
    * the seen corpus. */
  def dedupBloom(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    dedupBloomOn(docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_bloom" -> dedupBloom,
    "dedup_token_sort" -> dedupTokenSort,
    "dedup_paragraph" -> dedupParagraph,
    "dedup_exact" -> dedupExact,
    "dedup_url" -> dedupUrl,
    "dedup_minhash_estimate" -> dedupMinhashEstimate,
    "dedup_minhash_bbit" -> dedupMinhashBbit,
    "dedup_minhash" -> dedupMinhashCached,
    "dedup_lsh_planner" -> dedupLshPlanner,
    "dedup_sorted_neighborhood" -> dedupSortedNeighborhood,
    "dedup_containment" -> dedupContainment,
    "dedup_incremental" -> dedupIncremental,
    "dedup_simhash" -> dedupSimhash,
    "dedup_simhash64" -> dedupSimhash64,
    "dedup_ngram" -> dedupNgram,
    "dedup_prefix_filter" -> dedupPrefixFilter,
    "dedup_substring" -> dedupSubstring,
    "dedup_substring_apply" -> dedupSubstringApply,
    "dedup_method_eval" -> dedupMethodEval,
    "dedup_embedding" -> dedupEmbedding,
    "dedup_embedding_lsh" -> dedupEmbeddingLsh,
  )

  private val minhashMins = (0 until K).map(i =>
    s"MIN((hs * ${2 * i + 3} + ${97 * i + 31}) % 1000000007) AS m$i").mkString(", ")
  private val bandCols = (0 until BANDS).map(b =>
    s"(m${2 * b} * 131 + m${2 * b + 1}) % 1000000007 AS b$b").mkString(", ")
  private val bandUnion = (0 until BANDS).map(b =>
    s"SELECT doc_id, $b AS band, b$b AS bh FROM banded").mkString(" UNION ALL ")

  private val sim64Sums = (0 until 64).map(j =>
    s"SUM(CASE WHEN (((h * ${2 * j + 3} + ${97 * j + 31}) % 1000000007) & 1) = 1" +
      s" THEN cnt ELSE -cnt END) AS s$j").mkString(", ")
  private val sim64Bands = (0 until 4).map(b =>
    (16 * b until 16 * (b + 1)).map(j =>
      s"CASE WHEN s$j >= 0 THEN CAST(${1L << (j - 16 * b)} AS BIGINT) ELSE 0 END")
      .mkString(" + ") + s" AS h$b").mkString(", ")
  private val sim64BandUnion = (0 until 4).map(b =>
    s"SELECT doc_id, $b AS band, h$b AS bh FROM sig").mkString(" UNION ALL ")
  private val sim64Ham = (0 until 4).map(b =>
    s"bit_count(xor(a.h$b, b.h$b))").mkString(" + ")

  private val simhashSums = (0 until 32).map(j =>
    s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN cnt ELSE -cnt END) AS s$j").mkString(", ")
  private val simhashBits = (0 until 32).map(j =>
    s"CASE WHEN s$j >= 0 THEN (CAST(1 AS BIGINT) << $j) ELSE 0 END").mkString(" + ")

  /** CTE chain shingles -> signatures -> banded candidates -> verified
    * intersection counts; shared by the dedup_minhash oracle and the
    * [[Clusters]] connected-components oracle (which consumes the
    * verified pair set as its edge list). */
  private[functions] val minhashCoreSql =
    s"""$shingleHashSql,
       |sig AS (SELECT doc_id, COUNT(*) AS n, $minhashMins FROM hs GROUP BY doc_id),
       |banded AS (SELECT doc_id, $bandCols FROM sig),
       |bl AS ($bandUnion),
       |cand AS (SELECT DISTINCT l.doc_id AS da, r.doc_id AS db
       |         FROM bl l JOIN bl r ON l.band = r.band AND l.bh = r.bh
       |           AND l.doc_id < r.doc_id),
       |ix AS (SELECT da, db, COUNT(*) AS inter
       |       FROM cand JOIN hs a ON da = a.doc_id
       |       JOIN hs b ON db = b.doc_id AND a.hs = b.hs
       |       GROUP BY da, db)""".stripMargin

  /** The three verified-pair oracles as standalone statements — each
    * doubles as a subquery of the dedup_method_eval agreement matrix
    * (DuckDB nests full WITH...SELECT blocks as derived tables). */
  private val minhashVerifiedSql: String =
    s"""$minhashCoreSql
       |SELECT da, db,
       |  CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jac
       |FROM ix JOIN sig sa ON da = sa.doc_id JOIN sig sb ON db = sb.doc_id
       |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
       |ORDER BY da, db""".stripMargin

  private val ngramVerifiedSql: String =
    s"""$shingleHashSql,
       |keep AS (SELECT doc_id, hs FROM (
       |    SELECT doc_id, hs, COUNT(*) OVER (PARTITION BY hs) AS df FROM hs)
       |  WHERE df <= 20),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM keep GROUP BY doc_id),
       |ix AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
       |       FROM keep a JOIN keep b ON a.hs = b.hs AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2)
       |SELECT da, db, CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jac
       |FROM ix JOIN sz sa ON da = sa.doc_id JOIN sz sb ON db = sb.doc_id
       |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
       |ORDER BY da, db""".stripMargin

  private val snmVerifiedSql: String =
    s"""$shingleHashSql,
       |sk AS (SELECT doc_id, MIN((hs * 3 + 31) % 1000000007) AS skey,
       |         COUNT(*) AS n FROM hs GROUP BY doc_id),
       |rk AS (SELECT doc_id, n,
       |         row_number() OVER (ORDER BY skey, doc_id) AS rid FROM sk),
       |cand AS (SELECT least(l.doc_id, r.doc_id) AS da,
       |           greatest(l.doc_id, r.doc_id) AS db
       |         FROM rk l JOIN rk r
       |           ON r.rid > l.rid AND r.rid <= l.rid + 3),
       |ix AS (SELECT da, db, COUNT(*) AS inter
       |       FROM cand JOIN hs a ON da = a.doc_id
       |       JOIN hs b ON db = b.doc_id AND a.hs = b.hs
       |       GROUP BY da, db)
       |SELECT da, db,
       |  CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jac
       |FROM ix JOIN rk sa ON da = sa.doc_id JOIN rk sb ON db = sb.doc_id
       |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
       |ORDER BY da, db""".stripMargin

  val oracles: Map[String, String] = Map(
    // Mirrors dedupLshPlanner step for step via the shared squaring /
    // sqrt-composition strings (no libm pow on either engine).
    "dedup_lsh_planner" ->
      s"""WITH g AS (SELECT r.r, b.b, j.j_pct
         |    FROM (SELECT UNNEST([2, 4, 8])::BIGINT AS r) r,
         |    (SELECT UNNEST([4, 8, 16, 32])::BIGINT AS b) b,
         |    (SELECT UNNEST([50, 60, 70, 80, 90, 95])::BIGINT AS j_pct) j),
         |s1 AS (SELECT *, j_pct / 100.0 AS j FROM g),
         |s2 AS (SELECT *, j * j AS j2 FROM s1),
         |s3 AS (SELECT *, j2 * j2 AS j4 FROM s2),
         |s4 AS (SELECT *, j4 * j4 AS j8 FROM s3),
         |s5 AS (SELECT *, 1.0 - ($LshJrSql) AS q FROM s4),
         |s6 AS (SELECT *, q * q AS q2 FROM s5),
         |s7 AS (SELECT *, q2 * q2 AS q4 FROM s6),
         |s8 AS (SELECT *, q4 * q4 AS q8 FROM s7),
         |s9 AS (SELECT *, q8 * q8 AS q16 FROM s8),
         |sa AS (SELECT *, q16 * q16 AS q32 FROM s9)
         |SELECT r, b, j_pct,
         |  CAST(floor((1.0 - ($LshQbSql)) * 1000000 + 0.5) AS BIGINT)
         |    AS p_collide_ppm,
         |  CAST(floor(($LshThrSql) * 1000000 + 0.5) AS BIGINT)
         |    AS s_threshold_ppm
         |FROM sa ORDER BY r, b, j_pct""".stripMargin,
    "dedup_token_sort" ->
      """SELECT CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM (SELECT doc_id,
        |    array_to_string(list_sort(string_split(text, ' ')), ' ')
        |      AS sorted_key
        |  FROM documents)
        |GROUP BY sorted_key
        |ORDER BY keeper_doc_id""".stripMargin,
    "dedup_bloom" ->
      s"""WITH ch AS (SELECT ${Text.polySqlOf("text")} AS h
         |  FROM documents WHERE doc_id % 10 <> 0),
         |bits AS (SELECT DISTINCT (h * (2 * j + 3) + 97 * j + 31)
         |    % 1000000007 % 65536 AS bitpos
         |  FROM ch, range(0, 3) r(j)),
         |bh AS (SELECT doc_id, ${Text.polySqlOf("text")} AS h
         |  FROM documents WHERE doc_id % 10 = 0),
         |fl AS (SELECT doc_id, h,
         |    (h * 3 + 31) % 1000000007 % 65536
         |      IN (SELECT bitpos FROM bits)
         |    AND (h * 5 + 128) % 1000000007 % 65536
         |      IN (SELECT bitpos FROM bits)
         |    AND (h * 7 + 225) % 1000000007 % 65536
         |      IN (SELECT bitpos FROM bits) AS maybe_dup
         |  FROM bh),
         |ex AS (SELECT DISTINCT h FROM ch)
         |SELECT doc_id, maybe_dup, ex.h IS NOT NULL AS is_dup_exact,
         |  maybe_dup AND ex.h IS NULL AS false_positive
         |FROM fl LEFT JOIN ex ON fl.h = ex.h
         |ORDER BY doc_id""".stripMargin,
    "dedup_paragraph" ->
      s"""WITH tk AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         |p AS (SELECT doc_id,
         |    unnest(range(0, (len(t) - 1) // $ParaTokens + 1)) AS chunk_id, t
         |  FROM tk),
         |c AS (SELECT doc_id, chunk_id,
         |    array_to_string(t[CAST(chunk_id * $ParaTokens + 1 AS BIGINT) :
         |      CAST(chunk_id * $ParaTokens + $ParaTokens AS BIGINT)], ' ')
         |      AS chunk_text
         |  FROM p),
         |h AS (SELECT doc_id, chunk_id, chunk_text,
         |    ${Text.polySqlOf("chunk_text")} AS h FROM c),
         |k AS (SELECT doc_id, chunk_id, chunk_text,
         |    ROW_NUMBER() OVER (PARTITION BY h
         |      ORDER BY doc_id ASC, chunk_id ASC) = 1 AS keep FROM h)
         |SELECT doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_paras,
         |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  COALESCE(string_agg(CASE WHEN keep THEN chunk_text END, ' '
         |    ORDER BY chunk_id), '') AS kept_text
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT sha256(text) AS content_hash, MIN(doc_id) AS keeper_doc_id,
        |  COUNT(*) AS n_copies
        |FROM documents GROUP BY sha256(text) ORDER BY keeper_doc_id""".stripMargin,
    "dedup_url" ->
      """WITH u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 3 = 0 THEN 'http://' ELSE 'https://' END) ||
        |  (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END) ||
        |  source || '.example.com/' || lang || '/item-' || (doc_id % 25) ||
        |  (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END) || '?' ||
        |  (CASE WHEN doc_id % 5 = 0 THEN 'utm_source=feed&' ELSE '' END) ||
        |  'ref=item' || (doc_id % 25) AS url
        |  FROM documents),
        |c AS (SELECT doc_id,
        |  replace(replace(
        |    regexp_replace(regexp_replace(url, '^https?://', ''),
        |      '^www\.', ''),
        |    'utm_source=feed&', ''), '/?', '?') AS curl
        |  FROM u)
        |SELECT curl, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
        |FROM c GROUP BY curl ORDER BY curl""".stripMargin,
    "dedup_containment" ->
      s"""$minhashCoreSql
         |SELECT da, db,
         |  CAST(inter AS DOUBLE) / least(sa.n, sb.n) AS containment
         |FROM ix JOIN sig sa ON da = sa.doc_id JOIN sig sb ON db = sb.doc_id
         |WHERE CAST(inter AS DOUBLE) / least(sa.n, sb.n) >= 0.8
         |ORDER BY da, db""".stripMargin,
    "dedup_sorted_neighborhood" -> snmVerifiedSql,
    "dedup_minhash" -> minhashVerifiedSql,
    "dedup_method_eval" -> {
      def pairs(q: String) = s"(SELECT da, db FROM ($q))"
      def row(an: String, a: String, bn: String, b: String) =
        s"""SELECT '$an' AS method_a, '$bn' AS method_b,
           |  (SELECT COUNT(*) FROM ${pairs(a)} pa) AS n_a,
           |  (SELECT COUNT(*) FROM ${pairs(b)} pb) AS n_b,
           |  (SELECT COUNT(*) FROM ${pairs(a)} pa
           |     JOIN ${pairs(b)} pb USING (da, db)) AS n_both""".stripMargin
      s"""${row("minhash", minhashVerifiedSql, "ngram", ngramVerifiedSql)}
         |UNION ALL
         |${row("minhash", minhashVerifiedSql, "snm", snmVerifiedSql)}
         |UNION ALL
         |${row("ngram", ngramVerifiedSql, "snm", snmVerifiedSql)}
         |ORDER BY method_a, method_b""".stripMargin
    },
    "dedup_minhash_bbit" -> {
      val base = 4 // 2^b at the default b = 2
      val full = (0 until K).map(i =>
        s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END").mkString(" + ")
      val bbit = (0 until K).map(i =>
        s"CASE WHEN sa.m$i % $base = sb.m$i % $base THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""$minhashCoreSql
         |SELECT da, db,
         |  CAST(($full) AS BIGINT) AS slot_matches,
         |  CAST(($bbit) AS BIGINT) AS bbit_matches,
         |  CAST(($full) * 1000000 // $K AS BIGINT) AS est_ppm,
         |  CAST(GREATEST(($bbit) * $base - $K, 0) * 1000000
         |    // ${K * (base - 1)} AS BIGINT) AS est_bbit_ppm
         |FROM cand
         |JOIN sig sa ON da = sa.doc_id JOIN sig sb ON db = sb.doc_id
         |ORDER BY da, db""".stripMargin
    },
    "dedup_minhash_estimate" ->
      s"""$minhashCoreSql
         |SELECT da, db,
         |  CAST((${(0 until K).map(i =>
               s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
               .mkString(" + ")}) AS BIGINT) AS slot_matches,
         |  CAST((${(0 until K).map(i =>
               s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
               .mkString(" + ")}) * 1000000 // $K AS BIGINT) AS est_ppm,
         |  CAST(COALESCE(ix.inter, 0) * 1000000
         |    // (sa.n + sb.n - COALESCE(ix.inter, 0)) AS BIGINT) AS jac_ppm
         |FROM cand
         |JOIN sig sa ON da = sa.doc_id JOIN sig sb ON db = sb.doc_id
         |LEFT JOIN ix USING (da, db)
         |ORDER BY da, db""".stripMargin,
    "dedup_incremental" ->
      s"""$minhashCoreSql
         |SELECT da, db,
         |  CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jac,
         |  CASE WHEN da % 5 = 0 AND db % 5 = 0 THEN 'new_new'
         |       ELSE 'new_old' END AS span
         |FROM ix JOIN sig sa ON da = sa.doc_id JOIN sig sb ON db = sb.doc_id
         |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
         |  AND (da % 5 = 0 OR db % 5 = 0)
         |ORDER BY da, db""".stripMargin,
    "dedup_simhash" ->
      s"""WITH tc AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM (
         |    SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents)
         |  GROUP BY doc_id, tok),
         |th AS (SELECT doc_id, cnt, list_reduce(
         |    list_concat([CAST(0 AS BIGINT)],
         |      list_transform(string_split(tok,''), c -> CAST(unicode(c) AS BIGINT))),
         |    (a, b) -> (a * 31 + b) % 1000000007) AS h FROM tc),
         |sums AS (SELECT doc_id, $simhashSums FROM th GROUP BY doc_id),
         |sig AS (SELECT doc_id, $simhashBits AS simhash FROM sums)
         |SELECT l.doc_id AS da, r.doc_id AS db,
         |  CAST(bit_count(xor(l.simhash, r.simhash)) AS INT) AS hamming
         |FROM sig l JOIN sig r ON l.doc_id < r.doc_id
         |WHERE bit_count(xor(l.simhash, r.simhash)) <= 0
         |ORDER BY da, db""".stripMargin,
    "dedup_simhash64" ->
      s"""WITH tc AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM (
         |    SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents)
         |  GROUP BY doc_id, tok),
         |th AS (SELECT doc_id, cnt, list_reduce(
         |    list_concat([CAST(0 AS BIGINT)],
         |      list_transform(string_split(tok,''), c -> CAST(unicode(c) AS BIGINT))),
         |    (a, b) -> (a * 31 + b) % 1000000007) AS h FROM tc),
         |sums AS (SELECT doc_id, $sim64Sums FROM th GROUP BY doc_id),
         |sig AS (SELECT doc_id, $sim64Bands FROM sums),
         |bl AS ($sim64BandUnion),
         |cand AS (SELECT DISTINCT l.doc_id AS da, r.doc_id AS db
         |         FROM bl l JOIN bl r ON l.band = r.band AND l.bh = r.bh
         |           AND l.doc_id < r.doc_id)
         |SELECT da, db, CAST($sim64Ham AS INT) AS hamming
         |FROM cand JOIN sig a ON da = a.doc_id JOIN sig b ON db = b.doc_id
         |WHERE $sim64Ham <= 3
         |ORDER BY da, db""".stripMargin,
    // brute-force all-pairs exact Jaccard: prefix filtering is
    // lossless by theorem, so the ground truth IS the oracle — the
    // hash gate doubles as the completeness proof
    "dedup_prefix_filter" ->
      s"""$shingleHashSql,
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM hs GROUP BY doc_id),
         |ix AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
         |       FROM hs a JOIN hs b ON a.hs = b.hs AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2)
         |SELECT da, db, CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jac
         |FROM ix JOIN sz sa ON da = sa.doc_id JOIN sz sb ON db = sb.doc_id
         |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
         |ORDER BY da, db""".stripMargin,
    "dedup_ngram" -> ngramVerifiedSql,
    "dedup_substring" ->
      s"""$substringSpanSql
        |SELECT doc_id, span_start, span_end, n_windows
        |FROM sp ORDER BY doc_id, span_start""".stripMargin,
    "dedup_substring_apply" ->
      s"""$substringSpanSql,
        |tok AS (SELECT doc_id, i - 1 AS pos, t[i] AS tok
        |        FROM tk, UNNEST(range(1, len(t) + 1)) AS r(i)),
        |fl AS (SELECT doc_id, pos, tok,
        |         max(CASE WHEN span_start IS NOT NULL
        |             AND pos >= span_start AND pos < span_end
        |           THEN 1 ELSE 0 END) AS cut
        |       FROM tok LEFT JOIN sp USING (doc_id) GROUP BY doc_id, pos, tok)
        |SELECT doc_id, count(*) AS n_tokens, CAST(sum(cut) AS BIGINT) AS n_removed,
        |  COALESCE(string_agg(CASE WHEN cut = 0 THEN tok END, ' ' ORDER BY pos), '')
        |    AS clean_text
        |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dedup_embedding" ->
      s"""WITH e AS (SELECT vec_id, embedding,
         |  sqrt(${Similarity.sqlDot("embedding", "embedding")}) AS nrm
         |  FROM embeddings)
         |SELECT l.vec_id AS da, r.vec_id AS db,
         |  round(${Similarity.sqlDot("l.embedding", "r.embedding")} / (l.nrm * r.nrm), 4) AS cos
         |FROM e l JOIN e r ON l.vec_id < r.vec_id
         |WHERE round(${Similarity.sqlDot("l.embedding", "r.embedding")} / (l.nrm * r.nrm), 4) >= 0.4
         |ORDER BY da, db""".stripMargin,
    "dedup_embedding_lsh" ->
      s"""WITH ${Similarity.bucketSqlFor(8, 6)},
         |cand AS (SELECT DISTINCT l.vec_id AS da, r.vec_id AS db
         |         FROM bk l JOIN bk r ON l.t = r.t AND l.bucket = r.bucket
         |           AND l.vec_id < r.vec_id),
         |e AS (SELECT vec_id, embedding,
         |  sqrt(${Similarity.sqlDot("embedding", "embedding")}) AS nrm
         |  FROM embeddings)
         |SELECT da, db,
         |  round(${Similarity.sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 4) AS cos
         |FROM cand JOIN e a ON da = a.vec_id JOIN e b ON db = b.vec_id
         |WHERE round(${Similarity.sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 4) >= 0.45
         |ORDER BY da, db""".stripMargin,
  )
}
