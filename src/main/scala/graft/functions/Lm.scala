package graft.functions

import graft.{Memo, Tables}
import graft.Memo.memo
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed count-based n-gram language modeling — the classic
  * web-scale MapReduce workload (Brants et al., EMNLP 2007, "Large
  * Language Models in Machine Translation": 2-trillion-token corpora,
  * counts sharded by n-gram hash) re-expressed as Spark relations —
  * and the corpus-quality filter built on top of it (Wenzek et al.,
  * LREC 2020, CCNet: rank documents by LM score per language, keep
  * the head/middle, drop the tail).
  *
  * Everything is counts, equi-joins and integer arithmetic:
  *
  *  - n-gram extraction is a map-only array transform inside the scan
  *    projection (no shuffle, no window);
  *  - the count tables are plain hash aggregates keyed by the n-gram
  *    — exactly the relations Brants shards across machines; at
  *    100 TB they'd be written to parquet bucketed by n-gram hash and
  *    pruned with a min-count threshold before serving;
  *  - scoring is LEFT equi-joins from the test trigram stream into
  *    the three count relations — the same join the "distributed
  *    backoff lookup" performs, with Spark free to broadcast
  *    whichever count table fits;
  *  - "stupid backoff" (Brants §4) replaces normalized smoothing
  *    with a fixed 0.4 back-off factor precisely so scores need NO
  *    global normalization pass — the property that made it the
  *    first LM to train on trillions of tokens, and the property
  *    that keeps this whole query shuffle-minimal.
  *
  * Per-trigram scores are quantized to integer micro-units
  * (floor(1e6·S)) BEFORE the per-document sum, the repo's Exact
  * convention: integer sums are associative, so the result is
  * bit-identical across partitionings and engines.
  *
  * Reference tie-in: the reference pipeline has no LM stage (it is a
  * vision pipeline); this family belongs to the LLM-data-pipeline
  * extension surface (SURVEY.md §2.11), next to text_lm_score's
  * self-scored add-one bigram model — which this generalizes with a
  * train/score split, trigram order, and backoff-level accounting.
  */
object Lm {

  /** Back-off multiplier α = 0.4 (Brants et al. 2007 §4). */
  val Alpha = 0.4

  /** Train fraction of the hash split — same `polyHash(text) % 100`
    * rule as text_split_assign, so "train" means the same rows
    * everywhere in the catalog. */
  val TrainPct = 80

  private def withBucket(docs: DataFrame): DataFrame =
    docs.withColumn("bucket", Text.polyHash(col("text")) % 100)

  /** Map-only n-gram stream: one row per position, struct-free wide
    * columns (w1..wn). Stays inside whole-stage codegen — the array
    * transform + posexplode is evaluated in the scan stage. */
  private def ngrams(docs: DataFrame, n: Int): DataFrame =
    ngramsOf(docs.select(col("doc_id"), Text.toks(col("text")).as("t")), n)

  /** Same stream over an ALREADY-tokenized (doc_id, t) relation — the
    * shared-scan form: the backoff counts need 3 different n over the
    * same train split, so the caller tokenizes once and fans out. */
  private def ngramsOf(tok: DataFrame, n: Int): DataFrame = {
    val fields = (1 to n).map(k => s"'w$k', t[i + ${k - 1}]").mkString(", ")
    // size guard: `sequence(0, size-n)` DESCENDS when size < n (Spark
    // generates descending sequences), which would fabricate
    // out-of-range n-grams instead of none.
    tok.where(size(col("t")) >= n)
      .select(col("doc_id"),
        explode(expr(s"transform(sequence(0, size(t) - $n), i -> named_struct($fields))"))
          .as("g"))
      .select(col("doc_id") +: (1 to n).map(k => col(s"g.w$k").as(s"w$k")): _*)
  }

  /** L14a: trigram stupid-backoff scoring of the held-out split.
    *
    * Counts (trigram, bigram, unigram, N) come from the TRAIN rows of
    * `docs` (`isTrain`); every trigram of the TEST rows (`!isTrain`)
    * is scored with
    *
    *   S(w3|w1 w2) = c(w1w2w3)/c(w1w2)            if c(w1w2w3) > 0
    *               = α · c(w2w3)/c(w2)            else if c(w2w3) > 0
    *               = α² · c(w3)/N                 else if c(w3) > 0
    *               = 0                            else (OOV)
    *
    * and the per-doc output records how often each back-off level
    * fired (`n_hit3/2/1` — OOV is the remainder) beside the
    * micro-unit score sum. The level histogram is the standard LM
    * coverage diagnostic: at corpus scale it tells you whether the
    * count tables are big enough before you spend a cluster-day
    * scoring with them. */
  def lmNgramBackoffOn(docs: DataFrame, isTrain: Column): DataFrame = {
    val test = docs.where(!isTrain)

    // Shared scan: tokenize the train split ONCE and fan the three
    // n-gram orders out of the materialized (doc_id, t) relation —
    // without this the count tables re-scan + re-tokenize the corpus
    // 4x (c3, c2, c1, N), which PERF.md flagged as the
    // lm_perplexity_filter hotspot.
    val trainTok = docs.where(isTrain)
      .select(col("doc_id"), Text.toks(col("text")).as("t"))
      .localCheckpoint(true)
    val c3 = ngramsOf(trainTok, 3).groupBy("w1", "w2", "w3")
      .agg(count(lit(1)).as("c123"))
    // c2 and c1 each feed TWO joins below (c12/c23, cw2/cw3):
    // materialize so the vocabulary-bounded count tables are built once.
    val c2 = ngramsOf(trainTok, 2).groupBy("w1", "w2")
      .agg(count(lit(1)).as("c12")).localCheckpoint(true)
    val c1 = ngramsOf(trainTok, 1).groupBy("w1")
      .agg(count(lit(1)).as("cw")).localCheckpoint(true)
    // N = total train tokens = sum of the unigram table — no 4th scan.
    val n = c1.agg(sum(col("cw")).as("n"))

    val scored = ngrams(test, 3)
      .join(c3, Seq("w1", "w2", "w3"), "left")
      .join(c2, Seq("w1", "w2"), "left")
      .join(c2.select(col("w1").as("w2"), col("w2").as("w3"),
        col("c12").as("c23")), Seq("w2", "w3"), "left")
      .join(c1.select(col("w1").as("w2"), col("cw").as("cw2")), Seq("w2"), "left")
      .join(c1.select(col("w1").as("w3"), col("cw").as("cw3")), Seq("w3"), "left")
      .crossJoin(broadcast(n))
      .select(col("doc_id"),
        when(col("c123").isNotNull, lit(3))
          .when(col("c23").isNotNull, lit(2))
          .when(col("cw3").isNotNull, lit(1))
          .otherwise(lit(0)).as("lvl"),
        // per-trigram micro-unit quantization BEFORE the sum: the
        // double divisions are IEEE-identical in any engine, the
        // floor makes them integers, integer sums are order-free.
        floor(lit(1000000.0) *
          when(col("c123").isNotNull, col("c123") / col("c12"))
            .when(col("c23").isNotNull, lit(Alpha) * col("c23") / col("cw2"))
            .when(col("cw3").isNotNull, lit(Alpha * Alpha) * col("cw3") / col("n"))
            .otherwise(lit(0.0))).cast("long").as("su"))

    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tri"),
        sum(when(col("lvl") === 3, 1L).otherwise(0L)).as("n_hit3"),
        sum(when(col("lvl") === 2, 1L).otherwise(0L)).as("n_hit2"),
        sum(when(col("lvl") === 1, 1L).otherwise(0L)).as("n_hit1"),
        sum(col("su")).as("score_micro"))
      .orderBy("doc_id")
  }

  /** Jelinek-Mercer interpolation weights (Jelinek & Mercer 1980;
    * Chen-Goodman 1998 §2.3's baseline the KN variant is judged
    * against): fixed, held-out-style constants pinned as shared
    * literals. */
  val Jm3 = 0.5
  val Jm2 = 0.3
  val Jm1 = 0.2

  /** Per-trigram JM score in micro-units — ONE string evaluated by
    * both engines over identically-named columns (the shared-literal
    * rule on a float expression): each maximum-likelihood ratio is a
    * single IEEE division, the weighted sum is left-to-right, and the
    * floor quantizes BEFORE the per-doc aggregate so integer sums
    * stay order-free. */
  private val jmSuSql =
    s"""CAST(floor(1000000.0 * ($Jm3 * coalesce(CAST(c123 AS DOUBLE) / c12, 0.0)
       | + $Jm2 * coalesce(CAST(c23 AS DOUBLE) / cw2, 0.0)
       | + $Jm1 * coalesce(CAST(cw3 AS DOUBLE) / n, 0.0))) AS BIGINT)"""
      .stripMargin.replace("\n", "")

  /** L14e: Jelinek-Mercer INTERPOLATED trigram scoring — the smoothing
    * family's linear-mixture member beside stupid backoff
    * ([[lmNgramBackoffOn]]: pick ONE level) and Kneser-Ney
    * (discount + continuation): every level contributes always,
    *   P_JM(w3|w1 w2) = λ3·c(w1w2w3)/c(w1w2) + λ2·c(w2w3)/c(w2)
    *                  + λ1·c(w3)/N
    * with absent contexts contributing zero mass. Output per test doc:
    * trigram count, how many trigrams had each context level
    * AVAILABLE (the mixture-coverage diagnostic — JM's analogue of
    * backoff's level histogram), and the quantized score sum.
    *
    * Shape: same count tables and 5-way left join as the backoff
    * scorer (train tokenized once, vocabulary-bounded count relations,
    * test-trigram-keyed joins); only the scoring expression differs —
    * the at-scale cost profile is identical. */
  def lmJelinekMercerOn(docs: DataFrame, isTrain: Column): DataFrame = {
    val test = docs.where(!isTrain)
    val trainTok = docs.where(isTrain)
      .select(col("doc_id"), Text.toks(col("text")).as("t"))
      .localCheckpoint(true)
    val c3 = ngramsOf(trainTok, 3).groupBy("w1", "w2", "w3")
      .agg(count(lit(1)).as("c123"))
    val c2 = ngramsOf(trainTok, 2).groupBy("w1", "w2")
      .agg(count(lit(1)).as("c12")).localCheckpoint(true)
    val c1 = ngramsOf(trainTok, 1).groupBy("w1")
      .agg(count(lit(1)).as("cw")).localCheckpoint(true)
    val n = c1.agg(sum(col("cw")).as("n"))
    ngrams(test, 3)
      .join(c3, Seq("w1", "w2", "w3"), "left")
      .join(c2, Seq("w1", "w2"), "left")
      .join(c2.select(col("w1").as("w2"), col("w2").as("w3"),
        col("c12").as("c23")), Seq("w2", "w3"), "left")
      .join(c1.select(col("w1").as("w2"), col("cw").as("cw2")),
        Seq("w2"), "left")
      .join(c1.select(col("w1").as("w3"), col("cw").as("cw3")),
        Seq("w3"), "left")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("c123"), col("c23"), col("cw3"),
        expr(jmSuSql).as("su"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tri"),
        sum(when(col("c123").isNotNull, 1L).otherwise(0L)).as("n_ctx3"),
        sum(when(col("c23").isNotNull, 1L).otherwise(0L)).as("n_ctx2"),
        sum(when(col("cw3").isNotNull, 1L).otherwise(0L)).as("n_ctx1"),
        sum(col("su")).as("score_micro"))
      .orderBy("doc_id")
  }

  def lmJelinekMercer(s: SparkSession, dir: String): DataFrame =
    lmJelinekMercerOn(withBucket(Tables.documents(s, dir)),
      col("bucket") < TrainPct)

  /** Memoized per-doc backoff scores for the STANDARD corpus split
    * (train = bucket < [[TrainPct]]) — the relation both
    * lm_ngram_backoff and lm_perplexity_filter read. Without this the
    * perplexity filter re-derives the whole scoring subtree (count
    * tables + 5-way join) that lm_ngram_backoff just built — PERF.md's
    * named shared-scan candidate. localCheckpoint truncates the plan so
    * the second consumer starts from the materialized relation; at
    * 100 TB this is the "write the scored corpus to parquet once, read
    * it twice" step. */
  private val perDocCache = Memo.cache[String, DataFrame]

  private def backoffPerDocCached(s: SparkSession, dir: String): DataFrame =
    memo(perDocCache, s, dir) {
      lmNgramBackoffOn(withBucket(Tables.documents(s, dir)),
        col("bucket") < TrainPct).localCheckpoint(true)
    }

  def lmNgramBackoff(s: SparkSession, dir: String): DataFrame =
    backoffPerDocCached(s, dir)

  /** L14b: CCNet perplexity filter (Wenzek et al. 2020 §4.3) — rank
    * each language's held-out documents by average LM score and cut
    * into head/middle/tail terciles. CCNet keeps head+middle as
    * training data and drops the tail; the output here is the audit
    * relation (per lang × bucket: doc/trigram counts and the score
    * range) a pipeline would inspect before committing the cut.
    *
    * The ntile window partitions by LANGUAGE — CCNet's own design
    * (one KenLM per language) — so no single partition ever holds
    * more than one language's documents; within a language the order
    * is (avg desc, doc_id), a deterministic total order. */
  def lmPerplexityFilterOn(docs: DataFrame, isTrain: Column): DataFrame =
    lmPerplexityFilterFromScores(lmNgramBackoffOn(docs, isTrain),
      docs.select(col("doc_id"), col("lang")))

  /** Tercile finisher over an ALREADY-SCORED per-doc relation — the
    * entry point the catalog wrapper uses so lm_perplexity_filter
    * consumes [[backoffPerDocCached]] instead of re-deriving
    * lm_ngram_backoff's scoring subtree. */
  def lmPerplexityFilterFromScores(scores: DataFrame,
      langs: DataFrame): DataFrame = {
    val perDoc = scores
      .join(langs, Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_tri"),
        expr("score_micro div n_tri").as("avg_micro"))
    val w = Window.partitionBy("lang")
      .orderBy(col("avg_micro").desc, col("doc_id").asc)
    perDoc
      .withColumn("bin", ntile(3).over(w))
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tri")).as("n_trigrams"),
        min(col("avg_micro")).as("min_avg_micro"),
        max(col("avg_micro")).as("max_avg_micro"))
      .select(col("lang"),
        when(col("bin") === 1, "head").when(col("bin") === 2, "middle")
          .otherwise("tail").as("quality_bucket"),
        col("n_docs"), col("n_trigrams"),
        col("min_avg_micro"), col("max_avg_micro"))
      .orderBy("lang", "quality_bucket")
  }

  def lmPerplexityFilter(s: SparkSession, dir: String): DataFrame =
    lmPerplexityFilterFromScores(backoffPerDocCached(s, dir),
      Tables.documents(s, dir).select(col("doc_id"), col("lang")))

  /** Holdout-model training slice for [[corpusRhoSelectOn]]: buckets
    * [RhoHoLo, TrainPct) of the shared hash split. */
  val RhoHoLo = 70

  /** L14d: reducible-holdout-loss data selection (Mindermann et al.,
    * ICML 2022, "RHO-Loss") — the two-model curation rule: a
    * candidate document is worth training on when the CURRENT model
    * finds it hard but a small HOLDOUT-trained model finds it easy
    * (hard + learnable); hard for both models means noise, easy for
    * both means already learned. Spelled with the repo's count-based
    * LM as both models: the main model trains on hash buckets
    * [0,70), the irreducible-loss model on the disjoint holdout
    * [70,80), and every candidate (bucket ≥ 80, the standard test
    * split) is scored under both via [[lmNgramBackoffOn]]. With
    * loss = −score, reducible loss = L_main − L_ho =
    * avg_ho − avg_main in micro-units — exact integer once each
    * scoring's per-trigram floors land (shared with the oracle).
    * Selection keeps the top QUARTER per language (ntile(4) over the
    * CCNet-style per-language window — never a global sort), the
    * paper's top-fraction batch-selection rule at corpus granularity.
    *
    * Cost shape: two count-table builds + two scoring joins over the
    * SAME tokenized corpus relation (checkpointed once); candidates
    * are scored twice but the count tables stay vocabulary-bounded,
    * so at 100 TB this is two Brants-style MapReduce LM passes — the
    * documented price of the two-model rule, linear, no new shape. */
  def corpusRhoSelectOn(docs: DataFrame): DataFrame = {
    val d = withBucket(docs).localCheckpoint(true)
    val main = lmNgramBackoffOn(
      d.where(col("bucket") < RhoHoLo || col("bucket") >= TrainPct),
      col("bucket") < RhoHoLo)
    val ho = lmNgramBackoffOn(
      d.where(col("bucket") >= RhoHoLo), col("bucket") < TrainPct)
    val j = main
      .select(col("doc_id"), col("n_tri"),
        expr("score_micro div n_tri").as("avg_main_micro"))
      .join(ho.select(col("doc_id"),
        expr("score_micro div n_tri").as("avg_ho_micro")), Seq("doc_id"))
      .join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .withColumn("rho_micro", col("avg_ho_micro") - col("avg_main_micro"))
    val w = Window.partitionBy("lang")
      .orderBy(col("rho_micro").desc, col("doc_id").asc)
    j.withColumn("sel_q", ntile(4).over(w))
      .select(col("doc_id"), col("lang"), col("n_tri"),
        col("avg_main_micro"), col("avg_ho_micro"), col("rho_micro"),
        (col("sel_q") === 1).as("selected"))
      .orderBy("doc_id")
  }

  def corpusRhoSelect(s: SparkSession, dir: String): DataFrame =
    corpusRhoSelectOn(Tables.documents(s, dir))

  /** L14e: n-gram count-table pruning curve — the sizing audit a
    * count-based LM runs BEFORE serving (Brants et al. 2007 §3 prune
    * singleton n-grams to fit 2T tokens on 1500 machines; KenLM's
    * --prune and SRILM's gtmin are the same knob): for each count
    * cutoff k ∈ {1, 2, 4, 8}, how many trigram TYPES survive c ≥ k
    * and how much probability MASS (token occurrences) they retain.
    * Zipf makes this the cheapest big lever in the stack — singleton
    * types dominate the table but carry a sliver of the mass — and
    * this relation is the evidence: the classic "drop half the table,
    * keep 95% of the mass" readout, per cutoff, in exact ppm.
    *
    * Shape: ONE count-table build over the standard train split (the
    * same c3 relation the backoff LM shards at scale), then a
    * broadcast 4-row cutoff fanout into a map-side-combinable
    * conditional rollup — the shuffle carries 4 rows of sums, never
    * the vocabulary. Cutoffs are powers of two via shiftleft, no
    * literal-vs-engine drift. */
  def lmCountPruneOn(docs: DataFrame, isTrain: Column): DataFrame = {
    val trainTok = docs.where(isTrain)
      .select(col("doc_id"), Text.toks(col("text")).as("t"))
    val c3 = ngramsOf(trainTok, 3).groupBy("w1", "w2", "w3")
      .agg(count(lit(1)).as("c123"))
    val cuts = docs.sparkSession.range(0, 4)
      .select(expr("shiftleft(CAST(1 AS BIGINT), CAST(id AS INT))")
        .as("cutoff"))
    c3.crossJoin(broadcast(cuts))
      .groupBy("cutoff")
      .agg(count(lit(1)).as("n_types"),
        sum(when(col("c123") >= col("cutoff"), 1L).otherwise(0L))
          .as("n_types_kept"),
        sum(col("c123")).as("mass_total"),
        coalesce(sum(when(col("c123") >= col("cutoff"), col("c123"))),
          lit(0L)).as("mass_kept"))
      .withColumn("types_kept_ppm",
        expr("n_types_kept * 1000000 DIV n_types"))
      .withColumn("mass_kept_ppm",
        expr("mass_kept * 1000000 DIV mass_total"))
      .orderBy("cutoff")
  }

  def lmCountPrune(s: SparkSession, dir: String): DataFrame =
    lmCountPruneOn(withBucket(Tables.documents(s, dir)),
      col("bucket") < TrainPct)

  // ------------------------------------------------- Kneser-Ney (L14c)

  /** Absolute discount D = 0.75 (Chen & Goodman 1998's fixed-discount
    * variant), spelled as an exact double so both engines parse the
    * identical literal (a bare 0.75 is DECIMAL in both dialects). */
  private val DSql = "(CAST(750 AS DOUBLE) / CAST(1000 AS DOUBLE))"

  /** The interpolated-KN score formula over the joined count columns
    * (c123, c12, t12, cc23, m2, t2, cb3, bt) — ONE string evaluated
    * verbatim by BOTH engines (Spark expr and DuckDB SQL), so the
    * IEEE double tree is identical by construction:
    *
    *   P(w3|w1w2) = max(c123−D,0)/c12 + D·N1+(w1w2·)/c12 · P(w3|w2)
    *   P(w3|w2)   = max(N1+(·w2w3)−D,0)/N1+(·w2·)
    *                + D·N1+(w2·)/N1+(·w2·) · P(w3)
    *   P(w3)      = N1+(·w3) / N1+(··)        (continuation unigram)
    *
    * with CASE fallbacks mirroring unseen contexts: unseen (w1,w2)
    * bigram → bigram model; w2 never a trigram middle → continuation
    * unigram (this also guards the rare "bigram exists but only
    * doc-final" divide-by-null). All continuation counts are COUNT(*)
    * over the c3/c2 TYPE tables. */
  private val knP1Sql =
    "(CAST(COALESCE(cb3, 0) AS DOUBLE) / CAST(bt AS DOUBLE))"
  private val knP2Sql =
    s"""((GREATEST(CAST(COALESCE(cc23, 0) AS DOUBLE) - $DSql,
       | CAST(0 AS DOUBLE)) / CAST(m2 AS DOUBLE))
       | + (($DSql * CAST(t2 AS DOUBLE)) / CAST(m2 AS DOUBLE))
       |   * $knP1Sql)""".stripMargin.replace("\n", "")
  private val knP2SafeSql =
    s"(CASE WHEN m2 IS NOT NULL THEN $knP2Sql ELSE $knP1Sql END)"
  private val knScoreSql =
    s"""(CASE WHEN c12 IS NOT NULL THEN
       | ((GREATEST(CAST(COALESCE(c123, 0) AS DOUBLE) - $DSql,
       |  CAST(0 AS DOUBLE)) / CAST(c12 AS DOUBLE))
       |  + (($DSql * CAST(COALESCE(t12, 0) AS DOUBLE))
       |     / CAST(c12 AS DOUBLE)) * $knP2SafeSql)
       | ELSE $knP2SafeSql END)""".stripMargin.replace("\n", "")
  private val knSuSql =
    s"CAST(FLOOR(CAST(1000000.0 AS DOUBLE) * $knScoreSql) AS BIGINT)"
  private val knLvlSql =
    """(CASE WHEN c123 IS NOT NULL THEN 3
      | WHEN cc23 IS NOT NULL THEN 2
      | WHEN cb3 IS NOT NULL THEN 1 ELSE 0 END)"""
      .stripMargin.replace("\n", "")

  /** L14c: interpolated Kneser-Ney trigram scoring of the held-out
    * split — the smoothing that actually ships in count-based LMs
    * (Chen & Goodman 1998; KenLM's default), completing the family
    * beside [[lmNgramBackoffOn]]'s stupid backoff: instead of scaled
    * raw frequencies, lower orders carry CONTINUATION probability
    * (how many distinct contexts a word completes), which is what
    * makes "Francisco" rare outside "San Francisco".
    *
    * All five continuation tables (N1+(w1w2·), N1+(·w2w3), N1+(·w2·),
    * N1+(w2·), N1+(·w3), N1+(··)) are COUNT(*) rollups of the c3/c2
    * TYPE tables — vocabulary-bounded, map-side combinable; the test
    * stream LEFT-joins them exactly like the backoff path, and the
    * per-trigram double formula ([[knScoreSql]], one shared string
    * for both engines) quantizes to micro BEFORE the order-free
    * integer sum. Same scale shape as backoff: shared-scan train
    * tokenization, count relations, broadcast 1-row N1+(··). */
  def lmKneserNeyOn(docs: DataFrame, isTrain: Column): DataFrame = {
    val test = docs.where(!isTrain)
    val trainTok = docs.where(isTrain)
      .select(col("doc_id"), Text.toks(col("text")).as("t"))
      .localCheckpoint(true)
    val c3 = ngramsOf(trainTok, 3).groupBy("w1", "w2", "w3")
      .agg(count(lit(1)).as("c123"))
      .localCheckpoint(true) // feeds the lookup + 3 continuation rollups
    val c2 = ngramsOf(trainTok, 2).groupBy("w1", "w2")
      .agg(count(lit(1)).as("c12"))
      .localCheckpoint(true) // feeds the lookup + 2 rollups + the total
    val t12 = c3.groupBy("w1", "w2").agg(count(lit(1)).as("t12"))
    val cc23 = c3.groupBy("w2", "w3").agg(count(lit(1)).as("cc23"))
    val m2 = c3.groupBy("w2").agg(count(lit(1)).as("m2"))
    val t2 = c2.groupBy("w1").agg(count(lit(1)).as("t2"))
      .select(col("w1").as("w2"), col("t2"))
    val cb3 = c2.groupBy("w2").agg(count(lit(1)).as("cb3"))
      .select(col("w2").as("w3"), col("cb3"))
    val bt = c2.agg(count(lit(1)).as("bt"))
    ngramsOf(test.select(col("doc_id"), Text.toks(col("text")).as("t")), 3)
      .join(c3, Seq("w1", "w2", "w3"), "left")
      .join(c2, Seq("w1", "w2"), "left")
      .join(t12, Seq("w1", "w2"), "left")
      .join(cc23, Seq("w2", "w3"), "left")
      .join(m2, Seq("w2"), "left")
      .join(t2, Seq("w2"), "left")
      .join(cb3, Seq("w3"), "left")
      .crossJoin(broadcast(bt))
      .select(col("doc_id"), expr(knLvlSql).as("lvl"),
        expr(knSuSql).as("su"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tri"),
        sum(when(col("lvl") === 3, 1L).otherwise(0L)).as("n_hit3"),
        sum(when(col("lvl") === 2, 1L).otherwise(0L)).as("n_hit2"),
        sum(when(col("lvl") === 1, 1L).otherwise(0L)).as("n_hit1"),
        sum(col("su")).as("score_micro"))
      .orderBy("doc_id")
  }

  def lmKneserNey(s: SparkSession, dir: String): DataFrame =
    lmKneserNeyOn(withBucket(Tables.documents(s, dir)),
      col("bucket") < TrainPct)

  // ---------------------------------------------------------------- oracle

  /** Shared DuckDB CTE chain ending in `sc(doc_id, lvl, su)` — the
    * per-test-trigram level + micro-score relation both oracles
    * aggregate. Mirrors [[lmNgramBackoffOn]] term for term; the
    * double arithmetic is spelled with explicit DOUBLE casts because
    * a bare `0.4` parses as DECIMAL in DuckDB and would change the
    * rounding. */
  /** Train-count + test-trigram CTEs shared by the backoff and
    * Kneser-Ney oracles: tk, c3 (trigram counts), c2 (bigram counts),
    * tri_te (test trigrams). */
  private val countsCoreSql =
    s"""tk AS (SELECT doc_id, lang, string_split(text,' ') AS t,
       |    ${Text.polySql} % 100 AS b FROM documents),
       |tri_tr AS (SELECT t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
       |  FROM tk, UNNEST(range(1, len(t) - 1)) r(i) WHERE b < $TrainPct),
       |c3 AS (SELECT w1, w2, w3, COUNT(*) AS c123 FROM tri_tr GROUP BY 1, 2, 3),
       |bg_tr AS (SELECT t[i] AS w1, t[i+1] AS w2
       |  FROM tk, UNNEST(range(1, len(t))) r(i) WHERE b < $TrainPct),
       |c2 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg_tr GROUP BY 1, 2),
       |tri_te AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
       |  FROM tk, UNNEST(range(1, len(t) - 1)) r(i) WHERE b >= $TrainPct)"""
      .stripMargin

  private val scoreCoreSql =
    s"""$countsCoreSql,
       |c1 AS (SELECT t[i] AS w, COUNT(*) AS cw
       |  FROM tk, UNNEST(range(1, len(t) + 1)) r(i) WHERE b < $TrainPct GROUP BY 1),
       |nn AS (SELECT CAST(SUM(cw) AS BIGINT) AS n FROM c1),
       |sc AS (SELECT doc_id,
       |    CASE WHEN g3.c123 IS NOT NULL THEN 3
       |         WHEN p23.c12 IS NOT NULL THEN 2
       |         WHEN u3.cw IS NOT NULL THEN 1 ELSE 0 END AS lvl,
       |    CAST(floor(CAST(1000000.0 AS DOUBLE) *
       |      CASE WHEN g3.c123 IS NOT NULL THEN g3.c123 / g12.c12
       |           WHEN p23.c12 IS NOT NULL THEN CAST($Alpha AS DOUBLE) * p23.c12 / u2.cw
       |           WHEN u3.cw IS NOT NULL THEN CAST(${Alpha * Alpha} AS DOUBLE) * u3.cw / nn.n
       |           ELSE CAST(0.0 AS DOUBLE) END) AS BIGINT) AS su
       |  FROM tri_te
       |  LEFT JOIN c3 g3 ON tri_te.w1 = g3.w1 AND tri_te.w2 = g3.w2 AND tri_te.w3 = g3.w3
       |  LEFT JOIN c2 g12 ON tri_te.w1 = g12.w1 AND tri_te.w2 = g12.w2
       |  LEFT JOIN c2 p23 ON tri_te.w2 = p23.w1 AND tri_te.w3 = p23.w2
       |  LEFT JOIN c1 u2 ON tri_te.w2 = u2.w
       |  LEFT JOIN c1 u3 ON tri_te.w3 = u3.w
       |  CROSS JOIN nn)""".stripMargin

  /** Parameterized DuckDB replay of one [[lmNgramBackoffOn]] scoring
    * — count tables over `trainPred` rows of `tk`, every `tri_te`
    * trigram scored — ending in `d$sfx(doc_id, n_tri, sm)`. Two
    * instantiations side by side give the corpus_rho_select oracle
    * its two models. */
  private def backoffPerDocSqlFor(sfx: String, trainPred: String): String =
    s"""tri_tr$sfx AS (SELECT t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
       |  FROM tk, UNNEST(range(1, len(t) - 1)) r(i) WHERE $trainPred),
       |c3$sfx AS (SELECT w1, w2, w3, COUNT(*) AS c123
       |  FROM tri_tr$sfx GROUP BY 1, 2, 3),
       |bg_tr$sfx AS (SELECT t[i] AS w1, t[i+1] AS w2
       |  FROM tk, UNNEST(range(1, len(t))) r(i) WHERE $trainPred),
       |c2$sfx AS (SELECT w1, w2, COUNT(*) AS c12
       |  FROM bg_tr$sfx GROUP BY 1, 2),
       |c1$sfx AS (SELECT t[i] AS w, COUNT(*) AS cw
       |  FROM tk, UNNEST(range(1, len(t) + 1)) r(i)
       |  WHERE $trainPred GROUP BY 1),
       |nn$sfx AS (SELECT CAST(SUM(cw) AS BIGINT) AS n FROM c1$sfx),
       |sc$sfx AS (SELECT doc_id,
       |    CAST(floor(CAST(1000000.0 AS DOUBLE) *
       |      CASE WHEN g3.c123 IS NOT NULL THEN g3.c123 / g12.c12
       |           WHEN p23.c12 IS NOT NULL THEN CAST($Alpha AS DOUBLE) * p23.c12 / u2.cw
       |           WHEN u3.cw IS NOT NULL THEN CAST(${Alpha * Alpha} AS DOUBLE) * u3.cw / nn$sfx.n
       |           ELSE CAST(0.0 AS DOUBLE) END) AS BIGINT) AS su
       |  FROM tri_te
       |  LEFT JOIN c3$sfx g3 ON tri_te.w1 = g3.w1 AND tri_te.w2 = g3.w2 AND tri_te.w3 = g3.w3
       |  LEFT JOIN c2$sfx g12 ON tri_te.w1 = g12.w1 AND tri_te.w2 = g12.w2
       |  LEFT JOIN c2$sfx p23 ON tri_te.w2 = p23.w1 AND tri_te.w3 = p23.w2
       |  LEFT JOIN c1$sfx u2 ON tri_te.w2 = u2.w
       |  LEFT JOIN c1$sfx u3 ON tri_te.w3 = u3.w
       |  CROSS JOIN nn$sfx),
       |d$sfx AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri,
       |    CAST(SUM(su) AS BIGINT) AS sm FROM sc$sfx GROUP BY doc_id)"""
      .stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lm_ngram_backoff" -> lmNgramBackoff,
    "lm_jelinek_mercer" -> lmJelinekMercer,
    "lm_perplexity_filter" -> lmPerplexityFilter,
    "lm_kneser_ney" -> lmKneserNey,
    "lm_count_prune" -> lmCountPrune,
    "corpus_rho_select" -> corpusRhoSelect,
  )

  val oracles: Map[String, String] = Map(
    // Mirrors lmCountPruneOn: same train split and trigram count
    // table (countsCoreSql's c3), power-of-two cutoffs via <<.
    "lm_count_prune" ->
      s"""WITH $countsCoreSql,
         |cu AS (SELECT CAST(1 AS BIGINT) << CAST(i AS INT) AS cutoff
         |  FROM range(0, 4) r(i))
         |SELECT cutoff, CAST(COUNT(*) AS BIGINT) AS n_types,
         |  CAST(SUM(CASE WHEN c123 >= cutoff THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_types_kept,
         |  CAST(SUM(c123) AS BIGINT) AS mass_total,
         |  CAST(COALESCE(SUM(CASE WHEN c123 >= cutoff THEN c123 END), 0)
         |    AS BIGINT) AS mass_kept,
         |  CAST(SUM(CASE WHEN c123 >= cutoff THEN 1 ELSE 0 END)
         |    * 1000000 // COUNT(*) AS BIGINT) AS types_kept_ppm,
         |  CAST(COALESCE(SUM(CASE WHEN c123 >= cutoff THEN c123 END), 0)
         |    * 1000000 // SUM(c123) AS BIGINT) AS mass_kept_ppm
         |FROM c3 CROSS JOIN cu GROUP BY cutoff ORDER BY cutoff""".stripMargin,
    // JM: the same count tables + 5-way join as the backoff scorer,
    // scored by the SAME jmSuSql string the engine evaluates.
    "lm_jelinek_mercer" ->
      s"""WITH $countsCoreSql,
         |c1 AS (SELECT t[i] AS w, COUNT(*) AS cw
         |  FROM tk, UNNEST(range(1, len(t) + 1)) r(i) WHERE b < $TrainPct GROUP BY 1),
         |nn AS (SELECT CAST(SUM(cw) AS BIGINT) AS n FROM c1),
         |scj AS (SELECT doc_id, g3.c123 AS c123, g12.c12 AS c12,
         |    p23.c12 AS c23, u2.cw AS cw2, u3.cw AS cw3, nn.n AS n
         |  FROM tri_te
         |  LEFT JOIN c3 g3 ON tri_te.w1 = g3.w1 AND tri_te.w2 = g3.w2 AND tri_te.w3 = g3.w3
         |  LEFT JOIN c2 g12 ON tri_te.w1 = g12.w1 AND tri_te.w2 = g12.w2
         |  LEFT JOIN c2 p23 ON tri_te.w2 = p23.w1 AND tri_te.w3 = p23.w2
         |  LEFT JOIN c1 u2 ON tri_te.w2 = u2.w
         |  LEFT JOIN c1 u3 ON tri_te.w3 = u3.w
         |  CROSS JOIN nn),
         |sc AS (SELECT doc_id, c123, c23, cw3, $jmSuSql AS su FROM scj)
         |SELECT doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_tri,
         |  CAST(SUM(CASE WHEN c123 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_ctx3,
         |  CAST(SUM(CASE WHEN c23 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_ctx2,
         |  CAST(SUM(CASE WHEN cw3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_ctx1,
         |  CAST(SUM(su) AS BIGINT) AS score_micro
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "lm_ngram_backoff" ->
      s"""WITH $scoreCoreSql
         |SELECT doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_tri,
         |  CAST(SUM(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit3,
         |  CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit2,
         |  CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit1,
         |  CAST(SUM(su) AS BIGINT) AS score_micro
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "lm_perplexity_filter" ->
      s"""WITH $scoreCoreSql,
         |d AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri,
         |    CAST(SUM(su) AS BIGINT) AS sm FROM sc GROUP BY doc_id),
         |av AS (SELECT d.doc_id, tk.lang, d.n_tri, d.sm // d.n_tri AS avg_micro
         |  FROM d JOIN tk ON d.doc_id = tk.doc_id),
         |nt AS (SELECT lang, n_tri, avg_micro,
         |    NTILE(3) OVER (PARTITION BY lang
         |      ORDER BY avg_micro DESC, doc_id ASC) AS bin FROM av)
         |SELECT lang,
         |  CASE WHEN bin = 1 THEN 'head' WHEN bin = 2 THEN 'middle'
         |       ELSE 'tail' END AS quality_bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tri) AS BIGINT) AS n_trigrams,
         |  CAST(MIN(avg_micro) AS BIGINT) AS min_avg_micro,
         |  CAST(MAX(avg_micro) AS BIGINT) AS max_avg_micro
         |FROM nt GROUP BY 1, 2 ORDER BY lang, quality_bucket""".stripMargin,
    // continuation tables are COUNT(*) rollups of the c3/c2 TYPE
    // tables; the score formula is the SAME string the Spark side
    // evaluates (knScoreSql), so the double trees are identical.
    "lm_kneser_ney" ->
      s"""WITH $countsCoreSql,
         |t12r AS (SELECT w1, w2, COUNT(*) AS t12 FROM c3 GROUP BY 1, 2),
         |cc23r AS (SELECT w2, w3, COUNT(*) AS cc23 FROM c3 GROUP BY 1, 2),
         |m2r AS (SELECT w2, COUNT(*) AS m2 FROM c3 GROUP BY 1),
         |t2r AS (SELECT w1 AS w2, COUNT(*) AS t2 FROM c2 GROUP BY 1),
         |cb3r AS (SELECT w2 AS w3, COUNT(*) AS cb3 FROM c2 GROUP BY 1),
         |btr AS (SELECT COUNT(*) AS bt FROM c2),
         |sck AS (SELECT doc_id, $knLvlSql AS lvl, $knSuSql AS su
         |  FROM tri_te
         |  LEFT JOIN c3 USING (w1, w2, w3)
         |  LEFT JOIN c2 USING (w1, w2)
         |  LEFT JOIN t12r USING (w1, w2)
         |  LEFT JOIN cc23r USING (w2, w3)
         |  LEFT JOIN m2r USING (w2)
         |  LEFT JOIN t2r USING (w2)
         |  LEFT JOIN cb3r USING (w3)
         |  CROSS JOIN btr)
         |SELECT doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_tri,
         |  CAST(SUM(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit3,
         |  CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit2,
         |  CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit1,
         |  CAST(SUM(su) AS BIGINT) AS score_micro
         |FROM sck GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Two backoff replays (main on [0,70), holdout on [70,80)) over
    // the shared candidate trigram stream, then the per-lang quartile.
    "corpus_rho_select" ->
      s"""WITH tk AS (SELECT doc_id, lang, string_split(text,' ') AS t,
         |    ${Text.polySql} % 100 AS b FROM documents),
         |tri_te AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
         |  FROM tk, UNNEST(range(1, len(t) - 1)) r(i)
         |  WHERE b >= $TrainPct),
         |${backoffPerDocSqlFor("m", s"b < $RhoHoLo")},
         |${backoffPerDocSqlFor("h", s"b >= $RhoHoLo AND b < $TrainPct")},
         |av AS (SELECT dm.doc_id, tk.lang, dm.n_tri,
         |    CAST(dm.sm // dm.n_tri AS BIGINT) AS avg_main_micro,
         |    CAST(dh.sm // dh.n_tri AS BIGINT) AS avg_ho_micro,
         |    CAST(dh.sm // dh.n_tri - dm.sm // dm.n_tri AS BIGINT)
         |      AS rho_micro
         |  FROM dm JOIN dh USING (doc_id)
         |  JOIN tk ON tk.doc_id = dm.doc_id),
         |sel AS (SELECT *, NTILE(4) OVER (PARTITION BY lang
         |    ORDER BY rho_micro DESC, doc_id ASC) AS q FROM av)
         |SELECT doc_id, lang, n_tri, avg_main_micro, avg_ho_micro,
         |  rho_micro, q = 1 AS selected
         |FROM sel ORDER BY doc_id""".stripMargin,
  )
}
