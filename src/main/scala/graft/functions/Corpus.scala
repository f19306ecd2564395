package graft.functions

import graft.{Guards, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-assembly operators for training-data pipelines —
  * SURVEY.md §2.11 (L-family extension): the steps between a cleaned
  * document set and a training run — packing documents into fixed
  * token budgets, rebalancing language mixes, reproducible stratified
  * sampling, and a one-pass data profile.
  *
  * Determinism discipline matches functions.Text: integer arithmetic
  * only (token counts, polynomial hashes, integer division), so the
  * DuckDB oracle reproduces every value bit-exactly.
  */
object Corpus {

  /** Tokens-per-pack budget for [[textPackSequencesOn]]. Small enough
    * that the 500-doc test corpus produces many packs per language. */
  val PackBudget = 512L

  /** L6: sequence packing — the concatenate-and-fill step of LLM
    * pretraining: documents are laid out in a deterministic order and
    * cut into fixed token budgets; each document is assigned to the
    * pack where it starts. Packing is PER LANGUAGE (a pack never mixes
    * languages), which is also what makes it scale: the running token
    * count is a window per lang partition, not a global order — at
    * 100 TB each language shard packs independently in parallel
    * (shard further by split/source for more parallelism; the shape
    * is unchanged). Integer-only: `div` keeps the pack id exact where
    * a double floor would lose precision past 2^53 cumulative tokens.
    */
  def textPackSequencesOn(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("pack_id",
        expr(s"(cum_tokens - n_tokens) div $PackBudget"))
      .withColumn("offset_in_pack",
        col("cum_tokens") - col("n_tokens") - col("pack_id") * PackBudget)
  }

  def textPackSequences(s: SparkSession, dir: String): DataFrame =
    textPackSequencesOn(Tables.documents(s, dir)).orderBy("lang", "doc_id")

  /** Per-language keep-rate (percent) for [[sampleStratifiedOn]]:
    * downsample the over-represented language (en is ~44% of the
    * corpus), keep the rest — the mixture-rebalancing sample every
    * multi-lingual training mix applies. */
  val StratRates: Map[String, Int] =
    Map("en" -> 25, "zh" -> 50).withDefaultValue(100)

  /** L7: stratified deterministic sampling — per-stratum rates applied
    * via content hash, never rand(): re-runs, retries, and
    * late-arriving shards must select the SAME rows (the property that
    * makes the sample reproducible across a 1000-executor cluster and
    * across engine versions). Map-only — no shuffle, scales linearly.
    */
  def sampleStratifiedOn(docs: DataFrame): DataFrame = {
    val rate = StratRates.foldLeft(lit(100)) { case (acc, (l, r)) =>
      when(col("lang") === l, r).otherwise(acc)
    }
    docs
      .select(col("doc_id"), col("lang"),
        (Text.polyHash(col("text")) % 100).as("bucket"))
      .filter(col("bucket") < rate)
  }

  def sampleStratified(s: SparkSession, dir: String): DataFrame =
    sampleStratifiedOn(Tables.documents(s, dir)).orderBy("doc_id")

  /** L10e: Neyman-allocation stratified sampling (Neyman 1934) — the
    * survey-statistics upgrade over proportional strata: a fixed
    * budget `n` is allocated n_h ∝ N_h·S_h (stratum size × stratum
    * std of the target variable, here n_chars), so high-variance
    * strata get more rows and the estimator variance is minimized.
    * Everything is pinned integer-deterministic: N_h·S_h is the
    * integer sqrt floor(√(N_h·U_h div (N_h−1))) with U_h = N_h·Q_h −
    * S_h² ≥ 0 (inputs < 2^52, so the IEEE sqrt is exact-rounded in
    * both engines before the shared floor); seats assign by
    * largest-remainder (Hamilton) — floor quotas n·w_h div W, the
    * leftover seats to the largest remainders n·w_h mod W (ties to
    * lang asc); the per-stratum draw is the bottom-n_h by the
    * content-hash priority (the [[sampleBottomkOn]] determinism
    * recipe, per stratum). Single-member / zero-variance strata get
    * w_h = 0 and can still win seats only through the remainder rank.
    * Shapes: one stats rollup (map-side combined), the allocation is
    * a |strata|-row window, the draw one lang-keyed rank window —
    * strata sample independently in parallel at any scale. */
  def sampleNeymanOn(docs: DataFrame, n: Int = 100): DataFrame = {
    require(n > 0, s"need n > 0, got $n")
    val stats = docs
      .select(col("lang"), col("n_chars"))
      .groupBy("lang").agg(
        count(lit(1)).as("nh"),
        sum(col("n_chars")).cast("decimal(38,0)").as("sh"),
        sum(col("n_chars").cast("decimal(38,0)") * col("n_chars"))
          .cast("decimal(38,0)").as("qh"))
      .select(col("lang"), col("nh"),
        // w = floor(N_h·S_h) via sqrt(N_h·U_h/(N_h−1)) = N_h·S_h;
        // operands < 2^52 so the IEEE divide+sqrt round identically
        // in both engines before the shared floor
        expr("""CASE WHEN nh >= 2 THEN CAST(floor(sqrt(
               |  CAST(nh * (nh * qh - sh * sh) AS DOUBLE) /
               |  CAST(nh - 1 AS DOUBLE))) AS BIGINT) ELSE 0 END"""
          .stripMargin).as("w"))
    val tot = stats.agg(sum(col("w")).as("tw"))
    val alloc = Guards.requireBounded(stats, 10000L,
        "sample_stratified language strata")
      .crossJoin(broadcast(tot)) // 1-row scalar side
      .withColumn("base", expr(s"CASE WHEN tw > 0 THEN $n * w DIV tw ELSE 0 END"))
      .withColumn("rem", expr(s"CASE WHEN tw > 0 THEN $n * w % tw ELSE 0 END"))
      .withColumn("rr", row_number().over(
        Window.partitionBy(Guards.one)
          .orderBy(col("rem").desc, col("lang").asc)))
    val leftover = alloc.agg((lit(n) - sum(col("base"))).as("spare"))
    val seats = alloc.crossJoin(broadcast(leftover))
      .withColumn("n_h",
        col("base") + when(col("rr") <= col("spare"), 1L).otherwise(0L))
      .select(col("lang"), col("nh").as("stratum_size"), col("w").as("nsd"),
        col("n_h"))
    val pri = docs.select(col("doc_id"), col("lang"),
      ((col("doc_id") % Text.P) * 912367L % Text.P + 40503L).%(Text.P)
        .as("pri"))
    val rkw = Window.partitionBy("lang").orderBy("pri", "doc_id")
    pri.withColumn("rk", row_number().over(rkw))
      .join(seats, "lang")
      .filter(col("rk") <= col("n_h"))
      .select("doc_id", "lang", "stratum_size", "nsd", "n_h")
      .orderBy("doc_id")
  }

  def sampleNeyman(s: SparkSession, dir: String): DataFrame =
    sampleNeymanOn(Tables.documents(s, dir))

  /** L8b: UniMax-style language budgeting by water-filling (Chung et
    * al. 2023, "UniMax: Fairer and More Effective Language Sampling"):
    * spend a fixed document budget B as UNIFORMLY as possible across
    * languages — small languages keep everything, large ones cap at a
    * shared water level t = the largest level the budget affords.
    * Closed-form distributed spelling of the sequential fill: sort
    * languages by size ascending (a |langs|-row window), find the
    * FIRST index where N_i exceeds its fair share
    * (B − pre_{i−1}) div (L−i+1) — that share IS the level t — then
    * a_l = min(N_l, t), with the (B − Σa) mod R leftover seats going
    * +1 each to the smallest-lang-name capped languages (every one of
    * which sits at t, so any choice is fair; the rule is pinned).
    * When the budget covers the corpus, nobody caps, every language
    * keeps its full count, and the surplus stays unspent (visible as
    * B − Σ alloc). All integer; the fact scan is
    * one count rollup — everything after runs on the |langs|-row
    * relation. */
  def corpusUnimaxOn(docs: DataFrame, budget: Long = 2000L): DataFrame = {
    require(budget > 0, s"need budget > 0, got $budget")
    val stats = docs.groupBy("lang").agg(count(lit(1)).as("n"))
    // |langs| rows, bounded
    val w = Window.partitionBy(Guards.one).orderBy("n", "lang")
    val lv = Guards.requireBounded(stats, 10000L,
        "corpus_unimax language strata")
      .withColumn("i", row_number().over(w))
      .withColumn("pre",
        sum(col("n")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .crossJoin(broadcast(stats.agg(count(lit(1)).as("nl"))))
      .withColumn("fair",
        expr(s"($budget - (pre - n)) div (nl - i + 1)"))
      .localCheckpoint(true)
    val t = lv.filter(col("n") > col("fair"))
      .orderBy("i").limit(1).select(col("fair").as("t"))
    val alloc = lv.join(broadcast(t), lit(true), "left")
      .withColumn("t", coalesce(col("t"), lit(Long.MaxValue)))
      .withColumn("alloc0", least(col("n"), col("t")))
      .withColumn("capped", col("n") > col("t"))
    val spare = alloc.agg((lit(budget) - sum(col("alloc0"))).as("spare"))
    alloc.crossJoin(broadcast(spare))
      .withColumn("rr", row_number().over(
        Window.partitionBy("capped").orderBy("lang")))
      .withColumn("alloc",
        col("alloc0") + when(col("capped") && col("rr") <= col("spare") &&
          col("spare") > 0, 1L).otherwise(0L))
      .select(col("lang"), col("n").as("n_docs"), col("capped"),
        col("alloc"))
      .orderBy("lang")
  }

  def corpusUnimax(s: SparkSession, dir: String): DataFrame =
    corpusUnimaxOn(Tables.documents(s, dir), 300L)

  /** L10: exact-k reproducible uniform sample — the k documents with
    * the smallest affine-hash priority ((doc_id mod P) * A + B) mod P.
    * P prime and A < P make the priority injective on ids below P, so
    * there are no ties, and keeping the multiplier small bounds the
    * product far inside BIGINT (ANSI-safe on both engines).
    * Rate-based [[sampleStratifiedOn]] yields a size that floats with
    * the corpus; bottom-k yields exactly k rows for "pull 64 docs for
    * eval" jobs, deterministic under re-runs, retries, and
    * repartitioning. Plan: TakeOrderedAndProject — each partition
    * keeps a local k, the driver merges k*partitions candidates; no
    * global sort, no full shuffle (the sort_topk scale shape). */
  def sampleBottomkOn(docs: DataFrame, k: Int = 64): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("source"),
        ((col("doc_id") % Text.P) * 912367L % Text.P + 40503L)
          .%(Text.P).as("pri"))
      // doc_id tiebreak: ids differing by exactly P collide on pri;
      // the sample must not then depend on partition arrival order
      .orderBy("pri", "doc_id").limit(k)

  def sampleBottomk(s: SparkSession, dir: String): DataFrame =
    sampleBottomkOn(Tables.documents(s, dir))

  /** L10d: systematic sampling — every `interval`-th row of a
    * deterministically ordered frame (order key = content hash, so
    * the spread is uniform over content, not insertion order): the
    * evenly-spaced 1/m sample auditors and eval-set builders want,
    * complementing bottom-k (fixed SIZE) and stratified (fixed
    * residue classes) with fixed SPACING. Ranks come from
    * [[graft.operators.Windows.denseIdsOn]] — range partition +
    * per-partition numbering, no single-partition window — so the
    * op is one range exchange at any scale. */
  def sampleSystematicOn(docs: DataFrame, interval: Int = 20): DataFrame = {
    require(interval >= 2, s"need interval >= 2, got $interval")
    val keyed = docs.select(col("doc_id"), Text.polyHash(col("text")).as("h"))
    graft.operators.Windows.denseIdsOn(keyed, Seq("h", "doc_id"))
      .filter((col("dense_id") - 1) % interval === 0)
      .select(col("doc_id"), col("h"), col("dense_id").as("rk"))
      .orderBy("rk")
  }

  def sampleSystematic(s: SparkSession, dir: String): DataFrame =
    sampleSystematicOn(Tables.documents(s, dir))

  /** L10e: deterministic global shuffle → sharded training manifest.
    * Training runs want the corpus in a pseudorandom order that is
    * (a) reproducible per seed (elastic restarts, multi-host data
    * loaders must agree), and (b) addressable as (shard, position)
    * so each loader rank reads only its shards. The permutation key
    * is the seed-mixed affine hash ((doc_id mod P)·A + seed) mod P —
    * injective on ids below P (P prime, A < P), so the order is total
    * with the doc_id tie-break only guarding the ids-P-apart collision
    * class, and a NEW seed yields an unrelated order (epoch reshuffle
    * = seed+1, zero extra state; the [[corpusEpochsOn]] manifest
    * composes upstream). Shard = key mod nShards is uniform because
    * the key is; position = row_number per SHARD — the window shuffles
    * on the shard key and never collapses to one partition, so the
    * whole op is one hash exchange at any scale (the global
    * permutation is never materialized as a global sort). */
  def corpusShuffleOn(docs: DataFrame, nShards: Int = 8,
      seed: Long = 40503L): DataFrame = {
    require(nShards >= 1, s"need nShards >= 1, got $nShards")
    val w = Window.partitionBy("shard").orderBy("hk", "doc_id")
    docs
      .select(col("doc_id"), col("lang"),
        ((col("doc_id") % Text.P) * 912367L % Text.P + seed)
          .%(Text.P).as("hk"))
      .withColumn("shard", col("hk") % nShards)
      .withColumn("pos", row_number().over(w))
      .orderBy("doc_id")
  }

  def corpusShuffle(s: SparkSession, dir: String): DataFrame =
    corpusShuffleOn(Tables.documents(s, dir))

  /** L10b: weight-biased exact-k sample — [[sampleBottomkOn]]'s
    * affine-hash priority DIVIDED by the row's weight (n_chars), so
    * heavier documents race with proportionally smaller keys and the
    * bottom-k favors them; the "sample longer / higher-quality docs
    * preferentially" job. Deterministic and integer-exact like every
    * sampler here (u stays under P = 1e9+7, u * 1024 far inside
    * BIGINT; never rand()): the bias is monotone in weight and
    * rerun/repartition-stable — when exact proportional-odds sampling
    * is required, the float A-ExpJ key (-ln u / w) is the textbook
    * swap, at the cost of float determinism. Same
    * TakeOrderedAndProject shape: local k per partition, driver
    * merges, no global sort. */
  def sampleWeightedOn(docs: DataFrame, k: Int = 64): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("source"),
        col("n_chars"),
        expr(s"((doc_id % ${Text.P}) * 912367 % ${Text.P} + 40503)" +
          s" % ${Text.P} * 1024 div greatest(n_chars, 1)").as("pri"))
      .orderBy("pri", "doc_id").limit(k)

  def sampleWeighted(s: SparkSession, dir: String): DataFrame =
    sampleWeightedOn(Tables.documents(s, dir))

  /** Integer inverse-weights for [[corpusMixOn]]: a language with
    * inverse-weight k contributes every k-th slot of the interleaved
    * order — en is spread 4x thinner than the rest (mirrors
    * temperature-style mixture flattening). */
  val MixInvWeight: Map[String, Int] = Map("en" -> 4).withDefaultValue(1)

  /** L8: corpus mixture interleave — a deterministic epoch order that
    * interleaves languages at fixed ratios: each doc gets a per-lang
    * sequence number rn and a global position pos = rn * inv_weight;
    * reading in (pos, lang, doc_id) order yields the mixed stream.
    * Deliberately emits the position rather than a global
    * row_number(): the total order is the semantics, and a sort range-
    * partitions across the cluster where a global-order window would
    * single-partition (cf. window_row_number's documented exception).
    * One shuffle for the per-lang window, one range exchange for the
    * sort. */
  /** L8b: temperature-scaled language mixing — the mT5/XLM-R
    * allocation: language share ∝ mass^(1/T) with T = 2, upsampling
    * low-resource languages relative to raw proportion without
    * letting any language dominate. (T = 1 is proportional sampling,
    * T → ∞ is uniform; √mass is the field's standard middle.)
    * Determinism discipline: sqrt is the ONE transcendental and
    * IEEE-754 requires it correctly rounded, so both engines agree
    * bit-for-bit; the weight quantizes to BIGINT ppm immediately
    * (floor(√n × 10^6)) and everything after — the weight total, the
    * ppm share, the target doc count — is exact integer division.
    * Shape: one lang-keyed count (map-side combined), a 1-row total
    * broadcast back; the relation is language-bounded, irrelevant at
    * any data scale. Consuming the allocation is [[corpusMixOn]]'s
    * interleave with these targets as the weights. */
  def corpusTemperatureOn(docs: DataFrame): DataFrame = {
    val q = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("wq",
        floor(sqrt(col("n_docs").cast("double")) * 1000000).cast("long"))
    val tot = q.agg(sum(col("wq")).as("wsum"),
      sum(col("n_docs")).as("n_total"))
    q.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("wq"),
        expr("wq * 1000000 div wsum").as("share_ppm"),
        expr("(wq * 1000000 div wsum) * n_total div 1000000")
          .as("target_docs"))
      .orderBy("lang")
  }

  def corpusTemperature(s: SparkSession, dir: String): DataFrame =
    corpusTemperatureOn(Tables.documents(s, dir))

  /** Per-language entropy term for [[corpusTemperatureSweepOn]] —
    * one string evaluated verbatim by both engines (shared-literal
    * rule; ln correctly rounded, one round(10⁹) boundary). */
  private val tempHNanoSql: String =
    "CAST(round(CASE WHEN share_ppm > 0 THEN " +
      "-(share_ppm / 1000000.0) * ln(share_ppm / 1000000.0) " +
      "ELSE 0.0 END * 1000000000, 0) AS BIGINT)"

  /** L8i: temperature SWEEP — the mixture-design table behind picking
    * τ (Arivazhagan et al. 2019 §4's temperature-based sampling;
    * XLM/mT5 ship τ≈0.3–0.7): per τ ∈ {¼, ½, ¾, 1} the
    * exponentiated-share allocation p_l ∝ n_l^τ and the mixture's
    * Shannon entropy (in nano-nats, per-language terms quantized
    * BEFORE the order-free sum) — read the τ row whose entropy hits
    * the diversity target instead of guessing. τ=1 is the
    * natural-proportion baseline; lower τ flattens toward uniform.
    *
    * Determinism without pow(): every tier is spelled from sqrt only
    * — n^¼ = √√n, n^¾ = √n·√√n — each sqrt IEEE-correctly-rounded in
    * both engines and the product an exact double multiply, so no
    * libm-pow 1-ulp drift can flip a floor. Shares clear through
    * DECIMAL; the language relation is vocabulary-bounded, the sweep
    * a constant 4× fanout. */
  def corpusTemperatureSweepOn(docs: DataFrame): DataFrame = {
    val n = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .localCheckpoint(true) // read by all four tiers
    val nd = col("n_docs").cast("double")
    def w(tau: Int): org.apache.spark.sql.Column = tau match {
      case 250  => floor(sqrt(sqrt(nd)) * 1000000).cast("long")
      case 500  => floor(sqrt(nd) * 1000000).cast("long")
      case 750  => floor(sqrt(nd) * sqrt(sqrt(nd)) * 1000000).cast("long")
      case 1000 => col("n_docs") * 1000000L
    }
    Seq(250, 500, 750, 1000).map { tau =>
      val q = n.withColumn("w_micro", w(tau))
      val tot = q.agg(sum(col("w_micro")).as("wsum"))
      val shares = q.crossJoin(broadcast(tot))
        .select(lit(tau.toLong).as("tau_milli"), col("lang"),
          col("n_docs"), col("w_micro"),
          expr("""CAST(CAST(w_micro AS DECIMAL(38,0)) * 1000000
                 | DIV wsum AS BIGINT)""".stripMargin).as("share_ppm"))
        .localCheckpoint(true) // entropy + output
      shares.crossJoin(broadcast(
        shares.agg(sum(expr(tempHNanoSql)).as("h_total_nano"))))
    }.reduce(_ unionByName _).orderBy("tau_milli", "lang")
  }

  def corpusTemperatureSweep(s: SparkSession, dir: String): DataFrame =
    corpusTemperatureSweepOn(Tables.documents(s, dir))

  /** L8d: epoch-repetition planning — turn [[corpusTemperatureOn]]'s
    * per-language TARGET doc counts into a concrete per-document
    * repeat factor (the "how many epochs does each shard see"
    * manifest a training run consumes): every doc of a language
    * repeats target div n times, and the target mod n remainder docs
    * — chosen by the deterministic hash priority, never rand() —
    * carry one extra epoch. Sum of n_repeats per language equals the
    * target EXACTLY (div * n + mod identity), the invariant the spec
    * pins. Scale: the allocation is a language-bounded broadcast;
    * the only row-keyed work is one rank window per language
    * partition (the sample_stratified shuffle shape). */
  def corpusEpochsOn(docs: DataFrame): DataFrame = {
    val alloc = corpusTemperatureOn(docs)
      .select("lang", "n_docs", "target_docs")
    val pr = Window.partitionBy("lang")
      .orderBy(col("prio").asc, col("doc_id").asc)
    docs.select(col("doc_id"), col("lang"),
        ((col("doc_id") * 2654435761L) % 1000000007L).as("prio"))
      .join(broadcast(alloc), "lang")
      .withColumn("rk", row_number().over(pr).cast("long"))
      .select(col("doc_id"), col("lang"),
        (expr("target_docs div n_docs") +
          when(col("rk") <= expr("target_docs % n_docs"), 1L)
            .otherwise(0L)).as("n_repeats"))
  }

  def corpusEpochs(s: SparkSession, dir: String): DataFrame =
    corpusEpochsOn(Tables.documents(s, dir)).orderBy("doc_id")

  /** L13m: DoReMi-style domain reweighting (Xie et al., NeurIPS 2023)
    * — one derandomized multiplicative-weights (Group-DRO) update:
    * per-domain excess loss over the easiest domain drives
    * w_i ∝ ref_i · exp(excess_i), so the sampler upweights domains
    * the proxy model finds HARD, exactly the DoReMi inner step with
    * the bigram LM ([[Text.textLmScoreOn]]) standing in for the proxy.
    *
    * Determinism discipline: per-doc avg log-prob quantizes to
    * NEGATED micro units (non-negative, so integer `div` agrees
    * across engines) BEFORE the domain mean; exp() passes the
    * round(·,9) contract boundary (the quality_logreg sigmoid rule);
    * the normalizer is an integer sum of quantized numerators —
    * no float accumulates across rows anywhere. Shapes: one doc-keyed
    * join, one lang rollup, 1-row min/total broadcasts — the domain
    * relation is vocabulary-of-langs small at any corpus scale. */
  def corpusDoremiOn(docs: DataFrame): DataFrame = {
    val per = Text.textLmScoreOn(docs)
      .select(col("doc_id"),
        expr("CAST(FLOOR(-avg_logprob * 1000000 + 0.5) AS BIGINT)")
          .as("nll_micro"))
    val dom = per.join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("nll_micro")).as("s"))
      .select(col("lang"), col("n_docs"),
        expr("s div n_docs").as("loss_micro")) // non-negative div
      .localCheckpoint(true) // tiny; feeds min/total + the update
    val mn = dom.agg(min(col("loss_micro")).as("mn"),
      sum(col("n_docs")).as("nn"))
    val upd = dom.crossJoin(broadcast(mn))
      .withColumn("excess_micro", col("loss_micro") - col("mn"))
      .withColumn("num", expr(
        "CAST(FLOOR(n_docs * round(exp(CAST(excess_micro AS DOUBLE)" +
          " / 1000000.0), 9) * 1000000 + 0.5) AS BIGINT)"))
    val tot = upd.agg(sum(col("num")).as("tot"))
    upd.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("loss_micro"),
        col("excess_micro"),
        expr("CAST(n_docs * 1000000 div nn AS BIGINT)").as("ref_ppm"),
        expr("CAST(CAST(num AS DECIMAL(38,0)) * 1000000 DIV tot AS BIGINT)")
          .as("w_ppm"))
      .withColumn("delta_ppm", col("w_ppm") - col("ref_ppm"))
      .orderBy("lang")
  }

  def corpusDoremi(s: SparkSession, dir: String): DataFrame =
    corpusDoremiOn(Tables.documents(s, dir))

  def corpusMixOn(docs: DataFrame): DataFrame = {
    val iw = MixInvWeight.foldLeft(lit(1)) { case (acc, (l, k)) =>
      when(col("lang") === l, k).otherwise(acc)
    }
    docs
      .select(col("doc_id"), col("lang"))
      .withColumn("rn",
        row_number().over(Window.partitionBy("lang").orderBy("doc_id"))
          .cast("long"))
      .withColumn("pos", col("rn") * iw.cast("long"))
  }

  def corpusMix(s: SparkSession, dir: String): DataFrame =
    corpusMixOn(Tables.documents(s, dir)).orderBy("pos", "lang", "doc_id")

  /** L9: one-pass column profile — null count, exact distinct count,
    * and min/max per column of the documents table; the data-quality
    * sweep run before a corpus ships. One aggregate over one scan:
    * the multi-column COUNT(DISTINCT) plans as a single Expand
    * (rows x 5) + partial aggs — at 100 TB swap exact distinct for
    * approx_count_distinct to drop the Expand (agg_approx_distinct
    * covers that form); min/max cast AFTER aggregation so numeric
    * columns compare numerically, not lexicographically. */
  def profileStatsOn(docs: DataFrame): DataFrame = {
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val aggs = cols.flatMap { c =>
      Seq(
        (count(lit(1)) - count(col(c))).as(s"${c}__nulls"),
        countDistinct(col(c)).as(s"${c}__distinct"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    val one = docs.agg(aggs.head, aggs.tail: _*)
    // stack takes a FLAT argument list (n, then n x 5 values) — a
    // parenthesized tuple would parse as a struct literal
    val stacked = cols.map(c =>
      s"'$c', ${c}__nulls, ${c}__distinct, ${c}__min, ${c}__max")
      .mkString(", ")
    one.select(expr(
      s"stack(${cols.size}, $stacked) AS (column_name, n_nulls, n_distinct, min_val, max_val)"))
  }

  /** L9c: distribution drift between two corpus slices — the
    * Population Stability Index per fixed-width bin of a numeric
    * column, the monitor a production pipeline runs between snapshots
    * (vendor feed changed? new scrape shifted the length profile?).
    * PSI contribution per bin = (p_a - p_b) * ln(p_a / p_b) with
    * Laplace-smoothed bin probabilities over the UNION of observed
    * bins (a full outer join — a bin present in one slice only is
    * exactly the drift signal, never dropped). Sum of psi_ppm over
    * bins is the headline index (> 0.2e6 = major shift, the industry
    * rule of thumb).
    *
    * Scale: the whole op collapses to two bin-keyed counting
    * aggregates (map-side combined, bin domain bounded by the value
    * range / width) + a bin-keyed outer join of two tiny relations —
    * nothing row-keyed ever shuffles. Determinism: counts and totals
    * are exact integers; the smoothed probabilities are single IEEE
    * divisions, ln is correctly rounded, and the product quantizes to
    * ppm immediately (the one-transcendental boundary convention). */
  def profileDriftOn(a: DataFrame, b: DataFrame, valueCol: String,
      width: Long = 50): DataFrame = {
    def bins(df: DataFrame, cnt: String): DataFrame = df
      .select(expr(s"$valueCol div $width").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as(cnt))
    val ca = bins(a, "ca")
    val cb = bins(b, "cb")
    val joined = ca.join(cb, Seq("bin"), "full_outer")
      .select(col("bin"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val tot = joined.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
      count(lit(1)).as("nbins"))
    joined.crossJoin(broadcast(tot))
      .select(col("bin"), col("ca"), col("cb"),
        expr("CAST(round((CAST(ca + 1 AS DOUBLE) / (na + nbins)" +
          " - CAST(cb + 1 AS DOUBLE) / (nb + nbins))" +
          " * ln((CAST(ca + 1 AS DOUBLE) / (na + nbins))" +
          " / (CAST(cb + 1 AS DOUBLE) / (nb + nbins))) * 1000000, 0)" +
          " AS BIGINT)").as("psi_ppm"))
  }

  /** Catalog wrapper: the src0 slice against the rest of the corpus,
    * binned by document length. */
  def profileDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    profileDriftOn(
      docs.filter(col("source") === "src0"),
      docs.filter(col("source") =!= "src0"), "n_chars")
      .orderBy("bin")
  }

  def profileStats(s: SparkSession, dir: String): DataFrame =
    profileStatsOn(Tables.documents(s, dir)).orderBy("column_name")

  /** L8: benchmark decontamination — flag corpus documents whose
    * 3-gram shingles collide with an evaluation set's shingles above a
    * ratio threshold: the n-gram contamination test every pretraining
    * corpus runs before training (an eval example leaking into the
    * training mix invalidates the benchmark).
    *
    * Inputs are (doc_id, hs) shingle-hash relations
    * ([[Dedup.shingleHashesOf]]). The benchmark is tiny next to the
    * corpus, so its distinct hashes BROADCAST and the corpus side
    * stays an un-shuffled scan feeding one per-doc partial agg; if the
    * benchmark ever outgrows the broadcast ceiling the same plan
    * degrades gracefully to a shuffle equi-join on hs. */
  def decontaminateOn(corpusHs: DataFrame, benchHs: DataFrame,
      threshold: Double = 0.2): DataFrame = {
    // ONE corpus pass: the broadcast left-join marks each shingle,
    // and a single per-doc aggregation counts total + hits together
    // (the sizes-join-hits spelling scanned the corpus shingle
    // relation twice — the round-2 duplicate-subtree lesson)
    val bench = benchHs.select(col("hs")).distinct()
      .withColumn("__hit", lit(1))
    corpusHs
      .join(broadcast(bench), Seq("hs"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        count(col("__hit")).as("n_hits"))
      // 6-decimal half-away rounding in EXACT BIGINT ((a*2e6 + b) div
      // (2b)), one IEEE division by 1e6 — round(a/b, 6) on the double
      // quotient is the ts_gapfill ulp-tie hazard; the threshold then
      // compares identical doubles in both engines
      .withColumn("hit_ratio",
        expr("(n_hits * 2000000 + n_shingles) div (2 * n_shingles)")
          / 1000000.0)
      .withColumn("contaminated", col("hit_ratio") >= threshold)
      .orderBy("doc_id")
  }

  /** Catalog wrapper: docs with doc_id % 40 == 7 stand in for the
    * held-out benchmark; the rest are the training corpus. */
  def textDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val hs = Dedup.shingleHashesOf(Tables.documents(s, dir))
    decontaminateOn(
      hs.filter(col("doc_id") % 40 =!= 7),
      hs.filter(col("doc_id") % 40 === 7))
  }

  /** L8c: DSIR-style importance resampling (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling") — pick
    * the raw-corpus documents whose hashed-bigram distribution looks
    * most like a small target domain. Per feature bucket f, the
    * log-likelihood ratio llr(f) = ln p_target(f) - ln p_raw(f) under
    * Laplace smoothing; a document's importance score is the sum of
    * llr over its bigram OCCURRENCES (multiplicity counts, per the
    * paper's unigram/bigram hash features); the top-N by score are
    * the selected training subset.
    *
    * Scale shape: feature HASHING is the whole trick — both language
    * models collapse to at most `buckets` rows regardless of corpus
    * size, so the model relation broadcasts and scoring is a map-side
    * join + one doc-keyed partial agg. Two corpus passes total (model
    * build, scoring), both map-side combined; the final cut is
    * TakeOrderedAndProject, never a global window. Determinism: the
    * ONE transcendental (ln of the smoothed probability) quantizes to
    * BIGINT millis immediately (tfidf/temperature convention);
    * scores are exact integer sums after that. Docs under two tokens
    * have no bigrams and are unscoreable by construction — they
    * simply never enter the candidate set. */
  def corpusDsirOn(raw: DataFrame, target: DataFrame, buckets: Int = 4096,
      topN: Int = 100): DataFrame = {
    // r13: the bigram hash stream is ONE native kernel call
    // (graft.plans.NgramHashes at n = 2) — the explode(bigramStructs) +
    // concat_ws + poly_hash spelling ran the bigram walk through an
    // interpreted `transform` lambda with a struct and a concatenated
    // string per bigram, which profiled as ~85% of this operator's
    // whole cost (2.6 s of 3.1 s at sf0.1 for 260k bigrams). Values
    // are identical (same rolling hash over w1 ## ' ' ## w2, same
    // <2-token empty guard) — spec-checked in ExpressionsSpec.
    def feats(docs: DataFrame): DataFrame = docs
      .select(col("doc_id"),
        explode(graft.plans.GraftFunctions.ngram_hashes(
          Text.toks(col("text")), 2)).as("h"))
      .select(col("doc_id"), (col("h") % buckets).as("f"))
    // the raw feature stream feeds both the source model and the
    // scoring join: materialize the hashed occurrences once instead of
    // re-running the bigram explode + string hash per consumer (at
    // 100 TB this is the classic persist-vs-rescan call — the hashed
    // stream is 2 BIGINTs/occurrence, far smaller than the text, and
    // MEMORY_AND_DISK-style spill keeps it bounded; rescanning is the
    // fallback when even that is too much state)
    val rawFeats = feats(raw).localCheckpoint(true)
    val tf = feats(target).groupBy("f").agg(count(lit(1)).as("ct"))
    val rf = rawFeats.groupBy("f").agg(count(lit(1)).as("cs"))
    val tTot = tf.agg(sum(col("ct")).as("t_total"))
    val rTot = rf.agg(sum(col("cs")).as("s_total"))
    // bucket-bounded model: raw buckets left-join target counts (a raw
    // feature unseen in the target smooths to count 0), both totals
    // cross the plan as broadcast scalars
    val model = rf.join(tf, Seq("f"), "left")
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(rTot))
      .select(col("f"), (
        expr(s"CAST(round(ln(CAST(coalesce(ct, 0) + 1 AS DOUBLE)" +
          s" / (t_total + $buckets)) * 1000, 0) AS BIGINT)") -
        expr(s"CAST(round(ln(CAST(cs + 1 AS DOUBLE)" +
          s" / (s_total + $buckets)) * 1000, 0) AS BIGINT)")).as("llr"))
    rawFeats.join(broadcast(model), "f")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("llr")).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(topN)
  }

  /** Catalog wrapper: the textDecontaminate held-out slice
    * (doc_id % 40 == 7) stands in for the target domain; the rest is
    * the raw pool being selected from. */
  def corpusDsir(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    corpusDsirOn(
      docs.filter(col("doc_id") % 40 =!= 7),
      docs.filter(col("doc_id") % 40 === 7))
  }

  /** L9b: declarative constraint validation (the Deequ/expectations
    * shape): every constraint is a counting aggregate over ONE scan —
    * null rate, key uniqueness, numeric range, categorical domain,
    * format prefix, date range — emitted long-form as
    * (constraint_name, n_rows, n_violations, passed). All
    * map-side-combinable except the exact COUNT(DISTINCT) uniqueness
    * probe; at 100 TB swap that one for approx_count_distinct (the
    * trade agg_approx_distinct demonstrates) and the whole audit is a
    * single partial+final agg with no Expand. Null-safe: a NULL never
    * silently passes a predicate constraint (explicit IS NULL arms).
    */
  def qualityAuditOn(orders: DataFrame): DataFrame = {
    val n = count(lit(1))
    val one = orders.agg(
      n.as("n_rows"),
      (n - count(col("o_orderkey"))).as("v_orderkey_not_null"),
      (n - countDistinct(col("o_orderkey"))).as("v_orderkey_unique"),
      count(when(col("o_totalprice").isNull || col("o_totalprice") <= 0, 1))
        .as("v_totalprice_positive"),
      count(when(col("o_orderstatus").isNull ||
        !col("o_orderstatus").isin("O", "F", "P"), 1))
        .as("v_status_in_domain"),
      count(when(col("o_orderpriority").isNull ||
        !substring(col("o_orderpriority"), 1, 1)
          .isin("1", "2", "3", "4", "5"), 1))
        .as("v_priority_format"),
      count(when(col("o_orderdate").isNull ||
        year(col("o_orderdate")) < 1992 ||
        year(col("o_orderdate")) > 1998, 1))
        .as("v_orderdate_in_range"))
    val checks = Seq("orderkey_not_null", "orderkey_unique",
      "totalprice_positive", "status_in_domain", "priority_format",
      "orderdate_in_range")
    val stacked = checks.map(c => s"'$c', v_$c").mkString(", ")
    one
      .select(col("n_rows"), expr(
        s"stack(${checks.size}, $stacked) AS (constraint_name, n_violations)"))
      .select(col("constraint_name"), col("n_rows"), col("n_violations"),
        (col("n_violations") === 0).as("passed"))
      .orderBy("constraint_name")
  }

  def qualityAudit(s: SparkSession, dir: String): DataFrame =
    qualityAuditOn(Tables.orders(s, dir))

  /** L7b: per-domain document cap (the CommonCrawl-style guard against
    * a handful of domains dominating the corpus): keep at most `cap`
    * docs per source, chosen by content-hash rank — deterministic
    * across re-runs and engine versions, like [[sampleStratifiedOn]],
    * never rand(). One row_number window keyed on source; domains
    * sample independently in parallel. A mega-domain skewing its
    * partition at 100 TB pre-filters in two phases: per (source,
    * hash-bucket) local top-`cap`, then the global window over the
    * <= buckets x cap survivors — same result, bounded partitions. */
  def sampleDomainCapOn(docs: DataFrame, cap: Int = 10): DataFrame = {
    require(cap > 0, s"need cap > 0, got $cap")
    val w = Window.partitionBy("source")
      .orderBy(col("hk"), col("doc_id"))
    docs
      .select(col("doc_id"), col("source"),
        Text.polyHash(col("text")).as("hk"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= cap)
      .select("doc_id", "source", "rk")
      .orderBy("source", "rk")
  }

  def sampleDomainCap(s: SparkSession, dir: String): DataFrame =
    sampleDomainCapOn(Tables.documents(s, dir))

  /** L7c: nucleus-style coverage cap — per language, keep the
    * most voluminous sources whose cumulative character mass stays
    * under 90% of that language's total (each language always keeps
    * its largest source): the "top-p" analogue of
    * [[sampleDomainCapOn]]'s fixed per-domain cap, trimming the
    * long tail of minor sources while preserving bulk coverage. Two
    * shuffles total: one (lang, source) aggregation, then lang-keyed
    * windows (rank + running sum) over the source-level relation —
    * corpus-size-independent row counts after the first aggregate.
    * Decisions are exact integer arithmetic ((cum - own) * 10 <
    * 9 * total), never a float boundary. */
  def corpusCoverageCapOn(docs: DataFrame): DataFrame = {
    val src = docs.groupBy("lang", "source")
      .agg(sum(col("n_chars").cast("long")).as("src_chars"))
    val wRank = Window.partitionBy("lang")
      .orderBy(col("src_chars").desc, col("source").asc)
    val wAll = Window.partitionBy("lang")
    src
      .withColumn("total_chars", sum(col("src_chars")).over(wAll))
      .withColumn("cum_chars", sum(col("src_chars")).over(
        wRank.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter((col("cum_chars") - col("src_chars")) * 10 <
        col("total_chars") * 9)
      .select(col("lang"), col("source"), col("src_chars"),
        col("cum_chars"), col("total_chars"))
      .orderBy("lang", "cum_chars", "source")
  }

  def corpusCoverageCap(s: SparkSession, dir: String): DataFrame =
    corpusCoverageCapOn(Tables.documents(s, dir))

  /** L8b: curriculum quality binning — per-language quartiles of a
    * quality signal (here n_chars, the same proxy
    * [[sampleWeightedOn]] biases by), with per-bin mass stats: the
    * bucketing step of curriculum schedules ("train on the top
    * quartile first") and of quality-stratified mixes. NTILE runs in
    * a per-language window — languages bin independently in
    * parallel, so the sort is per-shard, never global. When even a
    * per-language sort is too big (one language dominating 100 TB),
    * the implemented swap is boundary-based bucketing via the
    * GK-sketch percentile mode that
    * [[graft.functions.Text.qualityFilterRelativeOn]] (approxAccuracy)
    * already ships: compute 3 boundaries, bucket map-side. Exact
    * NTILE is kept here because it is the oracle-replayable form. */
  def corpusQualityBinsOn(docs: DataFrame, bins: Int = 4): DataFrame = {
    require(bins >= 2, s"need bins >= 2, got $bins")
    val w = Window.partitionBy("lang")
      .orderBy(col("n_chars").asc, col("doc_id").asc)
    docs.select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("bin", ntile(bins).over(w))
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
      .orderBy("lang", "bin")
  }

  def corpusQualityBins(s: SparkSession, dir: String): DataFrame =
    corpusQualityBinsOn(Tables.documents(s, dir))

  /** L20: key-skew profiler — the pre-shuffle diagnostic a 100 TB
    * join plan starts from: per-key frequencies of a prospective
    * join/partition key, the top-k heaviest keys with their integer
    * ppm share of the table. This is what decides between a plain
    * shuffle join, salting ([[graft.operators.Joins.joinSalted]]),
    * and AQE skew splitting. Shape: one map-side-combined hash agg
    * over the key space, then `orderBy.limit(k)` which Spark plans as
    * TakeOrderedAndProject (per-partition top-k + driver merge of
    * k-row heads — never a global sort). The only window runs over
    * the k survivors, and the grand total crosses as a broadcast
    * 1-row relation — nothing driver-side, nothing key-space-sized
    * past the first agg. share_ppm is integer `div` (never a float
    * ratio) so the oracle replays bit-exactly. */
  def profileSkewOn(df: DataFrame, key: String, topK: Int): DataFrame = {
    require(topK > 0, s"need topK > 0, got $topK")
    val counts = df.groupBy(col(key)).agg(count(lit(1)).as("n_rows"))
    val total = df.agg(count(lit(1)).as("total"))
    // k rows only — the global window is bounded by topK, not by keys
    // (the upstream limit IS the guard; the constant partition key
    // marks the deliberate single partition)
    val w = Window.partitionBy(Guards.one)
      .orderBy(col("n_rows").desc, col(key).asc)
    counts.orderBy(col("n_rows").desc, col(key).asc).limit(topK)
      .crossJoin(broadcast(total))
      .withColumn("rnk", row_number().over(w))
      .select(col("rnk"), col(key), col("n_rows"),
        expr("CAST(n_rows * 1000000 div total AS BIGINT)").as("share_ppm"))
      .orderBy("rnk")
  }

  def profileSkew(s: SparkSession, dir: String): DataFrame =
    profileSkewOn(Tables.events(s, dir), "user_id", 10)

  /** Budget denominator for [[corpusTokenBudget]]: keep the top-N-th
    * of the corpus by tokens (B = total div 5 → a 20% token budget). */
  val BudgetDiv = 5L

  /** L8b: greedy token-budget selection — "fill a 20%-of-corpus token
    * budget with the highest-quality documents first", the curation
    * step that turns a quality score plus a compute budget into a
    * training set (the budget sibling of corpus_quality_bins's
    * reporting). Quality = type-token ratio in milli (distinct
    * whitespace tokens ·1000 div tokens — exact integers), priority
    * order (ttr_milli DESC, doc_id ASC), and a doc is kept iff the
    * running token total up to and including it fits the budget (a
    * PREFIX cut: the first overflowing doc stops the take).
    *
    * The prefix sum is spelled in the scalable two-phase form (the
    * event_concurrency discipline): per-score local running sums
    * (windows partitioned by the bounded ttr_milli domain, ≤ 1001
    * values), plus a cumulative carry-in per score computed on the
    * ≤ 1001-row score histogram — never a corpus-wide single-
    * partition window. The budget itself crosses as a broadcast
    * 1-row total. A pathological corpus where one score bucket
    * dominates re-buckets by (score, doc_id range) with one more
    * offset level — same trick, noted here, not needed at any
    * realistic score granularity. The oracle replays the equivalent
    * single-window prefix rule; equality is prefix-sum
    * associativity. */
  def corpusTokenBudgetOn(docs: DataFrame,
      budgetDiv: Long = BudgetDiv): DataFrame = {
    require(budgetDiv >= 1, s"need budgetDiv >= 1, got $budgetDiv")
    val scored = docs.select(col("doc_id"),
        split(col("text"), " ").as("tk"))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("toks"),
        size(array_distinct(col("tk"))).cast("long").as("dtoks"))
      .select(col("doc_id"), col("toks"),
        expr("dtoks * 1000 div toks").as("ttr_milli"))
      .localCheckpoint(true) // read by the histogram and the take
    val budget = scored.agg(expr(s"sum(toks) div $budgetDiv").as("b"))
    // carry-in per score: total tokens of all STRICTLY better scores
    val wAbove = Window.partitionBy(Guards.one)
      .orderBy(col("ttr_milli").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val hist = Guards.requireBounded(
        scored.groupBy("ttr_milli").agg(sum(col("toks")).as("st")),
        4096L, "corpus_token_budget score histogram")
      .withColumn("above", coalesce(sum(col("st")).over(wAbove), lit(0L)))
      .select("ttr_milli", "above")
    val wIn = Window.partitionBy("ttr_milli")
      .orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored
      .withColumn("cum_in", sum(col("toks")).over(wIn))
      .join(hist, Seq("ttr_milli"))
      .crossJoin(broadcast(budget))
      .filter(col("above") + col("cum_in") <= col("b"))
      .select(col("doc_id"), col("ttr_milli"), col("toks"),
        (col("above") + col("cum_in")).as("cum_toks"))
      .orderBy("doc_id")
  }

  def corpusTokenBudget(s: SparkSession, dir: String): DataFrame =
    corpusTokenBudgetOn(Tables.documents(s, dir))

  /** Phase count for [[corpusCurriculumOn]]'s competence schedule. */
  val CurriculumPhases = 4

  /** L8e: competence-based curriculum assignment (Platanios et al.,
    * NAACL 2019) — order training data easy-to-hard: each document
    * gets an exact difficulty percentile (its CDF rank by token
    * count, short = easy — the paper's sentence-length difficulty),
    * and phase p of a P-phase schedule admits documents whose
    * difficulty is within competence p/P; the emitted phase is the
    * FIRST phase that admits the doc, so phases partition the corpus
    * into difficulty shells a trainer consumes cumulatively.
    *
    * The percentile is the two-phase prefix rank (the
    * corpus_token_budget / event_concurrency discipline): a per-toks
    * local row_number plus a strictly-below carry from the bounded
    * token-count histogram — no corpus-wide window at any scale;
    * ties break by doc_id so the rank is total. All integer:
    * difficulty_milli = rank·1000 DIV n, phase =
    * clamp(ceil(difficulty_milli·P / 1000), 1, P). */
  def corpusCurriculumOn(docs: DataFrame,
      phases: Int = CurriculumPhases): DataFrame = {
    require(phases >= 2 && phases <= 1000,
      s"need phases in [2, 1000], got $phases")
    val scored = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      .localCheckpoint(true) // histogram + the rank join
    val n = scored.agg(count(lit(1)).as("n"))
    val wBelow = Window.partitionBy(Guards.one)
      .orderBy(col("toks").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val hist = Guards.requireBounded(
        scored.groupBy("toks").agg(count(lit(1)).as("ct")),
        1L << 20, "corpus_curriculum length histogram")
      .withColumn("below",
        coalesce(sum(col("ct")).over(wBelow), lit(0L)))
      .select("toks", "below")
    val wIn = Window.partitionBy("toks").orderBy(col("doc_id").asc)
    scored
      .withColumn("rk_in", row_number().over(wIn).cast("long"))
      .join(hist, Seq("toks"))
      .crossJoin(broadcast(n))
      .withColumn("difficulty_milli",
        expr("(below + rk_in) * 1000 DIV n"))
      .withColumn("phase", expr(
        s"""CAST(greatest(1, least(
           |  (difficulty_milli * $phases + 999) DIV 1000,
           |  $phases)) AS INT)""".stripMargin))
      .select("doc_id", "toks", "difficulty_milli", "phase")
      .orderBy("doc_id")
  }

  def corpusCurriculum(s: SparkSession, dir: String): DataFrame =
    corpusCurriculumOn(Tables.documents(s, dir))

  /** L8f: random undersampling to the minority class — the classic
    * imbalance fix (the downsampling half of SMOTE-era practice;
    * He & Garcia 2009 survey): every language keeps exactly
    * min-class-count documents, picked by the deterministic Knuth
    * multiplicative hash rank (rerun-stable, no RNG — the
    * sample_cluster_balanced draw), so the output is a perfectly
    * balanced corpus slice. The minority count crosses as a
    * broadcast 1-row min; the pick is one lang-partitioned window
    * over hash order — each class ranks independently in parallel at
    * any scale. */
  def sampleUndersampleOn(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("lang"))
      .localCheckpoint(true) // class histogram + the ranked pick
    val m = base.groupBy("lang").agg(count(lit(1)).as("c"))
      .agg(min(col("c")).as("m"))
    val w = Window.partitionBy("lang")
      .orderBy(((col("doc_id") * 2654435761L) % Text.P).asc,
        col("doc_id").asc)
    base
      .withColumn("rk", row_number().over(w).cast("long"))
      .crossJoin(broadcast(m))
      .filter(col("rk") <= col("m"))
      .select("doc_id", "lang", "rk")
      .orderBy("doc_id")
  }

  def sampleUndersample(s: SparkSession, dir: String): DataFrame =
    sampleUndersampleOn(Tables.documents(s, dir))

  /** Mask rate for [[corpusSpanCorruptionOn]] in milli (150 = T5's
    * 15% corruption rate). */
  val SpanCorruptMilli = 150L

  /** L8g: span-corruption pair generation (T5, Raffel et al. 2020
    * §3.1.4): the denoising-pretraining sample builder — mask ~15% of
    * tokens, collapse each contiguous masked RUN to one sentinel in
    * the input, and emit the masked content behind matching sentinels
    * as the target:
    *   tokens:  the quick brown fox jumps
    *   masked:      ^^^^^ ^^^^^
    *   input:   the <extra_id_0> fox jumps
    *   target:  <extra_id_0> quick brown
    * The mask coin is the derandomized LCG on (doc_id, position) —
    * both engines replay it bit-for-bit; the position step is 61 mod
    * 1000 (coprime, full-cycle) chosen so masked RUNS actually occur
    * (a step ≥ the mask window would make every span length 1 and
    * the sentinel collapse dead code) — and spans are the classic
    * gaps-and-islands fold: a masked token STARTS a span iff its
    * predecessor position is unmasked, the span ordinal is the
    * running count of starts, and both output strings are one
    * position-ordered aggregation each. Everything is doc-keyed
    * windows over exploded tokens — embarrassingly parallel over
    * documents at any corpus size. */
  def corpusSpanCorruptionOn(docs: DataFrame,
      maskMilli: Long = SpanCorruptMilli): DataFrame = {
    require(maskMilli >= 1 && maskMilli <= 999,
      s"need maskMilli in [1, 999], got $maskMilli")
    val toks = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos").cast("long").as("i"),
        col("col").as("tok"))
      .withColumn("m", expr(
        s"((doc_id * 31 + i * 1061) % 1000 + 1000) % 1000" +
          s" < $maskMilli"))
    val w = Window.partitionBy("doc_id").orderBy("i")
    val spanned = toks
      .withColumn("prev_m",
        coalesce(lag(col("m"), 1).over(w), lit(false)))
      .withColumn("is_start", col("m") && !col("prev_m"))
      .withColumn("span",
        sum(when(col("is_start"), 1L).otherwise(0L)).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          - 1L)
      .localCheckpoint(true) // input + target + counts read it
    val input = spanned
      .select(col("doc_id"), col("i"),
        when(!col("m"), col("tok"))
          .when(col("is_start"),
            concat(lit("<extra_id_"), col("span"), lit(">")))
          .otherwise(lit(null)).as("piece"))
      .filter(col("piece").isNotNull)
      .groupBy("doc_id")
      .agg(array_join(expr("transform(sort_array(collect_list(" +
        "struct(i, piece))), e -> e.piece)"), " ").as("input_text"))
    val target = spanned
      .filter(col("m"))
      .select(col("doc_id"), col("i"),
        when(col("is_start"),
          concat(lit("<extra_id_"), col("span"), lit("> "), col("tok")))
          .otherwise(col("tok")).as("piece"))
      .groupBy("doc_id")
      .agg(array_join(expr("transform(sort_array(collect_list(" +
        "struct(i, piece))), e -> e.piece)"), " ").as("target_text"))
    spanned.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("m").cast("long")).as("n_masked"),
        sum(col("is_start").cast("long")).as("n_spans"))
      .join(input, "doc_id")
      .join(target, Seq("doc_id"), "left")
      .na.fill("", Seq("target_text"))
      .select("doc_id", "n_tokens", "n_masked", "n_spans",
        "input_text", "target_text")
      .orderBy("doc_id")
  }

  def corpusSpanCorruption(s: SparkSession, dir: String): DataFrame =
    corpusSpanCorruptionOn(Tables.documents(s, dir))

  /** L8h: fill-in-the-middle transformation (Bavarian et al. 2022,
    * "Efficient training of language models to fill in the middle"):
    * rearrange each document into PSM order — prefix, suffix, then
    * the middle as the continuation target — so an autoregressive
    * model learns infilling for free. The two cut points are
    * derandomized per-doc hash draws (sorted, so the middle is well-
    * formed and possibly empty); the rearrangement is pure array
    * slicing on the token list with sentinel tokens spliced between
    * segments — entirely map-side, no shuffle but the output order.
    * Emitting cut offsets and token counts beside the text keeps the
    * op auditable (rate/length distributions) without re-parsing. */
  def corpusFimPairsOn(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .withColumn("n", size(col("t")).cast("long"))
      .withColumn("h1", expr("(doc_id * 2654435761) % n"))
      .withColumn("h2", expr("(doc_id * 1103515245 + 12345) % n"))
      .withColumn("c1", least(col("h1"), col("h2")))
      .withColumn("c2", greatest(col("h1"), col("h2")))
      .select(col("doc_id"), col("n").as("n_tokens"), col("c1"),
        col("c2"),
        (col("c2") - col("c1")).as("n_middle"),
        expr("""array_join(concat(
               |  array('<PRE>'), slice(t, 1, CAST(c1 AS INT)),
               |  array('<SUF>'), slice(t, CAST(c2 AS INT) + 1,
               |    CAST(n - c2 AS INT)),
               |  array('<MID>'), slice(t, CAST(c1 AS INT) + 1,
               |    CAST(c2 - c1 AS INT))), ' ')""".stripMargin)
          .as("fim_text"))
      .orderBy("doc_id")

  def corpusFimPairs(s: SparkSession, dir: String): DataFrame =
    corpusFimPairsOn(Tables.documents(s, dir))

  /** Token-stream shard budget for [[corpusPipelineFull]] — the
    * mm_pack_shards convention (contiguous stream packing, documents
    * spanning shard boundaries), so shards-per-language is the exact
    * ceiling division of the language's final token mass. */
  val PipelineShardBudget = 4096L

  /** L8z capstone: the END-TO-END curation pipeline a training-data
    * prep job actually ships, chained as ONE lazy plan over the
    * memoized relations the individual catalog stages already share
    * (the round-8 verdict's ask #6; [[Text.corpusCleanOn]] covers
    * only the first rung):
    *
    *   1. clean — PII-mask, quality-rule filter, normalized exact
    *      dedup ([[Text.corpusCleanOn]]: map-only + one groupBy);
    *   2. near dedup — MinHash LSH clusters from the memoized
    *      shingle relation ([[Clusters.dedupClusters]] =
    *      shingle -> minhash -> band -> verify -> CC); the keeper is
    *      the min SURVIVING member of each cluster, so a cluster
    *      whose canonical doc failed stage 1 still keeps exactly one
    *      representative;
    *   3. trained quality filter — the memoized 8-step logreg scored
    *      relation ([[Text.qualityLogreg]]), keep pred = 1;
    *   4. mixing — temperature-T=2 allocation over the FINAL
    *      per-language masses ([[corpusTemperatureOn]]'s exact
    *      integer recipe: wq = floor(sqrt(n)·10⁶), ppm shares,
    *      target doc counts);
    *   5. packing — shards per language as the exact ceiling
    *      division of final token mass by [[PipelineShardBudget]]
    *      (stream packing — no per-doc window needed for the count).
    *
    * Output: one funnel row per language — raw/clean/near-deduped/
    * final doc counts (monotone decreasing by construction), final
    * token mass, temperature share + target, shard count. The funnel
    * is THE dashboard a curation run reports.
    *
    * Scale: stages 1-3 are joins keyed on doc_id riding their own
    * scale-safe plans (LSH banding, O(log n) CC, constant-step
    * full-batch training); the funnel is one lang-keyed rollup
    * (map-side combined, language-bounded output); the allocation is
    * a 1-row broadcast over that bounded relation. Catalog-sibling
    * reuse: in a long-lived session the shingle relation and the
    * trained scorer are each built ONCE across dedup_*, quality_*,
    * and this capstone (the TrieMap memo discipline). */
  def corpusPipelineFull(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // stage 1: survivors of mask -> rules -> exact dedup
    val clean = Text.corpusCleanOn(docs)
      .select(col("doc_id"), col("n_tokens"))
      .localCheckpoint(true) // read by cs and the funnel
    // stage 2: near-dup clusters over the full corpus (memoized
    // shingle chain); keeper = min surviving member per cluster
    val clusters = Clusters.dedupClusters(s, dir)
      .select(col("doc_id"), col("cluster_id"))
    val cs = clean.join(clusters, Seq("doc_id"), "left")
      .localCheckpoint(true) // read by keepers and the near filter
    val keepers = cs.filter(col("cluster_id").isNotNull)
      .groupBy("cluster_id").agg(min(col("doc_id")).as("keeper_id"))
    val near = cs.join(keepers, Seq("cluster_id"), "left")
      .filter(col("cluster_id").isNull || col("doc_id") === col("keeper_id"))
      .select(col("doc_id"), col("n_tokens"))
      .localCheckpoint(true) // read by fin and the funnel
    // stage 3: the trained filter (memoized scored relation)
    val fin = near.join(
      Text.qualityLogreg(s, dir).filter(col("pred") === 1L)
        .select(col("doc_id")),
      "doc_id")
    // stages 4+5: per-language funnel -> temperature -> shard count
    val perDoc = docs.select(col("doc_id"), col("lang"))
      .join(clean.select(col("doc_id"), lit(1L).as("c"),
        col("n_tokens")), Seq("doc_id"), "left")
      .join(near.select(col("doc_id"), lit(1L).as("nr")),
        Seq("doc_id"), "left")
      .join(fin.select(col("doc_id"), lit(1L).as("f")),
        Seq("doc_id"), "left")
    val funnel = perDoc.groupBy("lang").agg(
      count(lit(1)).as("n_raw"),
      coalesce(sum(col("c")), lit(0L)).as("n_clean"),
      coalesce(sum(col("nr")), lit(0L)).as("n_near"),
      coalesce(sum(col("f")), lit(0L)).as("n_final"),
      coalesce(sum(when(col("f").isNotNull,
        col("n_tokens").cast("long"))), lit(0L)).as("tokens_final"))
    val alloc = funnel.withColumn("wq",
      floor(sqrt(col("n_final").cast("double")) * 1000000).cast("long"))
    val tot = alloc.agg(sum(col("wq")).as("wsum"),
      sum(col("n_final")).as("nf_total"))
    alloc.crossJoin(broadcast(tot)) // 1-row scalar side
      .select(col("lang"), col("n_raw"), col("n_clean"), col("n_near"),
        col("n_final"), col("tokens_final"),
        expr("wq * 1000000 div wsum").as("share_ppm"),
        expr("(wq * 1000000 div wsum) * nf_total div 1000000")
          .as("target_docs"),
        expr(s"(tokens_final + ${PipelineShardBudget - 1})" +
          s" div $PipelineShardBudget").as("n_shards"))
      .orderBy("lang")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_pipeline_full" -> corpusPipelineFull,
    "corpus_token_budget" -> corpusTokenBudget,
    "corpus_curriculum" -> corpusCurriculum,
    "sample_undersample" -> sampleUndersample,
    "corpus_span_corruption" -> corpusSpanCorruption,
    "corpus_fim_pairs" -> corpusFimPairs,
    "text_pack_sequences" -> textPackSequences,
    "sample_stratified" -> sampleStratified,
    "sample_neyman" -> sampleNeyman,
    "corpus_unimax" -> corpusUnimax,
    "sample_bottomk" -> sampleBottomk,
    "corpus_shuffle" -> corpusShuffle,
    "sample_systematic" -> sampleSystematic,
    "sample_weighted" -> sampleWeighted,
    "sample_domain_cap" -> sampleDomainCap,
    "corpus_coverage_cap" -> corpusCoverageCap,
    "corpus_quality_bins" -> corpusQualityBins,
    "corpus_mix" -> corpusMix,
    "corpus_temperature" -> corpusTemperature,
    "corpus_temperature_sweep" -> corpusTemperatureSweep,
    "profile_stats" -> profileStats,
    "profile_skew" -> profileSkew,
    "quality_audit" -> qualityAudit,
    "text_decontaminate" -> textDecontaminate,
    "corpus_dsir" -> corpusDsir,
    "profile_drift" -> profileDrift,
    "corpus_epochs" -> corpusEpochs,
    "corpus_doremi" -> corpusDoremi,
  )

  private val polySql =
    """list_reduce(
      |  list_concat([CAST(0 AS BIGINT)],
      |    list_transform(string_split(text,''), c -> CAST(unicode(c) AS BIGINT))),
      |  (a, b) -> (a * 31 + b) % 1000000007)""".stripMargin

  val oracles: Map[String, String] = Map(
    // The capstone composes the stages' OWN shared CTE chains
    // verbatim (shared-literal rule): minhash pairs + recursive CC
    // (the dedup_clusters oracle), the corpus_clean chain, and the
    // 8-step logreg training chain — then replays the funnel,
    // temperature allocation, and ceiling-division shard count in
    // exact integer arithmetic.
    "corpus_pipeline_full" ->
      s"""${Dedup.minhashCoreSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |pairs AS (SELECT da, db
         |  FROM ix JOIN sig sa ON da = sa.doc_id JOIN sig sb ON db = sb.doc_id
         |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8),
         |${Clusters.ccCoreSql},
         |${Text.cleanChainSql},
         |${Text.logregCoreSql},
         |clean AS (SELECT k.doc_id, k.n_tokens
         |  FROM ckept k JOIN cdedup d ON k.doc_id = d.doc_id),
         |cls AS (SELECT c.doc_id, c.n_tokens, l.cluster_id
         |  FROM clean c LEFT JOIN lbl l ON c.doc_id = l.node),
         |kp AS (SELECT cluster_id, MIN(doc_id) AS keeper_id
         |  FROM cls WHERE cluster_id IS NOT NULL GROUP BY cluster_id),
         |neard AS (SELECT cls.doc_id, cls.n_tokens
         |  FROM cls LEFT JOIN kp ON cls.cluster_id = kp.cluster_id
         |  WHERE cls.cluster_id IS NULL OR cls.doc_id = kp.keeper_id),
         |fin AS (SELECT n.doc_id FROM neard n
         |  JOIN scored sc ON n.doc_id = sc.doc_id
         |  WHERE sc.p_ppm >= 500000),
         |funnel AS (SELECT d.lang,
         |    CAST(COUNT(*) AS BIGINT) AS n_raw,
         |    CAST(COUNT(c.doc_id) AS BIGINT) AS n_clean,
         |    CAST(COUNT(nr.doc_id) AS BIGINT) AS n_near,
         |    CAST(COUNT(f.doc_id) AS BIGINT) AS n_final,
         |    CAST(COALESCE(SUM(CASE WHEN f.doc_id IS NOT NULL
         |      THEN c.n_tokens END), 0) AS BIGINT) AS tokens_final
         |  FROM documents d
         |  LEFT JOIN clean c ON d.doc_id = c.doc_id
         |  LEFT JOIN neard nr ON d.doc_id = nr.doc_id
         |  LEFT JOIN fin f ON d.doc_id = f.doc_id
         |  GROUP BY d.lang),
         |alloc AS (SELECT *,
         |    CAST(FLOOR(sqrt(CAST(n_final AS DOUBLE)) * 1000000)
         |      AS BIGINT) AS wq FROM funnel),
         |tt AS (SELECT CAST(SUM(wq) AS BIGINT) AS wsum,
         |    CAST(SUM(n_final) AS BIGINT) AS nf_total FROM alloc)
         |SELECT lang, n_raw, n_clean, n_near, n_final, tokens_final,
         |  CAST(wq * 1000000 // wsum AS BIGINT) AS share_ppm,
         |  CAST((wq * 1000000 // wsum) * nf_total // 1000000 AS BIGINT)
         |    AS target_docs,
         |  CAST((tokens_final + ${PipelineShardBudget - 1})
         |    // $PipelineShardBudget AS BIGINT) AS n_shards
         |FROM alloc, tt ORDER BY lang""".stripMargin,
    // Mirrors corpusFimPairsOn: same hash cuts, 1-based list slices.
    "corpus_fim_pairs" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |cut AS (SELECT doc_id, t, n,
        |    (doc_id * 2654435761) % n AS h1,
        |    (doc_id * 1103515245 + 12345) % n AS h2
        |  FROM tk)
        |SELECT doc_id, n AS n_tokens,
        |  LEAST(h1, h2) AS c1, GREATEST(h1, h2) AS c2,
        |  GREATEST(h1, h2) - LEAST(h1, h2) AS n_middle,
        |  array_to_string(list_concat(list_concat(list_concat(
        |    list_concat(['<PRE>'],
        |      t[1:CAST(LEAST(h1, h2) AS INT)]),
        |    list_concat(['<SUF>'],
        |      t[CAST(GREATEST(h1, h2) AS INT) + 1:CAST(n AS INT)])),
        |    ['<MID>']),
        |    t[CAST(LEAST(h1, h2) AS INT) + 1:
        |      CAST(GREATEST(h1, h2) AS INT)]), ' ') AS fim_text
        |FROM cut ORDER BY doc_id""".stripMargin,
    // Mirrors corpusSpanCorruptionOn: same LCG mask coin, same
    // gaps-and-islands span fold, position-ordered aggregations.
    "corpus_span_corruption" ->
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t
         |  FROM documents),
         |p AS (SELECT doc_id, CAST(r.i - 1 AS BIGINT) AS i, t[r.i] AS tok
         |  FROM tk, UNNEST(range(1, len(t) + 1)) AS r(i)),
         |mm AS (SELECT doc_id, i, tok,
         |    ((doc_id * 31 + i * 1061) % 1000 + 1000) % 1000
         |      < $SpanCorruptMilli AS m
         |  FROM p),
         |sp AS (SELECT doc_id, i, tok, m,
         |    m AND NOT COALESCE(LAG(m) OVER (PARTITION BY doc_id
         |      ORDER BY i), FALSE) AS is_start
         |  FROM mm),
         |sp2 AS (SELECT *, SUM(CASE WHEN is_start THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY i
         |        ROWS UNBOUNDED PRECEDING) - 1 AS span
         |  FROM sp),
         |inp AS (SELECT doc_id,
         |    string_agg(piece, ' ' ORDER BY i) AS input_text
         |  FROM (SELECT doc_id, i, CASE WHEN NOT m THEN tok
         |      WHEN is_start THEN '<extra_id_' || span || '>' END
         |      AS piece FROM sp2)
         |  WHERE piece IS NOT NULL GROUP BY doc_id),
         |tgt AS (SELECT doc_id,
         |    string_agg(piece, ' ' ORDER BY i) AS target_text
         |  FROM (SELECT doc_id, i, CASE WHEN is_start
         |      THEN '<extra_id_' || span || '> ' || tok ELSE tok END
         |      AS piece FROM sp2 WHERE m)
         |  GROUP BY doc_id),
         |c AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |    CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_masked,
         |    CAST(SUM(CASE WHEN is_start THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_spans
         |  FROM sp2 GROUP BY doc_id)
         |SELECT c.doc_id, n_tokens, n_masked, n_spans, inp.input_text,
         |  COALESCE(tgt.target_text, '') AS target_text
         |FROM c JOIN inp USING (doc_id) LEFT JOIN tgt USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // Mirrors sampleUndersampleOn: same Knuth hash rank, minority
    // count as a scalar subquery.
    "sample_undersample" ->
      s"""WITH m AS (SELECT MIN(c) AS m FROM (
         |    SELECT CAST(COUNT(*) AS BIGINT) AS c FROM documents
         |    GROUP BY lang)),
         |r AS (SELECT doc_id, lang,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY (doc_id * 2654435761) % ${Text.P} ASC,
         |        doc_id ASC) AS BIGINT) AS rk
         |  FROM documents)
         |SELECT doc_id, lang, rk FROM r, m WHERE rk <= m
         |ORDER BY doc_id""".stripMargin,
    // Mirrors corpusCurriculumOn: single-window total rank (equality
    // with the engine's two-phase spelling is prefix-sum
    // associativity), same ceil-clamp phase arithmetic.
    "corpus_curriculum" ->
      s"""WITH sc AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
         |  FROM documents),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sc),
         |r AS (SELECT doc_id, toks,
         |    CAST(ROW_NUMBER() OVER (ORDER BY toks ASC, doc_id ASC)
         |      AS BIGINT) AS rk
         |  FROM sc),
         |d AS (SELECT doc_id, toks,
         |    CAST(rk * 1000 // n AS BIGINT) AS difficulty_milli
         |  FROM r, n)
         |SELECT doc_id, toks, difficulty_milli,
         |  CAST(GREATEST(1, LEAST(
         |    (difficulty_milli * $CurriculumPhases + 999) // 1000,
         |    $CurriculumPhases)) AS INT) AS phase
         |FROM d ORDER BY doc_id""".stripMargin,
    "corpus_token_budget" ->
      s"""WITH sc AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
         |    CAST(len(list_distinct(string_split(text, ' ')))
         |      AS BIGINT) * 1000
         |      // CAST(len(string_split(text, ' ')) AS BIGINT)
         |      AS ttr_milli
         |  FROM documents),
         |b AS (SELECT SUM(toks) // $BudgetDiv AS bt FROM sc),
         |run AS (SELECT doc_id, ttr_milli, toks,
         |    SUM(toks) OVER (ORDER BY ttr_milli DESC, doc_id ASC
         |      ROWS UNBOUNDED PRECEDING) AS cum_toks
         |  FROM sc)
         |SELECT doc_id, ttr_milli, toks, CAST(cum_toks AS BIGINT) AS cum_toks
         |FROM run, b WHERE cum_toks <= bt ORDER BY doc_id""".stripMargin,
    "corpus_unimax" ->
      """WITH st AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents GROUP BY lang),
        |lv AS (SELECT lang, n,
        |    ROW_NUMBER() OVER (ORDER BY n, lang) AS i,
        |    SUM(n) OVER (ORDER BY n, lang
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre,
        |    (SELECT COUNT(*) FROM st) AS nl
        |  FROM st),
        |fv AS (SELECT lang, n, i, pre, nl,
        |    (300 - (pre - n)) // (nl - i + 1) AS fair
        |  FROM lv),
        |tl AS (SELECT fair AS t FROM fv WHERE n > fair
        |  ORDER BY i LIMIT 1),
        |al AS (SELECT lang, n,
        |    LEAST(n, COALESCE((SELECT t FROM tl), 9223372036854775807))
        |      AS alloc0,
        |    n > COALESCE((SELECT t FROM tl), 9223372036854775807)
        |      AS capped
        |  FROM fv),
        |sp AS (SELECT 300 - SUM(alloc0) AS spare FROM al),
        |rr AS (SELECT lang, n, alloc0, capped,
        |    ROW_NUMBER() OVER (PARTITION BY capped ORDER BY lang) AS rr,
        |    (SELECT spare FROM sp) AS spare
        |  FROM al)
        |SELECT lang, n AS n_docs, capped,
        |  CAST(alloc0 + CASE WHEN capped AND rr <= spare AND spare > 0
        |    THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM rr ORDER BY lang""".stripMargin,
    "sample_neyman" ->
      """WITH st AS (SELECT lang, CAST(COUNT(*) AS HUGEINT) AS nh,
        |    CAST(SUM(n_chars) AS HUGEINT) AS sh,
        |    CAST(SUM(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT) AS qh
        |  FROM documents GROUP BY lang),
        |ws AS (SELECT lang, nh,
        |    CASE WHEN nh >= 2 THEN CAST(floor(sqrt(
        |      CAST(nh * (nh * qh - sh * sh) AS DOUBLE) /
        |      CAST(nh - 1 AS DOUBLE))) AS BIGINT) ELSE 0 END AS w
        |  FROM st),
        |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM ws),
        |al AS (SELECT lang, nh, w,
        |    CASE WHEN tw > 0 THEN 100 * w // tw ELSE 0 END AS base,
        |    CASE WHEN tw > 0 THEN 100 * w % tw ELSE 0 END AS rem
        |  FROM ws CROSS JOIN tot),
        |rr AS (SELECT lang, nh, w, base,
        |    ROW_NUMBER() OVER (ORDER BY rem DESC, lang ASC) AS rr,
        |    (SELECT 100 - SUM(base) FROM al) AS spare
        |  FROM al),
        |seats AS (SELECT lang, CAST(nh AS BIGINT) AS stratum_size,
        |    w AS nsd,
        |    CAST(base + CASE WHEN rr <= spare THEN 1 ELSE 0 END
        |      AS BIGINT) AS n_h
        |  FROM rr),
        |pri AS (SELECT doc_id, lang,
        |    ((doc_id % 1000000007) * 912367 % 1000000007 + 40503)
        |      % 1000000007 AS pri,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
        |      ((doc_id % 1000000007) * 912367 % 1000000007 + 40503)
        |        % 1000000007 ASC, doc_id ASC) AS rk
        |  FROM documents)
        |SELECT doc_id, pri.lang, stratum_size, nsd, n_h
        |FROM pri JOIN seats ON pri.lang = seats.lang
        |WHERE rk <= n_h ORDER BY doc_id""".stripMargin,
    "profile_drift" ->
      """WITH ca AS (SELECT n_chars // 50 AS bin, COUNT(*) AS ca
        |  FROM documents WHERE source = 'src0' GROUP BY 1),
        |cb AS (SELECT n_chars // 50 AS bin, COUNT(*) AS cb
        |  FROM documents WHERE source <> 'src0' GROUP BY 1),
        |j AS (SELECT COALESCE(ca.bin, cb.bin) AS bin,
        |    COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
        |  FROM ca FULL OUTER JOIN cb ON ca.bin = cb.bin),
        |t AS (SELECT SUM(ca) AS na, SUM(cb) AS nb, COUNT(*) AS nbins FROM j)
        |SELECT bin, CAST(ca AS BIGINT) AS ca, CAST(cb AS BIGINT) AS cb,
        |  CAST(round((CAST(ca + 1 AS DOUBLE) / (na + nbins)
        |      - CAST(cb + 1 AS DOUBLE) / (nb + nbins))
        |    * ln((CAST(ca + 1 AS DOUBLE) / (na + nbins))
        |      / (CAST(cb + 1 AS DOUBLE) / (nb + nbins))) * 1000000, 0)
        |    AS BIGINT) AS psi_ppm
        |FROM j CROSS JOIN t
        |ORDER BY bin""".stripMargin,
    "corpus_dsir" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bgall AS (SELECT doc_id,
        |    list_reduce(list_concat([CAST(0 AS BIGINT)],
        |      list_transform(string_split(t[i] || ' ' || t[i + 1], ''),
        |        c -> CAST(unicode(c) AS BIGINT))),
        |      (a, b) -> (a * 31 + b) % 1000000007) % 4096 AS f
        |  FROM tk, UNNEST(range(1, len(t))) AS r(i) WHERE len(t) >= 2),
        |tfb AS (SELECT f, COUNT(*) AS ct FROM bgall WHERE doc_id % 40 = 7
        |        GROUP BY f),
        |rfb AS (SELECT f, COUNT(*) AS cs FROM bgall WHERE doc_id % 40 <> 7
        |        GROUP BY f),
        |tt AS (SELECT SUM(ct) AS t_total FROM tfb),
        |st AS (SELECT SUM(cs) AS s_total FROM rfb),
        |model AS (SELECT r.f,
        |    CAST(round(ln(CAST(coalesce(ct, 0) + 1 AS DOUBLE)
        |      / (t_total + 4096)) * 1000, 0) AS BIGINT)
        |  - CAST(round(ln(CAST(cs + 1 AS DOUBLE)
        |      / (s_total + 4096)) * 1000, 0) AS BIGINT) AS llr
        |  FROM rfb r LEFT JOIN tfb USING (f) CROSS JOIN tt CROSS JOIN st)
        |SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(llr) AS BIGINT) AS score
        |FROM bgall b JOIN model m ON b.f = m.f
        |WHERE b.doc_id % 40 <> 7
        |GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 100""".stripMargin,
    "corpus_coverage_cap" ->
      """WITH src AS (SELECT lang, source,
        |    CAST(SUM(n_chars) AS BIGINT) AS src_chars
        |  FROM documents GROUP BY lang, source),
        |c AS (SELECT lang, source, src_chars,
        |    CAST(SUM(src_chars) OVER (PARTITION BY lang) AS BIGINT)
        |      AS total_chars,
        |    CAST(SUM(src_chars) OVER (PARTITION BY lang
        |      ORDER BY src_chars DESC, source ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_chars
        |  FROM src)
        |SELECT lang, source, src_chars, cum_chars, total_chars
        |FROM c
        |WHERE (cum_chars - src_chars) * 10 < total_chars * 9
        |ORDER BY lang, cum_chars, source""".stripMargin,
    "sample_bottomk" ->
      """SELECT doc_id, lang, source,
        |  ((doc_id % 1000000007) * 912367 % 1000000007 + 40503)
        |    % 1000000007 AS pri
        |FROM documents ORDER BY pri, doc_id LIMIT 64""".stripMargin,
    "corpus_shuffle" ->
      """WITH h AS (SELECT doc_id, lang,
        |    ((doc_id % 1000000007) * 912367 % 1000000007 + 40503)
        |      % 1000000007 AS hk
        |  FROM documents)
        |SELECT doc_id, lang, hk, hk % 8 AS shard,
        |  CAST(row_number() OVER (PARTITION BY hk % 8
        |    ORDER BY hk, doc_id) AS INT) AS pos
        |FROM h ORDER BY doc_id""".stripMargin,
    "sample_systematic" ->
      """WITH h AS (SELECT doc_id, list_reduce(
        |    list_concat([CAST(0 AS BIGINT)],
        |      list_transform(string_split(text,''),
        |        c -> CAST(unicode(c) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS h
        |  FROM documents),
        |r AS (SELECT doc_id, h,
        |    CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS rk
        |  FROM h)
        |SELECT doc_id, h, rk FROM r
        |WHERE (rk - 1) % 20 = 0 ORDER BY rk""".stripMargin,
    "sample_weighted" ->
      """SELECT doc_id, lang, source, n_chars,
        |  CAST(((doc_id % 1000000007) * 912367 % 1000000007 + 40503)
        |    % 1000000007 * 1024 // greatest(n_chars, 1) AS BIGINT) AS pri
        |FROM documents ORDER BY pri, doc_id LIMIT 64""".stripMargin,
    "text_pack_sequences" ->
      s"""WITH base AS (
         |  SELECT doc_id, lang,
         |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |cum AS (
         |  SELECT doc_id, lang, n_tokens,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_tokens
         |  FROM base)
         |SELECT doc_id, lang, n_tokens, cum_tokens,
         |  (cum_tokens - n_tokens) // $PackBudget AS pack_id,
         |  cum_tokens - n_tokens
         |    - ((cum_tokens - n_tokens) // $PackBudget) * $PackBudget
         |    AS offset_in_pack
         |FROM cum ORDER BY lang, doc_id""".stripMargin,
    "sample_stratified" ->
      s"""SELECT doc_id, lang, $polySql % 100 AS bucket
         |FROM documents
         |WHERE $polySql % 100 <
         |  CASE lang WHEN 'en' THEN 25 WHEN 'zh' THEN 50 ELSE 100 END
         |ORDER BY doc_id""".stripMargin,
    "corpus_epochs" ->
      """WITH s AS (SELECT lang, COUNT(*) AS n_docs FROM documents
        |  GROUP BY lang),
        |q AS (SELECT lang, n_docs,
        |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)
        |      AS wq
        |  FROM s),
        |t AS (SELECT CAST(SUM(wq) AS BIGINT) AS wsum,
        |    CAST(SUM(n_docs) AS BIGINT) AS n_total FROM q),
        |alloc AS (SELECT lang, n_docs,
        |    CAST((wq * 1000000 // wsum) * n_total // 1000000 AS BIGINT)
        |      AS target_docs
        |  FROM q, t),
        |rk AS (SELECT doc_id, lang,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY (doc_id * 2654435761) % 1000000007, doc_id)
        |      AS BIGINT) AS rk
        |  FROM documents)
        |SELECT doc_id, rk.lang,
        |  CAST(target_docs // n_docs
        |    + CASE WHEN rk <= target_docs % n_docs THEN 1 ELSE 0 END
        |    AS BIGINT) AS n_repeats
        |FROM rk JOIN alloc ON rk.lang = alloc.lang
        |ORDER BY doc_id""".stripMargin,
    // mirrors corpusDoremiOn: quantize-then-aggregate, exp through the
    // round(,9) boundary, integer normalizer (no cross-row floats)
    "corpus_doremi" ->
      s"""WITH ${Text.lmScoreCoreSql},
         |d AS (SELECT doc_id, CAST(FLOOR(
         |    -(ROUND(sum_lp / n_bigrams, 4)) * 1000000 + 0.5) AS BIGINT)
         |    AS nll_micro FROM per),
         |dm AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(nll_micro) AS BIGINT) AS s
         |  FROM d JOIN documents USING (doc_id) GROUP BY lang),
         |l AS (SELECT lang, n_docs,
         |    CAST(s // n_docs AS BIGINT) AS loss_micro FROM dm),
         |m AS (SELECT MIN(loss_micro) AS mn,
         |    CAST(SUM(n_docs) AS BIGINT) AS nn FROM l),
         |e AS (SELECT lang, n_docs, loss_micro,
         |    CAST(loss_micro - mn AS BIGINT) AS excess_micro, nn
         |  FROM l CROSS JOIN m),
         |x AS (SELECT lang, n_docs, loss_micro, excess_micro, nn,
         |    CAST(FLOOR(n_docs * round(exp(CAST(excess_micro AS DOUBLE)
         |      / 1000000.0), 9) * 1000000 + 0.5) AS BIGINT) AS num
         |  FROM e),
         |t AS (SELECT CAST(SUM(num) AS BIGINT) AS tot FROM x)
         |SELECT lang, n_docs, loss_micro, excess_micro,
         |  CAST(n_docs * 1000000 // nn AS BIGINT) AS ref_ppm,
         |  CAST(CAST(num AS HUGEINT) * 1000000 // tot AS BIGINT) AS w_ppm,
         |  CAST(CAST(num AS HUGEINT) * 1000000 // tot
         |    - n_docs * 1000000 // nn AS BIGINT) AS delta_ppm
         |FROM x CROSS JOIN t ORDER BY lang""".stripMargin,
    // Mirrors corpusTemperatureSweepOn: sqrt-composed tiers (no
    // pow), DECIMAL-cleared shares, shared entropy-term string.
    "corpus_temperature_sweep" -> {
      def tier(tau: Int, wExpr: String): String =
        s"""q$tau AS (SELECT CAST($tau AS BIGINT) AS tau_milli, lang,
           |    n_docs, $wExpr AS w_micro FROM s),
           |t$tau AS (SELECT SUM(CAST(w_micro AS HUGEINT)) AS wsum
           |  FROM q$tau),
           |sh$tau AS (SELECT tau_milli, lang, n_docs, w_micro,
           |    CAST(CAST(w_micro AS HUGEINT) * 1000000 // wsum AS BIGINT)
           |      AS share_ppm
           |  FROM q$tau, t$tau),
           |h$tau AS (SELECT CAST(SUM($tempHNanoSql) AS BIGINT)
           |    AS h_total_nano FROM sh$tau)""".stripMargin
      val tiers = Seq(
        250 -> "CAST(floor(sqrt(sqrt(CAST(n_docs AS DOUBLE))) * 1000000) AS BIGINT)",
        500 -> "CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)",
        750 -> ("CAST(floor(sqrt(CAST(n_docs AS DOUBLE))" +
          " * sqrt(sqrt(CAST(n_docs AS DOUBLE))) * 1000000) AS BIGINT)"),
        1000 -> "CAST(n_docs * 1000000 AS BIGINT)")
      val body = tiers.map { case (t, w) => tier(t, w) }.mkString(",\n")
      val rows = tiers.map { case (t, _) =>
        s"SELECT sh$t.*, h$t.h_total_nano FROM sh$t, h$t" }
        .mkString("\n  UNION ALL ")
      s"""WITH s AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
         |  FROM documents GROUP BY lang),
         |$body
         |SELECT * FROM (
         |  $rows) ORDER BY tau_milli, lang""".stripMargin
    },
    "corpus_temperature" ->
      """WITH s AS (SELECT lang, COUNT(*) AS n_docs FROM documents
        |  GROUP BY lang),
        |q AS (SELECT lang, n_docs,
        |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)
        |      AS wq
        |  FROM s),
        |t AS (SELECT CAST(SUM(wq) AS BIGINT) AS wsum,
        |    CAST(SUM(n_docs) AS BIGINT) AS n_total FROM q)
        |SELECT lang, n_docs, wq,
        |  CAST(wq * 1000000 // wsum AS BIGINT) AS share_ppm,
        |  CAST((wq * 1000000 // wsum) * n_total // 1000000 AS BIGINT)
        |    AS target_docs
        |FROM q, t ORDER BY lang""".stripMargin,
    "corpus_mix" ->
      """WITH ranked AS (
        |  SELECT doc_id, lang,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY doc_id)
        |      AS BIGINT) AS rn
        |  FROM documents)
        |SELECT doc_id, lang, rn,
        |  rn * CAST(CASE lang WHEN 'en' THEN 4 ELSE 1 END AS BIGINT) AS pos
        |FROM ranked ORDER BY pos, lang, doc_id""".stripMargin,
    "corpus_quality_bins" ->
      """WITH b AS (SELECT doc_id, lang, n_chars,
        |    CAST(ntile(4) OVER (PARTITION BY lang
        |      ORDER BY n_chars ASC, doc_id ASC) AS INT) AS bin
        |  FROM documents)
        |SELECT lang, bin, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |FROM b GROUP BY lang, bin ORDER BY lang, bin""".stripMargin,
    "profile_skew" ->
      """WITH c AS (SELECT user_id, COUNT(*) AS n_rows
        |  FROM events GROUP BY user_id),
        |t AS (SELECT COUNT(*) AS total FROM events),
        |top AS (SELECT user_id, n_rows FROM c
        |  ORDER BY n_rows DESC, user_id LIMIT 10)
        |SELECT CAST(row_number() OVER (ORDER BY n_rows DESC, user_id)
        |    AS INT) AS rnk,
        |  user_id, n_rows,
        |  CAST(n_rows * 1000000 // total AS BIGINT) AS share_ppm
        |FROM top CROSS JOIN t
        |ORDER BY rnk""".stripMargin,
    "profile_stats" ->
      """WITH d AS (SELECT * FROM documents)
        |SELECT * FROM (
        |  SELECT 'doc_id' AS column_name,
        |    CAST(COUNT(*) - COUNT(doc_id) AS BIGINT) AS n_nulls,
        |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
        |    CAST(MIN(doc_id) AS VARCHAR) AS min_val,
        |    CAST(MAX(doc_id) AS VARCHAR) AS max_val FROM d
        |  UNION ALL
        |  SELECT 'text', CAST(COUNT(*) - COUNT(text) AS BIGINT),
        |    CAST(COUNT(DISTINCT text) AS BIGINT),
        |    CAST(MIN(text) AS VARCHAR), CAST(MAX(text) AS VARCHAR) FROM d
        |  UNION ALL
        |  SELECT 'lang', CAST(COUNT(*) - COUNT(lang) AS BIGINT),
        |    CAST(COUNT(DISTINCT lang) AS BIGINT),
        |    CAST(MIN(lang) AS VARCHAR), CAST(MAX(lang) AS VARCHAR) FROM d
        |  UNION ALL
        |  SELECT 'source', CAST(COUNT(*) - COUNT(source) AS BIGINT),
        |    CAST(COUNT(DISTINCT source) AS BIGINT),
        |    CAST(MIN(source) AS VARCHAR), CAST(MAX(source) AS VARCHAR) FROM d
        |  UNION ALL
        |  SELECT 'n_chars', CAST(COUNT(*) - COUNT(n_chars) AS BIGINT),
        |    CAST(COUNT(DISTINCT n_chars) AS BIGINT),
        |    CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR) FROM d
        |) ORDER BY column_name""".stripMargin,
    "quality_audit" ->
      """WITH a AS (SELECT
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS v_orderkey_not_null,
        |  CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS v_orderkey_unique,
        |  CAST(COUNT(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
        |    THEN 1 END) AS BIGINT) AS v_totalprice_positive,
        |  CAST(COUNT(CASE WHEN o_orderstatus IS NULL
        |    OR o_orderstatus NOT IN ('O','F','P')
        |    THEN 1 END) AS BIGINT) AS v_status_in_domain,
        |  CAST(COUNT(CASE WHEN o_orderpriority IS NULL
        |    OR substring(o_orderpriority, 1, 1) NOT IN ('1','2','3','4','5')
        |    THEN 1 END) AS BIGINT) AS v_priority_format,
        |  CAST(COUNT(CASE WHEN o_orderdate IS NULL
        |    OR year(o_orderdate) < 1992 OR year(o_orderdate) > 1998
        |    THEN 1 END) AS BIGINT) AS v_orderdate_in_range
        |  FROM orders)
        |SELECT constraint_name, n_rows, n_violations,
        |  n_violations = 0 AS passed FROM (
        |  SELECT 'orderkey_not_null' AS constraint_name, n_rows,
        |    v_orderkey_not_null AS n_violations FROM a
        |  UNION ALL SELECT 'orderkey_unique', n_rows, v_orderkey_unique FROM a
        |  UNION ALL SELECT 'totalprice_positive', n_rows, v_totalprice_positive FROM a
        |  UNION ALL SELECT 'status_in_domain', n_rows, v_status_in_domain FROM a
        |  UNION ALL SELECT 'priority_format', n_rows, v_priority_format FROM a
        |  UNION ALL SELECT 'orderdate_in_range', n_rows, v_orderdate_in_range FROM a
        |) ORDER BY constraint_name""".stripMargin,
    "sample_domain_cap" ->
      s"""WITH h AS (SELECT doc_id, source, $polySql AS hk FROM documents),
         |r AS (SELECT doc_id, source,
         |  CAST(row_number() OVER (PARTITION BY source ORDER BY hk, doc_id)
         |    AS BIGINT) AS rk FROM h)
         |SELECT doc_id, source, rk FROM r WHERE rk <= 10
         |ORDER BY source, rk""".stripMargin,
    "text_decontaminate" ->
      // single source of truth for the shingle+hash CTE chain: the
      // Spark side is Dedup.shingleHashesOf, its SQL mirror is
      // Dedup.shingleHashSql — re-inlining it here would silently
      // diverge on the next shingle/hash change
      s"""${Dedup.shingleHashSql},
        |bench AS (SELECT DISTINCT hs FROM hs WHERE doc_id % 40 = 7),
        |corpus AS (SELECT * FROM hs WHERE doc_id % 40 <> 7),
        |sz AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corpus GROUP BY doc_id),
        |hits AS (SELECT doc_id, COUNT(*) AS n_hits
        |         FROM corpus JOIN bench USING (hs) GROUP BY doc_id)
        |SELECT sz.doc_id, sz.n_shingles,
        |  COALESCE(hits.n_hits, 0) AS n_hits,
        |  ((COALESCE(hits.n_hits, 0) * 2000000 + sz.n_shingles)
        |    // (2 * sz.n_shingles)) / 1000000.0 AS hit_ratio,
        |  ((COALESCE(hits.n_hits, 0) * 2000000 + sz.n_shingles)
        |    // (2 * sz.n_shingles)) / 1000000.0 >= 0.2 AS contaminated
        |FROM sz LEFT JOIN hits ON sz.doc_id = hits.doc_id
        |ORDER BY sz.doc_id""".stripMargin,
  )
}
