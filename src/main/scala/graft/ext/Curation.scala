package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** The end-to-end corpus curation pipeline — what the individual ext/
  * operators exist FOR, composed as one operational API the way a
  * training-data run would use them:
  *
  *   dedup (exact md5 + verified LSH near-dup, [[Dedup.dedupCorpus]])
  *     → quality gate ([[TextAnalysis]] t03 scoring, floor 350)
  *     → language tag (t04 marker argmax)
  *     → fixed-512-token chunk packing ([[TextAnalysis.assignChunks]])
  *
  * Output is the chunk manifest: per chunk, its doc/token counts, doc_id
  * range, and the language mix. Every stage is one of the already
  * oracle-checked operators, and the composition itself is oracle-exact
  * (p01's oracle composes the stages' proven CTEs, with the near-drop
  * set in its exact all-pairs true-jaccard form — see the oracle's
  * comment). CurationSpec asserts its invariants: planted duplicates
  * gone, every kept doc at or above the quality floor, chunks within
  * budget (except single oversized docs), langs consistent with t04.
  *
  * Scale shape: nothing new — the stages are the scale paths of their
  * operators (xxhash64 LSH, map-side scoring, hierarchical prefix sum).
  */
object Curation {

  val QualityFloor = 350.0
  val ChunkBudget = 512L

  /** Cleaned, scored, tagged docs: (doc_id, text, n_tokens, quality, lang). */
  def curatedDocs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val clean = Dedup.dedupCorpus(spark, dir) // (doc_id, text)
    val toks = TextAnalysis.tokens($"text")
    val stopArr = array(TextAnalysis.stopwords.map(lit): _*)
    val scored = clean.select(
        $"doc_id", $"text",
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).as("n_distinct"),
        size(filter(toks, t => array_contains(stopArr, t))).as("n_stop"),
        length(regexp_replace($"text", "[a-z\\s]", "")).as("n_nonalpha"))
      .withColumn("quality",
        ($"n_distinct" * 1000 + $"n_stop" * 100 - $"n_nonalpha" * 10).cast("double")
          / $"n_tokens")
      .filter($"quality" >= QualityFloor)
    val best = TextAnalysis.langMarkers.map { case (l, ms) =>
      struct(TextAnalysis.langScore(toks, ms).as("s"), lit(l).as("l"))
    }
    scored.withColumn("lang",
        sort_array(array(best: _*), asc = false).getItem(0).getField("l"))
      .select($"doc_id", $"text", $"n_tokens", $"quality", $"lang")
  }

  /** p01: the chunk manifest of the curated corpus, returned
    * CHECKPOINTED (eager localCheckpoint): the manifest is
    * chunk-cardinality (corpus tokens / 512 rows — tiny relative to the
    * corpus at every scale), and the curated-docs cache is RELEASED
    * once the checkpoint lands (it exists only to keep the one
    * materialization from computing the dedup twice), so p01 leaves no
    * storage pinned for the rest of the battery. */
  def p01CurateCorpus(spark: SparkSession, dir: String): DataFrame =
      Dedup.checkpointed {
    import spark.implicits._
    // consumed twice (chunk assignment + lang join): cache, or the whole
    // dedup pipeline behind curatedDocs runs twice
    val docs = curatedDocs(spark, dir).cache()
    TextAnalysis
      .assignChunks(docs.select($"doc_id", $"n_tokens"), ChunkBudget)
      .join(docs.select($"doc_id", $"lang"), "doc_id")
      .groupBy($"chunk_id")
      .agg(count(lit(1)).as("n_docs"),
           sum($"n_tokens").as("n_tokens"),
           min($"doc_id").as("first_doc"),
           max($"doc_id").as("last_doc"),
           array_join(array_sort(collect_set($"lang")), ",").as("langs")) -> Seq(docs)
  }

  /** p11: temperature-scaled mixture weights — the multilingual sampling
    * temperature of mT5 / XLM-R (q_d ∝ p_d^τ, τ < 1 flattens the mixture
    * so low-resource domains are upsampled). τ is pinned to 1/2: the
    * reweight is then `sqrt`, the one fractional power IEEE-754 requires
    * correctly rounded, so every weight is bit-identical across engines
    * (`pow(x, 0.55)` would not be — the API caller can trade exactness
    * for an arbitrary τ, the registered query does not). The normalizer
    * Σ√n_d is a deterministic ordered fold (lang-sorted collect +
    * sequential aggregate — the s05/s15 device); the collected array is
    * domain-cardinality, never corpus-sized, so the one-row normalizer
    * broadcasts at any scale. `eff_factor` > 1 = domain is upsampled
    * under the temperature mixture; the per-domain report is what a
    * training-mixture config is generated from. */
  def p11TemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.documents(spark, dir)
      .groupBy($"lang").agg(count(lit(1)).as("n_docs"))
    val tot = c.agg(sum($"n_docs").as("n_total"),
      aggregate(
        sort_array(collect_list(struct($"lang".as("l"), sqrt($"n_docs").as("w")))),
        lit(0.0), (acc, x) => acc + x.getField("w")).as("s"))
    c.crossJoin(broadcast(tot))
      .select($"lang", $"n_docs",
        ($"n_docs".cast("double") / $"n_total").as("p_share"),
        sqrt($"n_docs").as("w"),
        (sqrt($"n_docs") / $"s").as("q_share"),
        (sqrt($"n_docs") / $"s" * $"n_total" / $"n_docs").as("eff_factor"))
  }

  /** Training-token budget per epoch-capped domain — 4× the corpus. */
  val BudgetMultiple = 4L

  /** No domain repeats beyond this many epochs (the data-constrained
    * scaling observation: value decays fast past a few repeats). */
  val MaxEpochs = 4.0

  /** p12: data-constrained token-budget allocation — the epoching plan a
    * training run derives when the corpus is smaller than the compute
    * budget wants. Given a total budget of [[BudgetMultiple]]× the
    * corpus tokens and the τ=1/2 temperature target shares (the p11
    * device: `sqrt` is the one fractional power IEEE requires correctly
    * rounded, so every share is bit-identical across engines), each
    * domain's target tokens = budget × q_share, its epoch count =
    * target / available, capped at [[MaxEpochs]] — the capped domains
    * are the data-constrained ones whose budget share cannot be filled
    * without over-repeating. Normalizer Σ√tokens is the lang-ordered
    * fold (domain-cardinality collect). Plan shape: one per-domain agg,
    * then the totals as window aggregates over the per-domain rows —
    * nothing corpus-sized moves, and no 1-row side is joined back. */
  def p12TokenBudget(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = Window.partitionBy()
    val target = ($"total_tokens" * lit(BudgetMultiple)).cast("double") *
      sqrt($"n_tokens") / $"s"
    val epochsRaw = target / $"n_tokens"
    val epochs = least(epochsRaw, lit(MaxEpochs))
    Tables.documents(spark, dir)
      .select($"lang", size(TextAnalysis.tokens($"text")).cast("long").as("nt"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"nt").as("n_tokens"))
      .withColumn("total_tokens", sum($"n_tokens").over(all))
      .withColumn("s", aggregate(
        sort_array(collect_list(struct($"lang".as("l"), sqrt($"n_tokens").as("w"))).over(all)),
        lit(0.0), (acc, x) => acc + x.getField("w")))
      .select($"lang", $"n_docs", $"n_tokens",
        (sqrt($"n_tokens") / $"s").as("q_share"),
        target.as("target_tokens"),
        epochsRaw.as("epochs_raw"),
        epochs.as("epochs"),
        (epochs * $"n_tokens").as("alloc_tokens"),
        (epochsRaw > lit(MaxEpochs)).as("data_constrained"))
  }

  /** The p07 split assignment as a pure map-side expression — split is a
    * function of doc_id alone (Knuth multiplicative hash, buckets
    * 0-799 train / 800-899 val / 900-999 test), so any pair list can be
    * split-tagged with zero joins. */
  private def splitOf(id: Column): Column = {
    val b = pmod(id * 2654435761L, lit(1000L))
    when(b < 800, "train").when(b < 900, "val").otherwise("test")
  }

  /** p13: near-duplicate TRAIN→EVAL decontamination — the leak check
    * p07 cannot see. p07's exact-hash accounting catches verbatim copies
    * straddling the split; a near-duplicate of a training document
    * landing in val/test (one word dropped, punctuation changed) passes
    * every exact-hash gate and still leaks the answer — the train-test
    * overlap audit the GPT-3 paper ran post-hoc, run here as part of the
    * split itself. Pairs come from the SAME verified LSH pair pipeline
    * the dedup already pays for ([[Dedup.d18MinHashMapSide]], cached —
    * this query adds no candidate generation of its own); the split tag
    * is a map-side function of doc_id ([[splitOf]] — no join against a
    * corpus-sized split table), so the whole audit is one pair-sized
    * aggregation on top of work already done. Output: each contaminated
    * eval document with its split, how many training near-dups hit it,
    * the worst jaccard, and the smallest offending train doc.
    *
    * Oracle: the exact all-pairs true-jaccard device
    * ([[Dedup.exactNearCtesFor]]) with the same split arithmetic — so the
    * check is banding-independent and re-proves full ≥0.5-jaccard recall
    * of the map-side banding each round. */
  def p13SplitDecontam(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Dedup.d18MinHashMapSide(spark, dir)
      .withColumn("sp1", splitOf($"id1"))
      .withColumn("sp2", splitOf($"id2"))
      .filter(($"sp1" === "train") =!= ($"sp2" === "train"))
      .select(
        when($"sp1" === "train", $"id2").otherwise($"id1").as("eval_doc_id"),
        when($"sp1" === "train", $"sp2").otherwise($"sp1").as("eval_split"),
        when($"sp1" === "train", $"id1").otherwise($"id2").as("train_doc_id"),
        (($"inter" * 100.0) / ($"n1" + $"n2" - $"inter")).as("jacc_pct"))
      .groupBy($"eval_doc_id", $"eval_split")
      .agg(count(lit(1)).as("n_train_dups"),
        max($"jacc_pct").as("max_jacc_pct"),
        min($"train_doc_id").as("min_train_doc"))
  }

  /** p14: decontamination APPLY — p13 reports train→eval leakage; this is
    * the remediation step a release actually ships (what the GPT-3 paper
    * did post-hoc): QUARANTINE every eval (val/test) document that shares
    * exact content (md5) or a verified ≥0.5-jaccard near-dup with any
    * training document, and emit the corrected split manifest. Removal —
    * not reassignment to train — is the sound single-pass form: deleting
    * an eval doc can never create new leakage, while moving it to train
    * could contaminate its remaining eval near-dups (fixing that needs
    * the full dup-cluster closure, d09's job). Near pairs ride the same
    * cached d18 pipeline as p13; exact pairs ride the p07 hash shuffle
    * with the train-side hash set joined semi — one pair-sized and one
    * hash-keyed join on work the dedup already pays for. CurationSpec's
    * soundness argument: train docs are never removed, so any surviving
    * cross-split pair would have flagged its eval side — Round9Spec
    * asserts the kept corpus has zero cross-split pairs left. */
  def p14DecontamQuarantine(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val nearEval = Dedup.d18MinHashMapSide(spark, dir)
      .withColumn("sp1", splitOf($"id1"))
      .withColumn("sp2", splitOf($"id2"))
      .filter(($"sp1" === "train") =!= ($"sp2" === "train"))
      .select(when($"sp1" === "train", $"id2").otherwise($"id1").as("doc_id"))
    // r19: exact cross-split hits in ONE pass over the hashed corpus —
    // per-hash train flag + eval-doc list in a single h-keyed agg. The
    // trainH-distinct + semi-join form this replaces ran the corpus md5
    // projection twice and shuffled it twice.
    val exactEval = Dedup.corpusWithCopies(docs)
      .select($"doc_id", md5($"text").as("h"), splitOf($"doc_id").as("split"))
      .groupBy($"h")
      .agg(max(when($"split" === "train", 1).otherwise(0)).as("has_train"),
        collect_list(when($"split" =!= "train", $"doc_id")).as("eval_docs"))
      .filter($"has_train" === 1)
      .select(explode($"eval_docs").as("doc_id"))
    val quarantined = nearEval.unionByName(exactEval).distinct()
    // r19: split is a pure map-side function of doc_id, so the rollup
    // joins NOTHING corpus-sized — doc counts per split and quarantined
    // counts per split are two tiny aggs (the third md5 pass + doc_id
    // join of the previous form is gone); kept = docs − quarantined.
    val counts = Dedup.corpusWithCopies(docs)
      .select(splitOf($"doc_id").as("orig_split"))
      .groupBy($"orig_split").agg(count(lit(1)).as("n_docs"))
    val quarCounts = quarantined
      .select(splitOf($"doc_id").as("orig_split"))
      .groupBy($"orig_split").agg(count(lit(1)).as("n_quarantined"))
    counts.join(quarCounts, Seq("orig_split"), "left")
      .select($"orig_split", $"n_docs",
        coalesce($"n_quarantined", lit(0L)).as("n_quarantined"),
        ($"n_docs" - coalesce($"n_quarantined", lit(0L))).as("n_kept"))
  }

  /** p15: corpus drift monitor — the release-over-release distribution
    * check a data pipeline runs before swapping in a new crawl (did the
    * language mix shift?). Pearson's chi-square of the new release's
    * per-language counts against the old release's proportions —
    * chi-square, not PSI/KL, because it needs no logarithm: expected
    * counts are one exact integer product and one correctly-rounded
    * division each, contributions one subtraction, one multiply, one
    * division — all bit-identical across engines — and the total is a
    * language-ordered fold over domain-cardinality rows. Releases are
    * modeled as the deterministic even/odd doc_id halves. Everything
    * after the one per-(release, lang) count agg is broadcast-sized.
    * Chi-square requires expected > 0: a language present ONLY in the
    * new release yields an infinite contribution — which is the correct
    * reading (unbounded evidence of drift; a brand-new language IS a
    * distribution break a release gate should scream about). Since r10
    * the +Inf is EXPLICIT on both sides (`when(expected = 0, +Inf)` here,
    * the same CASE in the oracle) rather than relying on each engine's
    * float division-by-zero semantics — DuckDB's x/0.0 behavior has
    * varied across versions (NULL vs Inf), and the sf fixtures carry no
    * new-only language to exercise the path in the differential
    * (Round10Spec plants one and pins the +Inf). */
  def p15DistDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.documents(spark, dir)
      .groupBy($"lang")
      .agg(sum(when($"doc_id" % 2 === 0, 1L).otherwise(0L)).as("n_old"),
        sum(when($"doc_id" % 2 =!= 0, 1L).otherwise(0L)).as("n_new"))
    distDriftOver(counts)
  }

  /** The drift arithmetic over a prepared per-(lang) count frame —
    * factored out so Round10Spec can plant a new-only language (a lang
    * with n_old = 0) and pin the explicit-+Inf contribution path the sf
    * fixtures never exercise. */
  private[graft] def distDriftOver(counts: DataFrame): DataFrame = {
    import counts.sparkSession.implicits._
    val tot = counts.agg(sum($"n_old").as("tot_old"), sum($"n_new").as("tot_new"))
    val per = counts.crossJoin(broadcast(tot))
      .select($"lang", $"n_old", $"n_new",
        (($"tot_new" * $"n_old").cast("double") / $"tot_old").as("expected_new"))
      .withColumn("contribution",
        when($"expected_new" === 0.0, lit(Double.PositiveInfinity))
          .otherwise(($"n_new" - $"expected_new") * ($"n_new" - $"expected_new")
            / $"expected_new"))
    val total = per.groupBy()
      .agg(count(lit(1)).as("k"),
        aggregate(transform(array_sort(collect_list(struct($"lang", $"contribution"))),
          s => s.getField("contribution")), lit(0.0), (a, x) => a + x).as("chi2"))
    per.crossJoin(broadcast(total))
      .select($"lang", $"n_old", $"n_new", $"expected_new", $"contribution",
        $"chi2", ($"k" - 1).as("dof"))
  }

  /** Temperature-based mixture rebalancing (τ = 0.5): downsample each
    * language toward uniform by keeping a sqrt(min_count/count) fraction —
    * the multilingual-corpus resampling step of an LLM data pipeline. The
    * keep decision is the same Knuth multiplicative hash as q40/q51, so it
    * is deterministic on any engine and any partitioning. Plan shape: one
    * scan and one map-side-combined count per (lang, hash bucket) — at
    * most languages × 4096 rows, whatever the corpus size — then window
    * aggregates over those rows (per-language total, the global minimum)
    * and a per-language sum of the buckets under the keep ceiling, all in
    * the one partition those rows are gathered into. The corpus is read
    * once and never shuffled itself. */
  def p02DomainMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .groupBy($"lang", pmod($"doc_id" * 2654435761L, lit(4096L)).as("h"))
      .agg(count(lit(1)).as("c"))
      // one partition holds these rows, and the windows and the aggregate
      // above it then need no exchange of their own
      .repartition(1)
      .withColumn("n_orig", sum($"c").over(Window.partitionBy($"lang")))
      .withColumn("keep_ceiling", floor(sqrt(
        min($"n_orig").over(Window.partitionBy()).cast("double") / $"n_orig") * 4096)
        .cast("long"))
      .filter($"h" < $"keep_ceiling")
      .groupBy($"lang", $"n_orig")
      .agg(sum($"c").as("n_kept"))
      .withColumn("kept_frac", $"n_kept".cast("double") / $"n_orig")
      .select($"lang", $"n_orig", $"n_kept", $"kept_frac")
  }

  /** Quality-weighted Bernoulli sampling: each doc is kept with
    * probability 0.5·quality/max(quality) — the curriculum/quality
    * upsampling step of a data mix. The coin is the same deterministic
    * multiplicative hash as p02 (different modulus, so the two samplers
    * are decorrelated); acceptance compares one integer-derived double
    * against one product each — single IEEE ops, engine-exact. Shape:
    * quality is the map-side t03 expression, the max broadcasts back,
    * the decision is a scan-side filter — no corpus shuffle. */
  def p03WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = TextAnalysis.t03QualityScore(spark, dir).select($"doc_id", $"quality")
    val m = q.agg(max($"quality").as("qmax"))
    q.crossJoin(broadcast(m))
      .filter(pmod($"doc_id" * 2654435761L, lit(1000003L)).cast("double") * $"qmax"
        < lit(500001.5) * $"quality") // 500001.5 = 1000003 · rate 0.5
      .select($"doc_id", $"quality", ((lit(0.5) * $"quality") / $"qmax").as("keep_prob"))
  }

  /** Corpus report card: per (lang, source) slice — docs, token volume,
    * exact-duplicate docs (count minus distinct content hashes), and the
    * quality distribution (min / median / max; median via the
    * engine-exact percentile_cont device of q55, min/max comparison-only
    * — a decimal-rounded MEAN would NOT be engine-exact on arbitrary
    * doubles). The one-line-per-slice summary a dataset card publishes. */
  def p04CorpusReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = TextAnalysis.tokens($"text")
    val stopArr = array(TextAnalysis.stopwords.map(lit): _*)
    val base = Tables.documents(spark, dir).select(
      $"lang", $"source",
      size(toks).cast("long").as("n_tokens"),
      md5($"text".cast("binary")).as("h"),
      (( size(array_distinct(toks)) * 1000
       + size(filter(toks, t => array_contains(stopArr, t))) * 100
       - length(regexp_replace($"text", "[a-z\\s]", "")) * 10).cast("double")
        / size(toks)).as("quality"))
    base.groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("total_tokens"),
        (count(lit(1)) - countDistinct($"h")).as("n_dup_docs"),
        min($"quality").as("q_min"),
        expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY quality)").as("q_median"),
        max($"quality").as("q_max"))
  }

  /** p05: the quality-filter funnel — the Gopher/RefinedWeb-style staged
    * rule battery, reported as a funnel (docs in → docs out per stage) so
    * a pipeline operator can see WHERE the corpus is being lost:
    *
    *   1. min_tokens      ≥ 20 tokens
    *   2. word_len        mean token length in [3.0, 5.0]
    *   3. distinct_ratio  distinct/total tokens ≥ 0.33
    *   4. stopwords       ≥ 2 hits from {a, the, value}
    *   5. repetition      most-frequent-token share ≤ 0.125
    *
    * Stages short-circuit (a doc is counted into stage k only if it
    * passed 1..k-1), matching how a real curation run orders cheap rules
    * before expensive ones. All five signals are map-side per-row
    * expressions over the token array (integer counts and one double
    * division each — engine-exact); the funnel itself is ONE global
    * 5-counter aggregate, so the whole operator is a single scan with a
    * scalar reduce, at any corpus size. */
  def p05FilterFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = TextAnalysis.tokens($"text")
    val fstop = array(lit("a"), lit("the"), lit("value"))
    val base = Tables.documents(spark, dir).select(
      size(toks).cast("long").as("n"),
      (aggregate(transform(toks, t => length(t).cast("double")), lit(0.0),
        (a, x) => a + x) / size(toks)).as("avglen"),
      (size(array_distinct(toks)).cast("double") / size(toks)).as("ndr"),
      size(filter(toks, t => array_contains(fstop, t))).as("nstop"),
      (array_max(transform(array_distinct(toks),
          u => size(filter(toks, t => t === u)))).cast("double") / size(toks))
        .as("topshare"))
    val c1 = $"n" >= 20
    val c2 = c1 && $"avglen" >= 3.0 && $"avglen" <= 5.0
    val c3 = c2 && $"ndr" >= 0.33
    val c4 = c3 && $"nstop" >= 2
    val c5 = c4 && $"topshare" <= 0.125
    base.agg(
        count(lit(1)).as("n0"),
        sum(when(c1, 1L).otherwise(0L)).as("s1"),
        sum(when(c2, 1L).otherwise(0L)).as("s2"),
        sum(when(c3, 1L).otherwise(0L)).as("s3"),
        sum(when(c4, 1L).otherwise(0L)).as("s4"),
        sum(when(c5, 1L).otherwise(0L)).as("s5"))
      .select(expr(
        """stack(5,
             1, 'min_tokens',     n0, s1,
             2, 'word_len',       s1, s2,
             3, 'distinct_ratio', s2, s3,
             4, 'stopwords',      s3, s4,
             5, 'repetition',     s4, s5) AS (stage, rule, n_in, n_out)"""))
      .withColumn("n_rejected", $"n_in" - $"n_out")
  }

  /** p06: the one-row dataset card — corpus-level totals a data release
    * publishes up front (docs, token volume, language/source spread,
    * exact-dup rate, quality mid-spread). One scan; the NDV aggregates
    * ride the same Expand device as q71. */
  def p06CorpusSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = TextAnalysis.tokens($"text")
    val stopArr = array(TextAnalysis.stopwords.map(lit): _*)
    val base = Tables.documents(spark, dir).select(
      $"lang", $"source",
      size(toks).cast("long").as("n_tokens"),
      md5($"text".cast("binary")).as("h"),
      (( size(array_distinct(toks)) * 1000
       + size(filter(toks, t => array_contains(stopArr, t))) * 100
       - length(regexp_replace($"text", "[a-z\\s]", "")) * 10).cast("double")
        / size(toks)).as("quality"))
    base.agg(
      count(lit(1)).as("n_docs"),
      sum($"n_tokens").as("total_tokens"),
      countDistinct($"lang").as("n_langs"),
      countDistinct($"source").as("n_sources"),
      (count(lit(1)) - countDistinct($"h")).as("n_dup_docs"),
      min($"quality").as("q_min"),
      expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY quality)").as("q_median"),
      max($"quality").as("q_max"))
  }

  /** p07: deterministic train/val/test split with leakage accounting —
    * the reproducible-split primitive every training run needs. Split
    * assignment is the same multiplicative hash as q40 (pure map-side,
    * no rand(), identical on re-runs and across engines): buckets
    * 0-799 train / 800-899 val / 900-999 test. Leakage = documents
    * whose exact text lands in more than one split (planted copies from
    * [[Dedup.corpusWithCopies]] get independent doc_ids, so some pairs
    * straddle splits by construction). The leak check is one groupBy on
    * the content hash — the shuffle an exact-dedup pass already pays —
    * and the leaking-hash set is tiny, so it broadcasts back. */
  def p07HashSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Dedup.corpusWithCopies(Tables.documents(spark, dir))
    // r19: split totals need no hash at all (split is a map-side
    // function of doc_id), and the leak accounting needs exactly ONE
    // md5 pass — per-hash split counts in one h-keyed agg, leaking
    // hashes' counts rolled up per split map-side. The previous form
    // ran the corpus md5 projection twice (leak-set agg + join-back)
    // and paid a countDistinct expand per hash.
    val perSplit = base
      .select(splitOf($"doc_id").as("split"),
        length($"text").cast("long").as("n_chars"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
    val leaked = base
      .select(md5($"text").as("h"), splitOf($"doc_id").as("split"))
      .groupBy($"h")
      .agg(count(when($"split" === "train", 1)).as("n_tr"),
        count(when($"split" === "val", 1)).as("n_va"),
        count(when($"split" === "test", 1)).as("n_te"))
      .filter(($"n_tr" > 0).cast("int") + ($"n_va" > 0).cast("int") +
        ($"n_te" > 0).cast("int") > 1)
      .select(explode(array(
        struct(lit("train").as("split"), $"n_tr".as("c")),
        struct(lit("val").as("split"), $"n_va".as("c")),
        struct(lit("test").as("split"), $"n_te".as("c")))).as("e"))
      .groupBy($"e.split".as("split")).agg(sum($"e.c").as("n_leaked"))
    perSplit.join(leaked, Seq("split"), "left")
      .select($"split", $"n_docs", $"total_chars",
        coalesce($"n_leaked", lit(0L)).as("n_leaked"))
  }

  /** p08: cross-source content-overlap matrix — which sources feed the
    * corpus the same documents (the provenance diagnostic run before
    * choosing a dedup keep-priority). Exact-content overlap via md5 on
    * per-source DISTINCT hash sets; a synthetic 'mirror' source (every
    * 10th doc re-published) plants the overlap the generator's corpus
    * lacks. One equi-join on the hash — never a text comparison — and
    * the per-source set sizes join back broadcast. */
  def p08SourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val sh = docs.select($"source", md5($"text").as("h"))
      .unionByName(docs.filter($"doc_id" % 10 === 0)
        .select(lit("mirror").as("source"), md5($"text").as("h")))
      .distinct()
    // r19: ONE h-keyed agg collects each hash's sorted source set, and
    // ONE map-side generator emits both the ordered source pairs AND
    // per-source singletons (src2 = null) from that tiny array — so the
    // md5 + distinct subtree is evaluated exactly once (the h self-join
    // form computed it once per join side, plus a third pass for
    // sizes). The one combined (src1,src2) agg is source²-cardinality;
    // it is pinned via the bounded-materialize shim so the pair and
    // size consumers below cannot re-trigger the corpus pass.
    val perH = sh.groupBy($"h").agg(sort_array(collect_set($"source")).as("srcs"))
    val counts = graft.Tables.materialize(perH
      .select(explode(expr(
        """concat(
             transform(srcs, s1 -> named_struct('src1', s1, 'src2', CAST(NULL AS STRING))),
             flatten(transform(srcs, (s1, i) ->
               transform(slice(srcs, i + 2, size(srcs)), s2 ->
                 named_struct('src1', s1, 'src2', s2)))))""")).as("p"))
      .select($"p.src1".as("src1"), $"p.src2".as("src2"))
      .groupBy($"src1", $"src2").agg(count(lit(1)).as("cnt")))
    val pairs = counts.filter($"src2".isNotNull)
      .select($"src1", $"src2", $"cnt".as("n_shared"))
    val sizes = counts.filter($"src2".isNull).select($"src1".as("source"), $"cnt")
    pairs
      .join(broadcast(sizes.select($"source".as("src1"), $"cnt".as("n1"))), "src1")
      .join(broadcast(sizes.select($"source".as("src2"), $"cnt".as("n2"))), "src2")
      .select($"src1", $"src2", $"n_shared", $"n1", $"n2",
        ($"n_shared".cast("double") / ($"n1" + $"n2" - $"n_shared")).as("jaccard"))
  }

  /** Per-source document cap for p09. */
  val DomainCap = 15

  /** p09: per-domain frequency cap (the RefinedWeb/C4 anti-spam device —
    * no single source may contribute more than CAP documents, and when it
    * would, the highest-quality CAP survive): rank docs within each source
    * by the t03 quality score (doc_id tiebreak makes the boundary
    * deterministic), keep rank ≤ CAP, report the per-source retention and
    * the quality floor the cap imposed. Scale shape: quality is map-side;
    * the rank is ONE shuffle by source. A heavy-hitter domain turns that
    * rank into a big per-key sort — at 100 TB the bounded-heap partial
    * aggregate (s03's TopKByScore shape) replaces the window for the
    * keep-set while this per-source summary stays a plain agg. */
  def p09DomainCap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = TextAnalysis.tokens($"text")
    val stopArr = array(TextAnalysis.stopwords.map(lit): _*)
    val scored = Tables.documents(spark, dir).select(
      $"doc_id", $"source",
      ((size(array_distinct(toks)) * 1000
        + size(filter(toks, t => array_contains(stopArr, t))) * 100
        - length(regexp_replace($"text", "[a-z\\s]", "")) * 10).cast("double")
        / size(toks)).as("quality"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"quality".desc, $"doc_id")
    scored.withColumn("rk", row_number().over(w))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"rk" <= DomainCap, 1L).otherwise(0L)).as("n_kept"),
        sum(when($"rk" > DomainCap, 1L).otherwise(0L)).as("n_dropped"),
        min(when($"rk" <= DomainCap, $"quality")).as("min_kept_quality"))
      .withColumn("cap_hit", $"n_dropped" > 0)
  }

  /** Shard count for p10. */
  val ShardCount = 16L

  /** p10: deterministic shard-shuffle manifest — the "global shuffle
    * without a global sort" a training run needs before writing shards:
    * each doc gets a pseudo-random but fully deterministic key (the Knuth
    * multiplicative-hash family of p02/p03/q40, distinct multiplier so the
    * three samplers are decorrelated), shard = key mod 16, within-shard
    * order = key order. The manifest pins the WHOLE permutation in one
    * hashable line per shard via order_sig = Σ seq·doc_id (exact integer),
    * so any engine or re-run producing a different order fails the hash.
    * Scale shape: one shuffle by shard; within-shard order is sorted
    * locally per shard — exactly what a shard writer does — and the
    * manifest agg is map-side combinable. No rand(), no global sort. */
  def p10ShardShuffle(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val key = pmod($"doc_id" * 2246822519L, lit(1048573L))
    val docs = Tables.documents(spark, dir).select($"doc_id",
      size(TextAnalysis.tokens($"text")).cast("long").as("n_toks"), key.as("k"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard").orderBy($"k", $"doc_id")
    docs.withColumn("shard", pmod($"k", lit(ShardCount)))
      .withColumn("seq", row_number().over(w).cast("long"))
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_toks").as("n_tokens"),
        sum($"seq" * $"doc_id").as("order_sig"),
        min($"k").as("min_key"),
        max($"k").as("max_key"))
  }

  type Q = (SparkSession, String) => DataFrame
  val queries: Map[String, Q] = Map(
    "p07_hash_split"    -> p07HashSplit _,
    "p08_source_overlap" -> p08SourceOverlap _,
    "p09_domain_cap"    -> p09DomainCap _,
    "p10_shard_shuffle" -> p10ShardShuffle _,
    "p11_temperature_mix" -> p11TemperatureMix _,
    "p12_token_budget" -> p12TokenBudget _,
    "p13_split_decontam" -> p13SplitDecontam _,
    "p14_decontam_quarantine" -> p14DecontamQuarantine _,
    "p15_dist_drift" -> p15DistDrift _,
    "p05_filter_funnel" -> p05FilterFunnel _,
    "p06_corpus_summary" -> p06CorpusSummary _,
    "p04_corpus_report" -> p04CorpusReport _,
    // oracle-exact since r9 (composed full-chain oracle with the exact
    // all-pairs true-jaccard near-drop set — see the oracle's comment)
    "p01_curate_corpus" -> p01CurateCorpus _,
    "p02_domain_mix"    -> p02DomainMix _,
    "p03_weighted_sample" -> p03WeightedSample _,
  )
  val oracles: Map[String, String] = Map(
    // The full curation chain replayed: corpus+copies → exact-dedup
    // (min-doc_id per md5) → near-dup drops → t03 quality floor →
    // t04 marker-argmax lang → t11 exclusive-prefix-sum chunking →
    // per-chunk manifest. Every stage is the already-proven oracle SQL
    // of its standalone query, composed.
    //
    // The near-drop set is the EXACT all-pairs true-jaccard form (one
    // shingle equi-self-join — no banding), NOT the d02 dictionary-LSH
    // candidates: the two hash families band borderline pairs
    // differently (the r8 d20 finding — at sf0.01 the xxhash64 banding
    // catches one true near pair the dictionary banding misses), so a
    // banded oracle tracks the wrong pair set. Against the exact form
    // this oracle additionally asserts that the map-side banding p01
    // consumes achieved FULL recall of true ≥0.5-jaccard pairs on the
    // fixture corpus — the pigeonhole-style property the banded design
    // is chosen for.
    "p01_curate_corpus" -> {
      val tok = TextAnalysis.tokensSql
      val floor = QualityFloor
      val scoreEn = s"len(list_filter($tok, t -> t IN ('the', 'a', 'value')))"
      val scoreDb = s"len(list_filter($tok, t -> t IN ('table', 'row', 'column', 'query')))"
      val scoreOps = s"len(list_filter($tok, t -> t IN ('merge', 'batch', 'stream', 'window')))"
      s"""WITH ${Dedup.exactNearCtesFor(Dedup.corpusSql)},
          drops AS (SELECT DISTINCT id2 AS doc_id FROM truenear),
          exact AS (
            SELECT md5(text) AS h, MIN(doc_id) AS keep_id
            FROM corpus GROUP BY 1),
          clean AS (
            SELECT c.doc_id, c.text
            FROM corpus c
            JOIN exact e ON md5(c.text) = e.h AND c.doc_id = e.keep_id
            LEFT JOIN drops d ON d.doc_id = c.doc_id
            WHERE d.doc_id IS NULL),
          scored AS (
            SELECT doc_id, text,
                   CAST(len($tok) AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct($tok)) * 1000
                        + len(list_filter($tok, t -> t IN ('a', 'the'))) * 100
                        - length(regexp_replace(text, '[a-z\\s]', '', 'g')) * 10
                        AS DOUBLE) / len($tok) AS quality,
                   $scoreEn AS score_en, $scoreDb AS score_db,
                   $scoreOps AS score_ops
            FROM clean),
          tagged AS (
            SELECT doc_id, n_tokens,
                   CASE WHEN score_ops >= score_en AND score_ops >= score_db
                          THEN 'ops'
                        WHEN score_en >= score_db THEN 'en'
                        ELSE 'db' END AS lang
            FROM scored WHERE quality >= $floor),
          off AS (
            SELECT doc_id, n_tokens, lang,
                   COALESCE(CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS BIGINT), 0) AS strt
            FROM tagged)
          SELECT strt // $ChunkBudget AS chunk_id, COUNT(*) AS n_docs,
                 CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
                 MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
                 string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs
          FROM off GROUP BY 1"""
    },
    // the p11 sqrt-share device over TOKEN counts + exact budget math;
    // every arithmetic step written in the same association order as
    // the Spark side so the IEEE sequences match
    "p12_token_budget" -> {
      val tok = TextAnalysis.tokensSql
      s"""WITH c AS (
            SELECT lang, COUNT(*) AS n_docs,
                   CAST(SUM(len($tok)) AS BIGINT) AS n_tokens
            FROM documents GROUP BY 1),
          tot AS (
            SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   list_reduce(list_prepend(0.0, list(sqrt(n_tokens) ORDER BY lang)),
                               (acc, x) -> acc + x) AS s
            FROM c)
          SELECT lang, n_docs, n_tokens,
                 sqrt(n_tokens) / s AS q_share,
                 (CAST(total_tokens * $BudgetMultiple AS DOUBLE) * sqrt(n_tokens)) / s
                   AS target_tokens,
                 ((CAST(total_tokens * $BudgetMultiple AS DOUBLE) * sqrt(n_tokens)) / s)
                   / n_tokens AS epochs_raw,
                 LEAST(((CAST(total_tokens * $BudgetMultiple AS DOUBLE) * sqrt(n_tokens)) / s)
                   / n_tokens, $MaxEpochs) AS epochs,
                 LEAST(((CAST(total_tokens * $BudgetMultiple AS DOUBLE) * sqrt(n_tokens)) / s)
                   / n_tokens, $MaxEpochs) * n_tokens AS alloc_tokens,
                 ((CAST(total_tokens * $BudgetMultiple AS DOUBLE) * sqrt(n_tokens)) / s)
                   / n_tokens > $MaxEpochs AS data_constrained
          FROM c CROSS JOIN tot"""
    },
    "p15_dist_drift" ->
      """WITH c AS (
           SELECT lang,
                  CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_old,
                  CAST(SUM(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_new
           FROM documents GROUP BY 1),
         t AS (SELECT CAST(SUM(n_old) AS BIGINT) AS tot_old,
                      CAST(SUM(n_new) AS BIGINT) AS tot_new FROM c),
         per AS (
           SELECT lang, n_old, n_new,
                  CAST(tot_new * n_old AS DOUBLE) / tot_old AS expected_new
           FROM c CROSS JOIN t),
         per2 AS (
           SELECT *, CASE WHEN expected_new = 0 THEN CAST('inf' AS DOUBLE)
                          ELSE (n_new - expected_new) * (n_new - expected_new)
                               / expected_new END AS contribution
           FROM per),
         tot2 AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS k,
                  list_reduce(list_prepend(0.0, list(contribution ORDER BY lang)),
                              (a, x) -> a + x) AS chi2
           FROM per2)
         SELECT lang, n_old, n_new, expected_new, contribution, chi2,
                k - 1 AS dof
         FROM per2 CROSS JOIN tot2""",
    // the exact (banding-free) all-pairs near set with the same split
    // arithmetic — the comparison re-proves the map-side banding's full
    // ≥0.5-jaccard recall every round (see p01's oracle comment)
    "p13_split_decontam" ->
      s"""WITH ${Dedup.exactNearCtesFor(Dedup.corpusSql)},
          x AS (
            SELECT id1, id2, inter, n1, n2,
                   CASE WHEN (id1 * 2654435761) % 1000 < 800 THEN 'train'
                        WHEN (id1 * 2654435761) % 1000 < 900 THEN 'val'
                        ELSE 'test' END AS sp1,
                   CASE WHEN (id2 * 2654435761) % 1000 < 800 THEN 'train'
                        WHEN (id2 * 2654435761) % 1000 < 900 THEN 'val'
                        ELSE 'test' END AS sp2
            FROM truenear),
          c AS (
            SELECT CASE WHEN sp1 = 'train' THEN id2 ELSE id1 END AS eval_doc_id,
                   CASE WHEN sp1 = 'train' THEN sp2 ELSE sp1 END AS eval_split,
                   CASE WHEN sp1 = 'train' THEN id1 ELSE id2 END AS train_doc_id,
                   inter * 100.0 / (n1 + n2 - inter) AS jacc_pct
            FROM x WHERE (sp1 = 'train') <> (sp2 = 'train'))
          SELECT CAST(eval_doc_id AS BIGINT) AS eval_doc_id, eval_split,
                 CAST(COUNT(*) AS BIGINT) AS n_train_dups,
                 MAX(jacc_pct) AS max_jacc_pct,
                 CAST(MIN(train_doc_id) AS BIGINT) AS min_train_doc
          FROM c GROUP BY 1, 2""",
    // p13's exact-pair device + the p07 hash split, applied as removal
    "p14_decontam_quarantine" ->
      s"""WITH ${Dedup.exactNearCtesFor(Dedup.corpusSql)},
          tagged AS (
            SELECT doc_id, md5(text) AS h,
                   CASE WHEN (doc_id * 2654435761) % 1000 < 800 THEN 'train'
                        WHEN (doc_id * 2654435761) % 1000 < 900 THEN 'val'
                        ELSE 'test' END AS split
            FROM corpus),
          x AS (
            SELECT id1, id2,
                   CASE WHEN (id1 * 2654435761) % 1000 < 800 THEN 'train'
                        ELSE 'eval' END AS sp1,
                   CASE WHEN (id2 * 2654435761) % 1000 < 800 THEN 'train'
                        ELSE 'eval' END AS sp2
            FROM truenear),
          nearev AS (
            SELECT DISTINCT CASE WHEN sp1 = 'train' THEN id2 ELSE id1 END AS doc_id
            FROM x WHERE sp1 <> sp2),
          trainh AS (SELECT DISTINCT h FROM tagged WHERE split = 'train'),
          exactev AS (
            SELECT DISTINCT t.doc_id FROM tagged t
            JOIN trainh USING (h) WHERE t.split <> 'train'),
          q AS (SELECT doc_id FROM nearev UNION SELECT doc_id FROM exactev)
          SELECT t.split AS orig_split, COUNT(*) AS n_docs,
                 CAST(SUM(CASE WHEN q.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_quarantined,
                 CAST(SUM(CASE WHEN q.doc_id IS NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_kept
          FROM tagged t LEFT JOIN q ON q.doc_id = t.doc_id
          GROUP BY 1""",
    "p11_temperature_mix" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
          tot AS (
            SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
                   list_reduce(list(sqrt(n_docs) ORDER BY lang),
                               (acc, x) -> acc + x) AS s
            FROM c)
          SELECT lang, n_docs,
                 CAST(n_docs AS DOUBLE) / n_total AS p_share,
                 sqrt(n_docs) AS w,
                 sqrt(n_docs) / s AS q_share,
                 sqrt(n_docs) / s * n_total / n_docs AS eff_factor
          FROM c CROSS JOIN tot""",
    "p09_domain_cap" -> {
      val tok = TextAnalysis.tokensSql
      s"""WITH scored AS (
            SELECT doc_id, source,
                   CAST(len(list_distinct($tok)) * 1000
                        + len(list_filter($tok, t -> t IN ('a', 'the'))) * 100
                        - length(regexp_replace(text, '[a-z\\s]', '', 'g')) * 10 AS DOUBLE)
                     / len($tok) AS quality
            FROM documents),
          rk AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                         ORDER BY quality DESC, doc_id) AS rk
            FROM scored)
          SELECT source, COUNT(*) AS n_docs,
                 CAST(SUM(CASE WHEN rk <= $DomainCap THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                 CAST(SUM(CASE WHEN rk > $DomainCap THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
                 MIN(CASE WHEN rk <= $DomainCap THEN quality END) AS min_kept_quality,
                 SUM(CASE WHEN rk > $DomainCap THEN 1 ELSE 0 END) > 0 AS cap_hit
          FROM rk GROUP BY 1"""
    },
    "p10_shard_shuffle" ->
      s"""WITH d AS (
            SELECT doc_id,
                   len(${TextAnalysis.tokensSql}) AS n_toks,
                   (doc_id * 2246822519) % 1048573 AS k
            FROM documents),
          q AS (
            SELECT *, k % $ShardCount AS shard,
                   ROW_NUMBER() OVER (PARTITION BY k % $ShardCount
                                      ORDER BY k, doc_id) AS seq
            FROM d)
          SELECT shard, COUNT(*) AS n_docs,
                 CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
                 CAST(SUM(seq * doc_id) AS BIGINT) AS order_sig,
                 MIN(k) AS min_key, MAX(k) AS max_key
          FROM q GROUP BY 1""",
    "p07_hash_split" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
           UNION ALL
           SELECT doc_id + 2000000, substring(text, instr(text, ' ') + 1)
           FROM documents WHERE doc_id % 10 = 5),
         tagged AS (
           SELECT doc_id, length(text) AS n_chars, md5(text) AS h,
                  CASE WHEN (doc_id * 2654435761) % 1000 < 800 THEN 'train'
                       WHEN (doc_id * 2654435761) % 1000 < 900 THEN 'val'
                       ELSE 'test' END AS split
           FROM corpus),
         leaking AS (
           SELECT h FROM tagged GROUP BY h HAVING COUNT(DISTINCT split) > 1)
         SELECT split, COUNT(*) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                CAST(SUM(CASE WHEN h IN (SELECT h FROM leaking)
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked
         FROM tagged GROUP BY 1""",
    "p08_source_overlap" ->
      """WITH sh AS (
           SELECT DISTINCT source, md5(text) AS h FROM (
             SELECT source, text FROM documents
             UNION ALL
             SELECT 'mirror', text FROM documents WHERE doc_id % 10 = 0)),
         sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY 1)
         SELECT a.source AS src1, b.source AS src2, COUNT(*) AS n_shared,
                MIN(s1.n) AS n1, MIN(s2.n) AS n2,
                CAST(COUNT(*) AS DOUBLE) / (MIN(s1.n) + MIN(s2.n) - COUNT(*))
                  AS jaccard
         FROM sh a
         JOIN sh b ON a.h = b.h AND a.source < b.source
         JOIN sizes s1 ON s1.source = a.source
         JOIN sizes s2 ON s2.source = b.source
         GROUP BY 1, 2""",
    "p06_corpus_summary" -> {
      val tok = TextAnalysis.tokensSql
      s"""WITH base AS (
            SELECT lang, source,
                   CAST(len($tok) AS BIGINT) AS n_tokens,
                   md5(text) AS h,
                   CAST(len(list_distinct($tok)) * 1000
                        + len(list_filter($tok, t -> t IN ('a', 'the'))) * 100
                        - length(regexp_replace(text, '[a-z\\s]', '', 'g')) * 10 AS DOUBLE)
                     / len($tok) AS quality
            FROM documents)
          SELECT COUNT(*) AS n_docs,
                 CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                 COUNT(DISTINCT lang) AS n_langs,
                 COUNT(DISTINCT source) AS n_sources,
                 CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_dup_docs,
                 MIN(quality) AS q_min,
                 quantile_cont(quality, 0.5) AS q_median,
                 MAX(quality) AS q_max
          FROM base"""
    },
    "p05_filter_funnel" -> {
      val tok = TextAnalysis.tokensSql
      s"""WITH base AS (
            SELECT CAST(len($tok) AS BIGINT) AS n,
                   CAST(list_sum(list_transform($tok, t -> length(t))) AS DOUBLE)
                     / len($tok) AS avglen,
                   CAST(len(list_distinct($tok)) AS DOUBLE) / len($tok) AS ndr,
                   len(list_filter($tok, t -> t IN ('a', 'the', 'value'))) AS nstop,
                   CAST(list_max(list_transform(list_distinct($tok),
                          u -> len(list_filter($tok, t -> t = u)))) AS DOUBLE)
                     / len($tok) AS topshare
            FROM documents),
          f AS (
            SELECT COUNT(*) AS n0,
                   CAST(COUNT(*) FILTER (n >= 20) AS BIGINT) AS s1,
                   CAST(COUNT(*) FILTER (n >= 20 AND avglen >= 3.0 AND avglen <= 5.0)
                        AS BIGINT) AS s2,
                   CAST(COUNT(*) FILTER (n >= 20 AND avglen >= 3.0 AND avglen <= 5.0
                        AND ndr >= 0.33) AS BIGINT) AS s3,
                   CAST(COUNT(*) FILTER (n >= 20 AND avglen >= 3.0 AND avglen <= 5.0
                        AND ndr >= 0.33 AND nstop >= 2) AS BIGINT) AS s4,
                   CAST(COUNT(*) FILTER (n >= 20 AND avglen >= 3.0 AND avglen <= 5.0
                        AND ndr >= 0.33 AND nstop >= 2 AND topshare <= 0.125)
                        AS BIGINT) AS s5
            FROM base)
          SELECT CAST(stage AS INT) AS stage, rule, n_in, n_out,
                 n_in - n_out AS n_rejected
          FROM (
            SELECT 1 AS stage, 'min_tokens' AS rule, n0 AS n_in, s1 AS n_out FROM f
            UNION ALL SELECT 2, 'word_len', s1, s2 FROM f
            UNION ALL SELECT 3, 'distinct_ratio', s2, s3 FROM f
            UNION ALL SELECT 4, 'stopwords', s3, s4 FROM f
            UNION ALL SELECT 5, 'repetition', s4, s5 FROM f) u"""
    },
    // sqrt is IEEE-correctly-rounded in both engines; the division input
    // is exact integers, so rates agree bit-for-bit
    "p02_domain_mix" ->
      """WITH cnt AS (SELECT lang, COUNT(*) AS n_orig FROM documents GROUP BY lang),
          m AS (SELECT MIN(n_orig) AS min_n FROM cnt),
          r AS (SELECT lang, n_orig,
                       CAST(FLOOR(SQRT(CAST(min_n AS DOUBLE) / n_orig) * 4096) AS BIGINT)
                         AS keep_ceiling
                FROM cnt, m)
          SELECT d.lang, r.n_orig, COUNT(*) AS n_kept,
                 CAST(COUNT(*) AS DOUBLE) / r.n_orig AS kept_frac
          FROM documents d JOIN r USING (lang)
          WHERE (d.doc_id * 2654435761) % 4096 < r.keep_ceiling
          GROUP BY d.lang, r.n_orig""",
    "p04_corpus_report" -> {
      val tok = TextAnalysis.tokensSql
      s"""WITH base AS (
            SELECT lang, source,
                   CAST(len($tok) AS BIGINT) AS n_tokens,
                   md5(text) AS h,
                   CAST(len(list_distinct($tok)) * 1000
                        + len(list_filter($tok, t -> t IN ('a', 'the'))) * 100
                        - length(regexp_replace(text, '[a-z\\s]', '', 'g')) * 10 AS DOUBLE)
                     / len($tok) AS quality
            FROM documents)
          SELECT lang, source, COUNT(*) AS n_docs,
                 CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                 CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_dup_docs,
                 MIN(quality) AS q_min,
                 quantile_cont(quality, 0.5) AS q_median,
                 MAX(quality) AS q_max
          FROM base GROUP BY 1, 2"""
    },
    "p03_weighted_sample" -> {
      val tok = TextAnalysis.tokensSql
      s"""WITH q AS (
            SELECT doc_id,
                   CAST(len(list_distinct($tok)) * 1000
                        + len(list_filter($tok, t -> t IN ('a', 'the'))) * 100
                        - length(regexp_replace(text, '[a-z\\s]', '', 'g')) * 10 AS DOUBLE)
                     / len($tok) AS quality
            FROM documents),
          m AS (SELECT MAX(quality) AS qmax FROM q)
          SELECT doc_id, quality, (0.5 * quality) / qmax AS keep_prob
          FROM q, m
          WHERE CAST((doc_id * 2654435761) % 1000003 AS DOUBLE) * qmax
                  < 500001.5 * quality"""
    },
  )
}
