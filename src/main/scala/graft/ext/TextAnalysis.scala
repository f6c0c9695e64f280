package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: tokenization, quality scoring, language-ID,
  * n-gram stats, document fingerprinting.
  *
  * Two hashing strategies exist side by side:
  *  - the scale path uses `xxhash64` (codegen'd, no global state) — this is
  *    what runs on 100 TB;
  *  - the oracle path uses a *token dictionary* (dense_rank over distinct
  *    tokens) + affine hashes mod a prime: pure integer arithmetic that
  *    DuckDB reproduces bit-for-bit, which is what differential testing
  *    needs. The dictionary is a deliberate test-only device — a global
  *    rank is a global sort and would be the bottleneck at scale.
  */
object TextAnalysis {

  type Q = (SparkSession, String) => DataFrame

  /** Whitespace tokenization, shared by every operator here. */
  def tokens(text: Column): Column = split(text, "\\s+")
  val tokensSql = "string_split_regex(text, '\\s+')"

  /** Stopword list used for quality scoring + langid markers (the corpus
    * is the generator's word soup; markers are parameters, not linguistics). */
  val stopwords: Seq[String] = Seq("a", "the")

  /** Distinct-token dictionary: token → dense id in lexicographic order.
    * Oracle-portable; see class note for the scale caveat. */
  def dictionary(docs: DataFrame): DataFrame = {
    docs.select(explode(tokens(col("text"))).as("tok"))
      .where(col("tok") =!= "").distinct()
      .withColumn("tok_id", dense_rank().over(Window.orderBy(col("tok"))).cast("long"))
  }

  /** (doc_id, pos, tok) exploded view. */
  def tokenized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .where(col("tok") =!= "")

  // --- queries ---------------------------------------------------------

  /** Token counting: total / distinct / mean token length per document. */
  def t01TokenStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(
      $"doc_id",
      size(tokens($"text")).as("n_tokens"),
      size(array_distinct(tokens($"text"))).as("n_distinct"),
      (aggregate(transform(tokens($"text"), t => length(t)), lit(0), (acc, x) => acc + x)
        .cast("double") / size(tokens($"text"))).as("avg_tok_len"))
  }

  /** Corpus stats per language tag. */
  def t02LangStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
           (sum($"n_chars").cast("double") / count(lit(1))).as("avg_chars"),
           countDistinct($"source").as("n_sources"))
  }

  /** Quality scoring: integer component counts + one final division, so
    * both engines agree exactly. Components: token count, distinct ratio,
    * stopword ratio, mean word length. */
  def t03QualityScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokens($"text")
    val stopArr = array(stopwords.map(lit): _*)
    Tables.documents(spark, dir).select(
        $"doc_id",
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_distinct"),
        size(filter(toks, t => array_contains(stopArr, t))).as("n_stop"),
        length(regexp_replace($"text", "[a-z\\s]", "")).as("n_nonalpha"))
      .withColumn("quality",
        ($"n_distinct" * 1000 + $"n_stop" * 100 - $"n_nonalpha" * 10).cast("double")
          / $"n_tokens")
  }

  /** Language-ID by marker-token scoring (n-gram-heuristic shaped;
    * marker sets are parameters — see [[langId]]). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "value"),
    "db" -> Seq("table", "row", "column", "query"),
    "ops" -> Seq("merge", "batch", "stream", "window"))

  def langScore(toks: Column, markers: Seq[String]): Column = {
    val arr = array(markers.map(lit): _*)
    size(filter(toks, t => array_contains(arr, t)))
  }

  def t04LangId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokens($"text")
    val scoreCols = langMarkers.map { case (l, ms) => langScore(toks, ms).as(s"score_$l") }
    val scored = Tables.documents(spark, dir).select(
      ($"doc_id" +: $"lang".as("tagged_lang") +: scoreCols): _*)
    // deterministic argmax: highest score, ties by language name order
    val best = langMarkers.map { case (l, _) =>
      struct(col(s"score_$l").as("s"), lit(l).as("l"))
    }
    scored.withColumn("predicted",
        sort_array(array(best: _*), asc = false).getItem(0).getField("l"))
      .select($"doc_id", $"tagged_lang", $"predicted",
              $"score_en", $"score_db", $"score_ops")
  }

  /** Document fingerprint over dictionary token-ids: two accumulator hashes
    * mod 1e9+7 (pure integer math; order-independent sums so the shuffle
    * can't perturb it). */
  def t05Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = 1000000007L
    val docs = Tables.documents(spark, dir)
    tokenized(docs).join(dictionary(docs), "tok")
      .groupBy($"doc_id")
      .agg(
        (sum(($"pos" + 1) * $"tok_id") % p).as("fp_pos"),
        (sum($"tok_id" * $"tok_id" + $"pos") % p).as("fp_sq"),
        count(lit(1)).as("n_tokens"))
  }

  /** Scale-path fingerprint: token ids from `xxhash64` mod a prime instead
    * of the dictionary's global dense_rank — no global sort; a map + one
    * groupBy at any corpus size. Modulus [[Dedup.P]] (~1e6) keeps
    * `tok_id²·n_tokens` far from Long overflow. (No oracle — xxhash64 is
    * Spark-specific; ExtSpec asserts exact copies collide and near copies
    * don't.) */
  def fingerprintScaleOf(docs: DataFrame): DataFrame = {
    val p = 1000000007L
    tokenized(docs)
      .select(col("doc_id"), col("pos"),
              pmod(xxhash64(col("tok")), lit(Dedup.P)).as("tok_id"))
      .groupBy(col("doc_id"))
      .agg(
        (sum((col("pos") + 1) * col("tok_id")) % p).as("fp_pos"),
        (sum(col("tok_id") * col("tok_id") + col("pos")) % p).as("fp_sq"),
        count(lit(1)).as("n_tokens"))
  }

  def fingerprintScale(spark: SparkSession, dir: String): DataFrame =
    fingerprintScaleOf(Tables.documents(spark, dir))

  /** t25: ROC-AUC of the t03 quality score against each language,
    * one-vs-rest — the classifier-calibration/bias audit a curation
    * pipeline runs before gating on a heuristic score (t03 counts `[a-z]`
    * stopwords and latin-alphabet noise, so "does it systematically rank
    * one language's documents lower?" is exactly the question; an AUC far
    * from 0.5 for a language says the gate doubles as a language filter).
    *
    * AUC via the rank-sum (Mann–Whitney U) identity, in EXACT integer
    * arithmetic until one final division: group docs by score value,
    * running count gives each tie-group's `2·avg_rank = 2·cum_below+n+1`,
    * and AUC = (Σ pos·2r − n_pos(n_pos+1)) / (2·n_pos·n_neg). No
    * per-pair comparison anywhere — the naive definition is O(N²); this
    * is one 5× broadcast fan-out, one groupBy(lang, score), one window
    * over DISTINCT SCORE VALUES (score-cardinality rows, not corpus), one
    * agg. Tie groups form on the double score — bit-identical in both
    * engines (one IEEE division of exact ints), so grouping agrees. At a
    * corpus where rank-sums near 2^53, the eval subsamples per stratum
    * first (the measurement does not need the full population). */
  def t25QualityAuc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokens($"text")
    val stopArr = array(stopwords.map(lit): _*)
    val scored = Tables.documents(spark, dir).select(
      $"lang",
      ((size(array_distinct(toks)) * 1000
        + size(filter(toks, t => array_contains(stopArr, t))) * 100
        - length(regexp_replace($"text", "[a-z\\s]", "")) * 10).cast("double")
        / size(toks)).as("quality"))
    val langs = scored.select($"lang".as("cand")).distinct()
    val labeled = scored.crossJoin(broadcast(langs))
      .select($"cand", $"quality", ($"lang" === $"cand").cast("long").as("pos"))
    val byVal = labeled.groupBy($"cand", $"quality")
      .agg(count(lit(1)).as("n_v"), sum($"pos").as("pos_v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"cand").orderBy($"quality")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    byVal.withColumn("cum_below", sum($"n_v").over(w) - $"n_v")
      .groupBy($"cand")
      .agg(sum($"pos_v" * (lit(2L) * $"cum_below" + $"n_v" + 1L)).as("s2"),
        sum($"pos_v").as("n_pos"), sum($"n_v").as("n_all"))
      .select($"cand".as("lang"), $"n_pos", ($"n_all" - $"n_pos").as("n_neg"),
        $"s2".as("rank2_sum"),
        (($"s2" - $"n_pos" * ($"n_pos" + 1L)).cast("double") /
          (lit(2L) * $"n_pos" * ($"n_all" - $"n_pos")).cast("double")).as("auc"))
  }

  /** BPE-ish subword tokenization: a regex over letter runs / digit runs /
    * single non-alphanumeric marks — the classic pre-tokenizer shape used
    * before byte-pair merging. Counting only (merging is model-specific);
    * runs entirely inside codegen. */
  def t08SubwordTokens(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val subs = expr("""regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)""")
    Tables.documents(spark, dir)
      .select($"doc_id", subs.as("subs"))
      .select($"doc_id",
        size($"subs").as("n_sub"),
        size(array_distinct($"subs")).as("n_distinct_sub"),
        aggregate(transform($"subs", s => length(s)), lit(0),
          (acc, x) => greatest(acc, x)).as("max_sub_len"))
  }

  // --- t22: tokenizer fertility by language ----------------------------

  /** t22: tokenizer fertility — subwords-per-word and chars-per-subword
    * per language slice, from the t08 pre-tokenizer. Fertility is THE
    * per-language tokenizer-efficiency readout a multilingual training
    * run checks before committing to a vocabulary: a high-fertility
    * language pays more sequence length for the same text. All components
    * are integer sums (subword counts, word counts, subword char totals)
    * with two final divisions, so both engines agree exactly. One
    * map-side projection + one tiny per-lang agg — no shuffle beyond the
    * group-by at any corpus size. */
  def t22TokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val subs = expr("""regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)""")
    val toks = tokens($"text")
    Tables.documents(spark, dir)
      .select($"lang", size(subs).as("n_sub"), size(toks).as("n_words"),
        aggregate(transform(subs, s => length(s)), lit(0), _ + _).as("sub_chars"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_words").as("n_words"),
        sum($"n_sub").as("n_subwords"),
        sum($"sub_chars").as("n_sub_chars"))
      .withColumn("fertility", $"n_subwords".cast("double") / $"n_words")
      .withColumn("chars_per_subword", $"n_sub_chars".cast("double") / $"n_subwords")
  }

  // --- t23: character-distribution diversity ----------------------------

  /** Gini–Simpson character diversity per document — the cheap "is this
    * real text or degenerate filler" gate that catches aaaaaa…-style
    * collapse and base64-ish uniformity where word-level scores (t03) are
    * blind. The letter histogram is 26 length-difference expressions
    * (`length(text) - length(replace(text, c))`), so the whole operator is
    * one codegen'd map-side projection — no explode, no shuffle, and the
    * Simpson sums are exact integer arithmetic: num = Σ n_c·(n_c−1),
    * den = N·(N−1), diversity = 1 − num/den (one IEEE division,
    * engine-exact — the rational-score device of t09/t15). Scales as a
    * pure scan at any corpus size. */
  def t23CharDiversity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = ('a' to 'z').map(c =>
      (length($"text") - length(regexp_replace($"text", c.toString, "")))
        .cast("long"))
    val n = counts.reduce(_ + _)
    val num = counts.map(c => c * (c - 1L)).reduce(_ + _)
    val distinct = counts.map(c => when(c > 0L, 1L).otherwise(0L)).reduce(_ + _)
    Tables.documents(spark, dir)
      .select($"doc_id", n.as("n_letters"), distinct.as("distinct_letters"),
        num.as("simpson_num"), (n * (n - 1L)).as("simpson_den"))
      .withColumn("diversity",
        when($"simpson_den" > 0L,
          lit(1.0) - $"simpson_num".cast("double") / $"simpson_den"))
  }

  /** t24: vocabulary-growth (Heaps' law) curve — cumulative distinct
    * token types vs cumulative tokens at 50-document checkpoints. The
    * curve's flattening is the classic "is more data still adding
    * vocabulary" signal for corpus sizing. NOT computed as per-checkpoint
    * distinct-counts (that's quadratic re-scanning): each type contributes
    * at exactly its FIRST-occurrence document, so one groupBy(token) →
    * min(doc_id), one bucket rollup, and a cumulative window over the
    * checkpoint rows (checkpoint-cardinality data, driver-report-sized —
    * the same shape at any corpus size). */
  def t24HeapsLaw(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", explode(tokens($"text")).as("tok"))
    val bucketOf = (c: Column) => floor(c / 50.0).cast("long")
    val perBucket = toks.groupBy(bucketOf($"doc_id").as("b"))
      .agg(count(lit(1)).as("n_toks"))
    val newTypes = toks.groupBy($"tok").agg(min($"doc_id").as("fd"))
      .groupBy(bucketOf($"fd").as("b")).agg(count(lit(1)).as("new_types"))
    val w = Window.orderBy($"b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket.join(newTypes, Seq("b"), "left")
      .withColumn("new_types", coalesce($"new_types", lit(0L)))
      .select((($"b" + 1L) * 50L).as("checkpoint_docs"),
        sum($"n_toks").over(w).as("cum_tokens"),
        sum($"new_types").over(w).as("vocab_size"))
      .withColumn("ttr",
        $"vocab_size".cast("double") / $"cum_tokens".cast("double"))
  }

  /** t26: Zipf rank-frequency audit — [[t24HeapsLaw]]'s companion sizing
    * signal: for natural-language-like corpora frequency·rank is roughly
    * constant (Zipf's law), and a corpus whose top ranks deviate wildly
    * (flat = synthetic/uniform soup, cliff = boilerplate domination) is
    * flagged before training. Read out per top-50 token: rank, count,
    * the EXACT integer Zipf product count·rank, and the corpus share
    * (one division). Shape: one map-side-combined token count, then
    * TakeOrderedAndProject to 50 rows BEFORE the rank window — the
    * window sorts 50 rows, never the vocabulary (ranks equal the global
    * ones because the pre-limit uses the same (count desc, token)
    * order). */
  def t26ZipfAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.documents(spark, dir)
      .select(explode(tokens($"text")).as("tok"))
      .filter($"tok" =!= "")
      .groupBy($"tok").agg(count(lit(1)).as("n"))
    val total = counts.agg(sum($"n").as("total"))
    val top = counts.orderBy($"n".desc, $"tok").limit(50)
    val w = Window.orderBy($"n".desc, $"tok")
    top.withColumn("rank", row_number().over(w))
      .crossJoin(broadcast(total))
      .select($"rank", $"tok", $"n",
        ($"n" * $"rank").as("zipf_product"),
        ($"n".cast("double") / $"total").as("share"))
  }

  // --- t12: PII redaction ----------------------------------------------

  /** PII patterns in the RE2 ∩ java.util.regex common subset (no
    * lookaround, no backreferences — both engines match identically). */
  val EmailRe = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe = "\\+1-[0-9]{3}-[0-9]{4}"
  val Ipv4Re = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** PII detection + redaction: count and mask emails / phone numbers /
    * IPv4 addresses. The corpus is synthetic word soup, so a deterministic
    * PII suffix is derived from document columns first; the scan then
    * counts and rewrites in one codegen'd projection — no shuffle, no UDF.
    * Redaction order (email → phone → ip) is part of the contract: earlier
    * masks can't create later matches with these patterns. */
  def t12PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pii = concat(
      $"text", lit(" contact user"), $"doc_id".cast("string"),
      lit("@example.com or +1-555-"), lpad(($"doc_id" % 10000).cast("string"), 4, "0"),
      lit(" from 10.0."), ($"doc_id" % 256).cast("string"), lit(".7"))
    Tables.documents(spark, dir)
      .select($"doc_id", pii.as("pii_text"))
      .select(
        $"doc_id",
        regexp_count($"pii_text", lit(EmailRe)).as("n_emails"),
        regexp_count($"pii_text", lit(PhoneRe)).as("n_phones"),
        regexp_count($"pii_text", lit(Ipv4Re)).as("n_ips"),
        regexp_replace(
          regexp_replace(
            regexp_replace($"pii_text", EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>"),
          Ipv4Re, "<IP>").as("redacted"))
  }

  // --- t13: repetition signals -------------------------------------------

  /** Gopher-style repetition quality signals: duplicate-token fraction
    * and the share of the most frequent word-bigram. Token stats are
    * map-side array ops; the bigram mode needs one (doc, bigram) partial
    * agg + one per-doc agg — both keyed by doc, so the plan is two
    * map-combined shuffles over doc_id at any corpus size. */
  def t13Repetition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val base = docs.select(
      $"doc_id",
      size(tokens($"text")).as("n_tokens"),
      size(array_distinct(tokens($"text"))).as("n_distinct"))
    val bigrams = when(size($"toks") >= 2,
      transform(sequence(lit(0), size($"toks") - 2),
        i => concat_ws(" ", element_at($"toks", i + 1), element_at($"toks", i + 2))))
      .otherwise(array())
    val biStats = docs
      .select($"doc_id", tokens($"text").as("toks")) // own projection: no CSE in lambdas
      .select($"doc_id", explode(bigrams).as("bigram"))
      .groupBy($"doc_id", $"bigram").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(max($"c").as("top_bi"), sum($"c").as("n_bi"))
    base.join(biStats, Seq("doc_id"), "left")
      .select(
        $"doc_id", $"n_tokens",
        // coalesce guards 0/0 on an empty document: Spark's divide yields
        // NULL for a zero divisor while DuckDB yields NaN — NULLIF+COALESCE
        // on the oracle side routes both through NULL → 0.0
        coalesce(($"n_tokens" - $"n_distinct").cast("double") / nullif($"n_tokens", lit(0)),
          lit(0.0)).as("dup_token_frac"),
        coalesce($"top_bi".cast("double") / $"n_bi", lit(0.0)).as("top_bigram_share"))
  }

  /** Top word-3-gram frequencies (deterministic top-20). Shingling is a
    * map-side array transform — the only shuffle is the count aggregation,
    * and TakeOrderedAndProject handles the top-k without a global sort. */
  def t06NgramFreq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sh = when(size($"toks") >= 3,
      transform(sequence(lit(0), size($"toks") - 3),
        i => concat_ws(" ", element_at($"toks", i + 1), element_at($"toks", i + 2),
                            element_at($"toks", i + 3))))
      .otherwise(array())
    Tables.documents(spark, dir)
      .select(tokens($"text").as("toks")) // own projection: no CSE in lambdas
      .select(explode(sh).as("ngram"))
      .groupBy($"ngram").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"ngram")
      .limit(20)
  }

  /** TF-IDF top-terms per document. Exact cross-engine form: idf is kept
    * as the rational N/df instead of ln((N+1)/(df+1)) — Math.log is only
    * 1-ulp-accurate and libm/JVM may round differently, while
    * `(tf·N)/df` is ONE correctly-rounded double division over exact
    * integers (tf·N ≪ 2^53). Monotone in the true tf·idf for fixed tf,
    * so top-k membership is the same ranking a log-idf would give per
    * term frequency tier. Shape at 100 TB: tf is a map-side explode +
    * one (doc,term) agg; df one (term) agg; the scalar N broadcasts;
    * top-3 is a per-doc window over ≤ |terms-per-doc| rows. */
  def t09TfIdf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val tok = tokenized(docs).select($"doc_id", $"tok".as("term"))
    val tf = tok.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    // NOTE (r19, measured): deriving df FROM tf (per-term row count of
    // the (doc,term) agg) does NOT share tf's exchange — Catalyst prunes
    // the unused count, the df branch canonicalizes to a distinct
    // aggregate, and the subtrees stop matching, so the corpus explode
    // ran twice anyway plus an extra two-level agg (1.32 → 1.59 s).
    // Kept the direct per-term distinct-count form.
    val df = tok.groupBy($"term").agg(countDistinct($"doc_id").as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy($"doc_id")
      .orderBy($"score".desc, $"term")
    tf.join(df, "term")
      .crossJoin(n) // 1-row broadcast
      .withColumn("score", ($"tf" * $"n_docs").cast("double") / $"df")
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 3)
      .select($"doc_id", $"term", $"tf", $"df", $"score", $"rnk")
  }

  /** Vocabulary pruning (min_df / max_df — the CountVectorizer-style
    * vocab build every corpus pipeline runs): keep terms seen in ≥ 50
    * documents but ≤ 79% of the corpus. Two aggs (per-term df/tf and the
    * corpus size) and a broadcast of one scalar — nothing here is
    * corpus-size-bound except the term table itself. */
  def t10VocabPrune(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val tok = tokenized(docs).select($"doc_id", $"tok".as("term"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tok.groupBy($"term")
      .agg(countDistinct($"doc_id").as("df"), count(lit(1)).as("total_tf"))
      .crossJoin(n) // 1-row broadcast
      .filter($"df" >= 50 && $"df" * 100 <= $"n_docs" * 79)
      .select($"term", $"df", $"total_tf")
  }

  /** Token-stream packing: concatenate the corpus in doc_id order and
    * cut fixed 512-token training chunks (the GPT-style pack-then-split
    * batch shape). A document's chunk is decided by its starting offset
    * in the stream = the exclusive prefix sum of token counts.
    *
    * The prefix sum is HIERARCHICAL, not a global-window scan: doc_id
    * buckets of 100 docs get an intra-bucket running sum (window
    * partitioned BY BUCKET — parallel), bucket totals get a tiny
    * bucket-level running sum (rows = corpus/100, metadata-sized the
    * same way AQE stats are), and the two add up to the global offset.
    * No single-partition pass ever sees O(corpus) rows. */
  /** Hierarchical-prefix-sum chunk assignment (see [[t11TokenPacking]]):
    * input (doc_id, n_tokens) → + chunk_id. Reused by the curation
    * pipeline over its filtered doc set. */
  def assignChunks(counts0: DataFrame, budget: Long): DataFrame = {
    val counts = counts0
      .select(col("doc_id"), expr("doc_id div 100").as("bucket"), col("n_tokens"))
    val wIntra = Window.partitionBy(col("bucket"))
      .orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, -1)
    val intra = counts.withColumn("intra_off",
      coalesce(sum(col("n_tokens")).over(wIntra), lit(0L)))
    val wBucket = Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, -1)
    val bucketOff = counts.groupBy(col("bucket"))
      .agg(sum(col("n_tokens")).as("bucket_total"))
      .withColumn("bucket_off", coalesce(sum(col("bucket_total")).over(wBucket), lit(0L)))
      .select(col("bucket"), col("bucket_off"))
    intra.join(bucketOff, "bucket")
      // div, not `/`: Column./ is always double division
      .withColumn("chunk_id", expr(s"(intra_off + bucket_off) div $budget"))
      .select(col("doc_id"), col("n_tokens"), col("chunk_id"))
  }

  def t11TokenPacking(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.documents(spark, dir)
      .select($"doc_id", size(tokens($"text")).cast("long").as("n_tokens"))
    assignChunks(counts, budget = 512L)
      .groupBy($"chunk_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens"),
           min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
  }

  /** Inverted index with impact-ordered truncated postings: per term its
    * document frequency, total term frequency, and the top-100 posting
    * doc_ids ordered by (tf desc, doc_id). The truncation happens BEFORE
    * the collect — a per-term window keeps ≤100 rows, so no task ever
    * materializes a full posting list (at 100 TB a common term's full
    * list is corpus-sized; the bounded-heap TopK aggregator
    * ([[graft.functions.TopK]], proven in s03) is the drop-in when even
    * the per-term sort is too hot). */
  def t14InvertedIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tok = tokenized(Tables.documents(spark, dir)).select($"doc_id", $"tok".as("term"))
    val tf = tok.groupBy($"term", $"doc_id").agg(count(lit(1)).as("tf"))
    // r19: df/total_tf as UNBOUNDED window aggregates over the same
    // term-keyed sort the rank window already pays — the separate
    // per-term agg + join-back re-ran the corpus explode and the
    // (term,doc) aggregation a second time (the no-exchange-reuse
    // lesson), and its join added one more term exchange.
    val w = Window.partitionBy($"term").orderBy($"tf".desc, $"doc_id")
    val wAll = Window.partitionBy($"term")
    tf.withColumn("rnk", row_number().over(w))
      .withColumn("df", count(lit(1)).over(wAll))
      .withColumn("total_tf", sum($"tf").over(wAll))
      .filter($"rnk" <= 100)
      .groupBy($"term")
      // joined to one string: the driver's content hash digests scalar
      // columns only (round-5 finding: the ARRAY<BIGINT> form errs)
      .agg(min($"df").as("df"), min($"total_tf").as("total_tf"),
        array_join(transform(array_sort(collect_list(struct($"rnk", $"doc_id"))),
          x => x.getField("doc_id").cast("string")), ",").as("postings"))
      .select($"term", $"df", $"total_tf", $"postings")
  }

  /** BM25 relevance scoring (k1=1.2, b=0.75) of a fixed query-term set
    * against every document containing a query term. The idf is the
    * rational (N−df+0.5)/(df+0.5) — same 1-ulp-portability argument as
    * t09's rational tf·idf: every step is one correctly-rounded IEEE op
    * in an identical expression tree on both engines, no libm log.
    * Shape: the term filter lands before the (doc,term) agg, so only
    * query-term tokens survive the explode; doc lengths are one
    * (doc) agg; N/avgdl broadcast as a 1-row cross join. */
  def t15Bm25(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val tok = tokenized(docs).select($"doc_id", $"tok".as("term"))
    val qt = tok.filter($"term".isin(Bm25QueryTerms: _*))
    val tf = qt.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    // df derived from tf (t09's device): shares tf's exchange instead of
    // re-running the corpus explode for a second per-term agg (r19)
    val dfs = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    // doc length as a map-side array size — the exploded per-doc count
    // agg this replaces re-tokenized the whole corpus and shuffled every
    // token by doc_id just to count them (r19). Same rows: tokenized()
    // drops empty tokens and docs with zero tokens emit no rows, so the
    // size counts non-empty tokens and the >0 filter matches the
    // explode's implicit drop of token-less docs.
    val lens = docs
      .select($"doc_id",
        size(filter(tokens($"text"), t => t =!= "")).cast("long").as("len"))
      .filter($"len" > 0)
    val scalars = lens.agg(
      count(lit(1)).as("n_docs"),
      (sum($"len").cast("double") / count(lit(1))).as("avgdl"))
    tf.join(lens, "doc_id")
      .join(broadcast(dfs), "term")
      .crossJoin(broadcast(scalars))
      .withColumn("idf",
        (($"n_docs" - $"df").cast("double") + 0.5) / ($"df".cast("double") + 0.5))
      .withColumn("norm",
        $"tf".cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) * ($"len".cast("double") / $"avgdl")))
      .select($"doc_id", $"term", $"tf", $"len",
        ($"idf" * ($"tf".cast("double") * 2.2 / $"norm")).as("score"))
  }

  val Bm25QueryTerms = Seq("query", "join", "vector")

  /** N-gram familiarity: per document, the mean corpus frequency of its
    * word bigrams — a language-model-free fluency proxy (natural text
    * reuses frequent bigrams; shuffled/garbled text lands on rare ones),
    * the statistical-quality signal next to t03's surface heuristics.
    * No transcendentals: the score is an exact integer sum divided once,
    * so it is engine-exact where a log-prob LM could never be. Shape:
    * one scan, a bigram `explode_outer` (a doc with no bigram keeps one
    * row, its bigram null, counted 0), the corpus count of each bigram as
    * a window count over the bigram rows (one exchange on bigram, no
    * aggregate joined back), then one (doc) agg. Every doc reaches that agg, so no
    * join back to `documents` restores the bigram-less ones. */
  def t16NgramFamiliarity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bigrams = when(size($"toks") >= 2,
      transform(sequence(lit(0), size($"toks") - 2),
        i => concat_ws(" ", element_at($"toks", i + 1), element_at($"toks", i + 2))))
      .otherwise(array())
    Tables.documents(spark, dir)
      .select($"doc_id", tokens($"text").as("toks"))
      .select($"doc_id", explode_outer(bigrams).as("bigram"))
      .withColumn("cnt", count($"bigram").over(Window.partitionBy($"bigram")))
      .groupBy($"doc_id")
      .agg(count($"bigram").as("n_bi"), sum($"cnt").as("fam_sum"))
      .select($"doc_id", $"n_bi",
        when($"n_bi" > 0, $"fam_sum".cast("double") / $"n_bi").otherwise(lit(0.0))
          .as("familiarity"))
  }

  /** Overlapping chunk windows (size 512, stride 384): the
    * context-window chunking with overlap that keeps boundary-spanning
    * text learnable — the sliding complement of t11's disjoint packing.
    * Chunk count and offsets are pure integer arithmetic on the doc's
    * token count (k = 1 for n ≤ 512, else ⌈(n−512)/384⌉+1), so the
    * exploded manifest is engine-exact; the explode is map-side, no
    * shuffle at all. */
  def t17OverlapChunks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", size(tokens($"text")).cast("long").as("n_tokens"))
      .withColumn("n_chunks",
        when($"n_tokens" <= 512, lit(1L))
          .otherwise(expr("(n_tokens - 129) div 384") + 1)) // ⌈(n−512)/384⌉+1
      .select($"doc_id", $"n_tokens", $"n_chunks",
        explode(sequence(lit(0L), $"n_chunks" - 1)).as("chunk_idx"))
      .withColumn("chunk_start", $"chunk_idx" * 384)
      .withColumn("chunk_len", least(lit(512L), $"n_tokens" - $"chunk_start"))
  }

  /** Marginal novelty per document: the share of a doc's word-3-gram
    * shingles never seen in any smaller-id document — the
    * diversity-saturation signal a curation run watches to decide when
    * more data from a source stops adding information (novelty → 0 as a
    * source exhausts itself). First-occurrence attribution is ONE window
    * partitioned by shingle (the q77 decomposition applied to content,
    * not users); no global sort anywhere — the per-doc rollup shuffles
    * by doc_id. */
  def t19NoveltyCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sh = Dedup.shingles(Tables.documents(spark, dir).select($"doc_id", $"text"))
    val firstW = org.apache.spark.sql.expressions.Window
      .partitionBy($"shingle").orderBy($"doc_id")
    sh.withColumn("rn", row_number().over(firstW))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when($"rn" === 1, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_frac", $"n_novel".cast("double") / $"n_shingles")
  }

  /** t20: bigram co-occurrence lift — the collocation statistic (PMI's
    * exact-arithmetic core) a vocabulary/merges builder computes before
    * choosing multi-word units. lift(a,b) = P(ab)/(P(a·)·P(·b)) computed
    * as n_ab·N / (n_a·n_b) on exact counts, so both engines do one
    * identical double division (no log — libm parity is not portable).
    * Bigrams come from a map-side array zip (no window, no position
    * join); the unigram margins are vocab-sized and broadcast back.
    * Support floor n_ab ≥ 20 keeps the output a stable head, not a
    * noise tail. */
  def t20Cooccurrence(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = filter(tokens($"text"), x => x =!= "")
    val bg = Tables.documents(spark, dir)
      .select(t.as("t")).filter(size($"t") >= 2)
      .select(explode(zip_with(
        slice($"t", lit(1), size($"t") - 1), slice($"t", lit(2), size($"t") - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("z"))
      .select($"z.w1".as("w1"), $"z.w2".as("w2"))
    // NOTE (r19, measured): deriving the margins/total FROM nab
    // (sum(n_ab) by w1 / by w2 / overall) does not reuse nab's exchange
    // at execution — each consumer re-planned its own copy of the
    // (w1,w2) agg and the corpus explode still ran four times, now with
    // two extra two-level aggs on top (1.42 → 1.95 s measured). The
    // four direct partial-agg passes are kept: each collapses map-side
    // to vocab-sized partials before its exchange.
    val nab = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("n_ab"))
    val na = bg.groupBy($"w1").agg(count(lit(1)).as("n_a"))
    val nb = bg.groupBy($"w2").agg(count(lit(1)).as("n_b"))
    val tot = bg.agg(count(lit(1)).as("n"))
    nab.join(broadcast(na), "w1").join(broadcast(nb), "w2")
      .crossJoin(broadcast(tot))
      .filter($"n_ab" >= 20)
      .select($"w1", $"w2", $"n_ab",
        ($"n_ab".cast("double") * $"n" / ($"n_a" * $"n_b")).as("lift"))
  }

  /** t21: language-ID confusion matrix — the evaluation readout for the
    * t04 classifier against the corpus's labeled `lang` column: per
    * (tagged, predicted) cell counts plus each cell's share of its tagged
    * row (recall when tagged = predicted). The per-doc argmax is t04's
    * map-side expression; the matrix is one langs² agg with broadcast
    * row marginals — an eval that costs one corpus scan at any size. */
  def t21LangConfusion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = t04LangId(spark, dir)
      .groupBy($"tagged_lang", $"predicted")
      .agg(count(lit(1)).as("n"))
    val marginals = cells.groupBy($"tagged_lang").agg(sum($"n").as("n_tagged"))
    cells.join(broadcast(marginals), "tagged_lang")
      .select($"tagged_lang", $"predicted", $"n",
        ($"n".cast("double") / $"n_tagged").as("share"),
        ($"tagged_lang" === $"predicted").as("is_correct"))
  }

  val queries: Map[String, Q] = Map(
    "t21_lang_confusion" -> t21LangConfusion _,
    "t20_cooccurrence" -> t20Cooccurrence _,
    "t01_token_stats" -> t01TokenStats _,
    "t19_novelty_curve" -> t19NoveltyCurve _,
    "t17_overlap_chunks" -> t17OverlapChunks _,
    "t09_tfidf"       -> t09TfIdf _,
    "t10_vocab_prune" -> t10VocabPrune _,
    "t11_token_packing" -> t11TokenPacking _,
    "t02_lang_stats"  -> t02LangStats _,
    "t03_quality_score" -> t03QualityScore _,
    "t04_langid"      -> t04LangId _,
    "t05_fingerprint" -> t05Fingerprint _,
    "t06_ngram_freq"  -> t06NgramFreq _,
    // scale-path twin (rows-only driver check; see fingerprintScale doc)
    "t07_fingerprint_scale" -> fingerprintScale _,
    "t08_subword_tokens" -> t08SubwordTokens _,
    "t12_pii_redact"  -> t12PiiRedact _,
    "t13_repetition"  -> t13Repetition _,
    "t14_inverted_index" -> t14InvertedIndex _,
    "t15_bm25"        -> t15Bm25 _,
    "t16_ngram_familiarity" -> t16NgramFamiliarity _,
    "t22_tokenizer_fertility" -> t22TokenizerFertility _,
    "t23_char_diversity" -> t23CharDiversity _,
    "t24_heaps_law" -> t24HeapsLaw _,
    "t26_zipf_audit" -> t26ZipfAudit _,
    "t25_quality_auc" -> t25QualityAuc _,
  )

  private def langScoreSql(ms: Seq[String]): String = {
    val set = ms.map(m => s"'$m'").mkString(", ")
    s"len(list_filter($tokensSql, t -> t IN ($set)))"
  }

  val oracles: Map[String, String] = Map(
    "t20_cooccurrence" ->
      s"""WITH toks AS (
            SELECT list_filter($tokensSql, x -> x <> '') AS t FROM documents),
          bg AS (
            SELECT unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
                   unnest(list_transform(range(1, len(t)), i -> t[i + 1])) AS w2
            FROM toks WHERE len(t) >= 2),
          nab AS (SELECT w1, w2, COUNT(*) AS n_ab FROM bg GROUP BY 1, 2),
          na AS (SELECT w1, COUNT(*) AS n_a FROM bg GROUP BY 1),
          nb AS (SELECT w2, COUNT(*) AS n_b FROM bg GROUP BY 1),
          tot AS (SELECT COUNT(*) AS n FROM bg)
          SELECT w1, w2, n_ab,
                 CAST(n_ab AS DOUBLE) * n / (n_a * n_b) AS lift
          FROM nab JOIN na USING (w1) JOIN nb USING (w2), tot
          WHERE n_ab >= 20""",
    "t19_novelty_curve" ->
      s"""WITH corpus AS (SELECT doc_id, text FROM documents),
          ${Dedup.shinglesSql},
          flagged AS (
            SELECT doc_id,
                   ROW_NUMBER() OVER (PARTITION BY shingle ORDER BY doc_id) AS rn
            FROM shingle)
          SELECT doc_id, COUNT(*) AS n_shingles,
                 CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
                 CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*) AS novelty_frac
          FROM flagged GROUP BY 1""",
    "t01_token_stats" ->
      s"""SELECT doc_id,
          CAST(len($tokensSql) AS INT) AS n_tokens,
          CAST(len(list_distinct($tokensSql)) AS INT) AS n_distinct,
          CAST(list_sum(list_transform($tokensSql, t -> length(t))) AS DOUBLE)
               / len($tokensSql) AS avg_tok_len
          FROM documents""",
    "t02_lang_stats" ->
      """SELECT lang, COUNT(*) AS n_docs,
                CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
                COUNT(DISTINCT source) AS n_sources
         FROM documents GROUP BY lang""",
    "t25_quality_auc" ->
      s"""WITH scored AS (
            SELECT lang,
                   CAST(len(list_distinct($tokensSql)) * 1000
                        + len(list_filter($tokensSql, t -> t IN ('a', 'the'))) * 100
                        - length(regexp_replace(text, '[a-z\\s]', '', 'g')) * 10 AS DOUBLE)
                     / len($tokensSql) AS quality
            FROM documents),
          langs AS (SELECT DISTINCT lang AS cand FROM scored),
          labeled AS (
            SELECT cand, quality,
                   CASE WHEN s.lang = l.cand THEN 1 ELSE 0 END AS pos
            FROM scored s CROSS JOIN langs l),
          byval AS (
            SELECT cand, quality, COUNT(*) AS n_v,
                   CAST(SUM(pos) AS BIGINT) AS pos_v
            FROM labeled GROUP BY 1, 2),
          cum AS (
            SELECT *, SUM(n_v) OVER (PARTITION BY cand ORDER BY quality
                                     ROWS UNBOUNDED PRECEDING) - n_v AS cum_below
            FROM byval)
          SELECT cand AS lang,
                 CAST(SUM(pos_v) AS BIGINT) AS n_pos,
                 CAST(SUM(n_v) - SUM(pos_v) AS BIGINT) AS n_neg,
                 CAST(SUM(pos_v * (2 * cum_below + n_v + 1)) AS BIGINT) AS rank2_sum,
                 CAST(SUM(pos_v * (2 * cum_below + n_v + 1))
                      - SUM(pos_v) * (SUM(pos_v) + 1) AS DOUBLE)
                   / (2 * CAST(SUM(pos_v) AS BIGINT)
                        * CAST(SUM(n_v) - SUM(pos_v) AS BIGINT)) AS auc
          FROM cum GROUP BY cand""",
    "t03_quality_score" ->
      s"""SELECT doc_id,
          CAST(len($tokensSql) AS INT) AS n_tokens,
          CAST(len(list_distinct($tokensSql)) AS INT) AS n_distinct,
          CAST(len(list_filter($tokensSql, t -> t IN ('a', 'the'))) AS INT) AS n_stop,
          CAST(length(regexp_replace(text, '[a-z\\s]', '', 'g')) AS INT) AS n_nonalpha,
          CAST(len(list_distinct($tokensSql)) * 1000
                    + len(list_filter($tokensSql, t -> t IN ('a', 'the'))) * 100
                    - length(regexp_replace(text, '[a-z\\s]', '', 'g')) * 10 AS DOUBLE)
               / len($tokensSql) AS quality
          FROM documents""",
    "t21_lang_confusion" ->
      s"""WITH scored AS (
            SELECT lang AS tagged_lang,
                   ${langScoreSql(langMarkers(0)._2)} AS score_en,
                   ${langScoreSql(langMarkers(1)._2)} AS score_db,
                   ${langScoreSql(langMarkers(2)._2)} AS score_ops
            FROM documents),
          pred AS (
            SELECT tagged_lang,
                   CASE WHEN score_ops >= score_en AND score_ops >= score_db THEN 'ops'
                        WHEN score_en >= score_db THEN 'en'
                        ELSE 'db' END AS predicted
            FROM scored),
          cells AS (
            SELECT tagged_lang, predicted, COUNT(*) AS n
            FROM pred GROUP BY 1, 2),
          m AS (
            SELECT tagged_lang, CAST(SUM(n) AS BIGINT) AS n_tagged
            FROM cells GROUP BY 1)
          SELECT tagged_lang, predicted, n,
                 CAST(n AS DOUBLE) / n_tagged AS share,
                 tagged_lang = predicted AS is_correct
          FROM cells JOIN m USING (tagged_lang)""",
    "t04_langid" ->
      s"""WITH scored AS (
            SELECT doc_id, lang AS tagged_lang,
                   ${langScoreSql(langMarkers(0)._2)} AS score_en,
                   ${langScoreSql(langMarkers(1)._2)} AS score_db,
                   ${langScoreSql(langMarkers(2)._2)} AS score_ops
            FROM documents)
          -- argmax with Spark's sort_array(desc) tie-break: equal scores
          -- pick the lexicographically larger language name
          SELECT doc_id, tagged_lang,
                 CASE WHEN score_ops >= score_en AND score_ops >= score_db THEN 'ops'
                      WHEN score_en >= score_db THEN 'en'
                      ELSE 'db' END AS predicted,
                 CAST(score_en AS INT) AS score_en,
                 CAST(score_db AS INT) AS score_db,
                 CAST(score_ops AS INT) AS score_ops
          FROM scored""",
    "t05_fingerprint" ->
      s"""WITH tok AS (
            -- tok <> '' mirrors the Spark-side tokenized() filter, so
            -- whitespace-edged documents can't shift ids/counts (ADVICE r1)
            SELECT * FROM (
              SELECT doc_id, unnest($tokensSql) AS tok,
                     unnest(range(0, len($tokensSql))) AS pos
              FROM documents)
            WHERE tok <> ''),
          dict AS (
            SELECT tok, DENSE_RANK() OVER (ORDER BY tok) AS tok_id
            FROM (SELECT DISTINCT tok FROM tok))
          SELECT doc_id,
                 CAST(SUM((pos + 1) * tok_id) % 1000000007 AS BIGINT) AS fp_pos,
                 CAST(SUM(tok_id * tok_id + pos) % 1000000007 AS BIGINT) AS fp_sq,
                 COUNT(*) AS n_tokens
          FROM tok JOIN dict USING (tok)
          GROUP BY doc_id""",
    "t10_vocab_prune" ->
      s"""WITH tok AS (
            SELECT doc_id, unnest($tokensSql) AS term FROM documents),
          n AS (SELECT COUNT(*) AS n_docs FROM documents)
          SELECT term, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS total_tf
          FROM tok CROSS JOIN n
          WHERE term <> ''
          GROUP BY term, n_docs
          HAVING COUNT(DISTINCT doc_id) >= 50
             AND COUNT(DISTINCT doc_id) * 100 <= n_docs * 79""",
    // the oracle's single global cumsum is equivalent to the engine's
    // hierarchical (bucket-partitioned) prefix sum
    "t11_token_packing" ->
      s"""WITH counts AS (
            SELECT doc_id, len($tokensSql) AS n_tokens FROM documents),
          off AS (
            SELECT doc_id, n_tokens,
                   COALESCE(CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
                     0) AS strt
            FROM counts)
          SELECT strt // 512 AS chunk_id, COUNT(*) AS n_docs,
                 CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
                 MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
          FROM off GROUP BY 1""",
    "t09_tfidf" ->
      s"""WITH tok AS (
            SELECT doc_id, unnest($tokensSql) AS term FROM documents),
          tf AS (
            SELECT doc_id, term, COUNT(*) AS tf FROM tok
            WHERE term <> '' GROUP BY doc_id, term),
          df AS (
            SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok
            WHERE term <> '' GROUP BY term),
          n AS (SELECT COUNT(*) AS n_docs FROM documents),
          scored AS (
            SELECT doc_id, term, tf, df,
                   CAST(tf * n_docs AS DOUBLE) / df AS score
            FROM tf JOIN df USING (term) CROSS JOIN n),
          ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                         ORDER BY score DESC, term) AS rnk
            FROM scored)
          SELECT doc_id, term, tf, df, score, CAST(rnk AS INT) AS rnk
          FROM ranked WHERE rnk <= 3""",
    "t06_ngram_freq" ->
      s"""WITH tok AS (
            SELECT doc_id, unnest($tokensSql) AS tok,
                   unnest(range(0, len($tokensSql))) AS pos
            FROM documents)
          SELECT a.tok || ' ' || b.tok || ' ' || c.tok AS ngram, COUNT(*) AS n
          FROM tok a
          JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
          JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
          GROUP BY 1 ORDER BY n DESC, ngram LIMIT 20""",
    "t08_subword_tokens" ->
      """SELECT doc_id,
                CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS n_sub,
                CAST(len(list_distinct(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS INT) AS n_distinct_sub,
                CAST(list_reduce(
                  list_prepend(0, list_transform(
                    regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'),
                    s -> length(s))),
                  (a, b) -> greatest(a, b)) AS INT) AS max_sub_len
         FROM documents""",
    // integer sums + two final double divisions — engine-exact
    "t26_zipf_audit" ->
      s"""WITH c AS (
            SELECT tok, COUNT(*) AS n FROM (
              SELECT unnest($tokensSql) AS tok FROM documents)
            WHERE tok <> '' GROUP BY 1),
          t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
          ranked AS (
            SELECT tok, n,
                   CAST(ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS INT) AS rank
            FROM c)
          SELECT rank, tok, n, n * rank AS zipf_product,
                 CAST(n AS DOUBLE) / total AS share
          FROM ranked CROSS JOIN t
          WHERE rank <= 50""",
    "t24_heaps_law" ->
      s"""WITH tok AS (
            SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
          pb AS (
            SELECT CAST(FLOOR(doc_id / 50.0) AS BIGINT) AS b,
                   COUNT(*) AS n_toks
            FROM tok GROUP BY 1),
          fb AS (
            SELECT CAST(FLOOR(fd / 50.0) AS BIGINT) AS b,
                   COUNT(*) AS new_types
            FROM (SELECT tok, MIN(doc_id) AS fd FROM tok GROUP BY tok)
            GROUP BY 1),
          cum AS (
            SELECT (b + 1) * 50 AS checkpoint_docs,
                   CAST(SUM(n_toks) OVER w AS BIGINT) AS cum_tokens,
                   CAST(SUM(COALESCE(new_types, 0)) OVER w AS BIGINT) AS vocab_size
            FROM pb LEFT JOIN fb USING (b)
            WINDOW w AS (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW))
          SELECT checkpoint_docs, cum_tokens, vocab_size,
                 CAST(vocab_size AS DOUBLE) / CAST(cum_tokens AS DOUBLE) AS ttr
          FROM cum""",
    "t23_char_diversity" -> {
      val cnt = ('a' to 'z').map(c =>
        s"(length(text) - length(replace(text, '$c', '')))").toSeq
      val n = cnt.mkString(" + ")
      val num = cnt.map(c => s"$c * ($c - 1)").mkString(" + ")
      val distinct = cnt.map(c => s"CASE WHEN $c > 0 THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH d AS (
            SELECT doc_id,
                   CAST($n AS BIGINT) AS n_letters,
                   CAST($distinct AS BIGINT) AS distinct_letters,
                   CAST($num AS BIGINT) AS simpson_num
            FROM documents)
          SELECT doc_id, n_letters, distinct_letters, simpson_num,
                 n_letters * (n_letters - 1) AS simpson_den,
                 CASE WHEN n_letters * (n_letters - 1) > 0
                      THEN 1.0 - CAST(simpson_num AS DOUBLE)
                                   / (n_letters * (n_letters - 1))
                 END AS diversity
          FROM d"""
    },
    "t22_tokenizer_fertility" ->
      s"""WITH d AS (
            SELECT lang,
                   len($tokensSql) AS n_words,
                   len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_sub,
                   list_reduce(
                     list_prepend(0, list_transform(
                       regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]'),
                       s -> length(s))),
                     (a, b) -> a + b) AS sub_chars
            FROM documents)
          SELECT lang, COUNT(*) AS n_docs,
                 CAST(SUM(n_words) AS BIGINT) AS n_words,
                 CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
                 CAST(SUM(sub_chars) AS BIGINT) AS n_sub_chars,
                 CAST(SUM(n_sub) AS DOUBLE) / SUM(n_words) AS fertility,
                 CAST(SUM(sub_chars) AS DOUBLE) / SUM(n_sub) AS chars_per_subword
          FROM d GROUP BY 1""",
    "t12_pii_redact" ->
      s"""WITH p AS (
            SELECT doc_id,
                   text || ' contact user' || doc_id
                        || '@example.com or +1-555-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                        || ' from 10.0.' || (doc_id % 256) || '.7' AS pii_text
            FROM documents)
          SELECT doc_id,
                 CAST(len(regexp_extract_all(pii_text, '$EmailRe')) AS INT) AS n_emails,
                 CAST(len(regexp_extract_all(pii_text, '$PhoneRe')) AS INT) AS n_phones,
                 CAST(len(regexp_extract_all(pii_text, '$Ipv4Re')) AS INT) AS n_ips,
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(pii_text, '$EmailRe', '<EMAIL>', 'g'),
                     '$PhoneRe', '<PHONE>', 'g'),
                   '$Ipv4Re', '<IP>', 'g') AS redacted
          FROM p""",
    "t13_repetition" ->
      s"""WITH toks AS (
            SELECT doc_id, $tokensSql AS t FROM documents),
          bi AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
            FROM toks),
          bs AS (
            SELECT doc_id, MAX(c) AS top_bi, SUM(c) AS n_bi
            FROM (SELECT doc_id, bigram, COUNT(*) AS c FROM bi GROUP BY 1, 2)
            GROUP BY doc_id)
          SELECT t.doc_id, CAST(len(t.t) AS INT) AS n_tokens,
                 COALESCE(CAST(len(t.t) - len(list_distinct(t.t)) AS DOUBLE)
                            / NULLIF(len(t.t), 0), 0.0) AS dup_token_frac,
                 COALESCE(CAST(top_bi AS DOUBLE) / n_bi, 0.0) AS top_bigram_share
          FROM toks t LEFT JOIN bs USING (doc_id)""",
    "t14_inverted_index" ->
      s"""WITH tok AS (
            SELECT doc_id, unnest($tokensSql) AS term FROM documents),
          tf AS (
            SELECT term, doc_id, COUNT(*) AS tf FROM tok
            WHERE term <> '' GROUP BY 1, 2),
          ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY term
                                         ORDER BY tf DESC, doc_id) AS rnk
            FROM tf),
          posts AS (
            SELECT term, array_to_string(list(doc_id ORDER BY rnk), ',') AS postings
            FROM ranked WHERE rnk <= 100 GROUP BY term),
          stats AS (
            SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf
            FROM tf GROUP BY term)
          SELECT term, df, total_tf, postings
          FROM stats JOIN posts USING (term)""",
    "t15_bm25" -> {
      val terms = Bm25QueryTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH tok AS (
            SELECT doc_id, unnest($tokensSql) AS term FROM documents),
          qt AS (SELECT doc_id, term FROM tok WHERE term IN ($terms)),
          tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM qt GROUP BY 1, 2),
          dfs AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM qt GROUP BY 1),
          lens AS (
            SELECT doc_id, COUNT(*) AS len FROM tok
            WHERE term <> '' GROUP BY 1),
          scalars AS (
            SELECT COUNT(*) AS n_docs,
                   CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avgdl
            FROM lens),
          scored AS (
            SELECT doc_id, term, tf, len,
                   (CAST(n_docs - df AS DOUBLE) + 0.5)
                     / (CAST(df AS DOUBLE) + 0.5) AS idf,
                   CAST(tf AS DOUBLE)
                     + 1.2 * (0.25 + 0.75 * (CAST(len AS DOUBLE) / avgdl)) AS norm
            FROM tf JOIN lens USING (doc_id)
            JOIN dfs USING (term) CROSS JOIN scalars)
          SELECT doc_id, term, tf, len,
                 idf * (CAST(tf AS DOUBLE) * 2.2 / norm) AS score
          FROM scored"""
    },
    "t17_overlap_chunks" ->
      s"""WITH t AS (
            SELECT doc_id, len($tokensSql) AS n_tokens FROM documents),
          k AS (
            SELECT doc_id, n_tokens,
                   CASE WHEN n_tokens <= 512 THEN 1
                        ELSE (n_tokens - 129) // 384 + 1 END AS n_chunks
            FROM t),
          c AS (
            SELECT doc_id, n_tokens, n_chunks,
                   unnest(range(0, n_chunks)) AS chunk_idx
            FROM k)
          SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                 CAST(n_chunks AS BIGINT) AS n_chunks,
                 CAST(chunk_idx AS BIGINT) AS chunk_idx,
                 CAST(chunk_idx * 384 AS BIGINT) AS chunk_start,
                 CAST(LEAST(512, n_tokens - chunk_idx * 384) AS BIGINT) AS chunk_len
          FROM c""",
    "t16_ngram_familiarity" ->
      s"""WITH toks AS (
            SELECT doc_id, $tokensSql AS t FROM documents),
          bi AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
            FROM toks),
          corpus AS (SELECT bigram, COUNT(*) AS cnt FROM bi GROUP BY 1),
          pd AS (
            SELECT doc_id, COUNT(*) AS n_bi,
                   CAST(CAST(SUM(cnt) AS BIGINT) AS DOUBLE) AS fam_sum
            FROM bi JOIN corpus USING (bigram) GROUP BY 1)
          SELECT d.doc_id, COALESCE(n_bi, 0) AS n_bi,
                 COALESCE(fam_sum / n_bi, 0.0) AS familiarity
          FROM documents d LEFT JOIN pd USING (doc_id)""",
  )
}
