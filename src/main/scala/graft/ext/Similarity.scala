package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Similarity search over the `embeddings` table (`array<float>`, 64-dim):
  * brute-force cosine top-k as the correctness baseline, and a
  * random-hyperplane LSH bucketed variant as the scale path.
  *
  * Numeric parity design: cosine is computed as a **left fold over the
  * array in index order** (`aggregate(zip_with(...))` in Spark,
  * `list_reduce(list_transform(...))` in DuckDB). Both engines then
  * perform the identical sequence of IEEE-754 double operations, so the
  * scores are bit-identical and can be compared exactly — no decimal
  * rounding needed, no summation-order nondeterminism. (A groupBy-sum
  * over exploded elements would NOT have this property.)
  *
  * Scale notes: brute-force is a broadcast-join of the query set against
  * a scan (fine for k-NN of a few probes over any corpus size); LSH
  * bucketing turns all-pairs search into per-bucket joins — the bucket id
  * is computed scan-side (map-only), so the only shuffle is the bucket
  * equi-join. The hyperplanes use deterministic integer weights, making
  * results reproducible across engines and cluster layouts.
  */
object Similarity {

  type Q = (SparkSession, String) => DataFrame

  /** Left-fold dot product of two float arrays as doubles (exact parity
    * with the DuckDB fragment in [[dotSql]]). Kept as the executable
    * specification of [[dot]]'s semantics — the spec asserts bit-equality. */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Production dot product: the codegen'd [[graft.functions.FloatVectorDot]]
    * expression — same left-fold IEEE semantics, no per-element lambda or
    * intermediate array (3× per cosine, per row, it matters). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vecDot(a, b)

  def dotSql(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, len($a) + 1),
        i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"""

  /** Cosine similarity, bit-identical across engines (see class doc).
    * Fused single-pass expression; `dot(a,b)/(sqrt(dot(a,a))*sqrt(dot(b,b)))`
    * is the executable specification it must (and does — VectorExprSpec)
    * match bit-for-bit. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vecCos(a, b)

  /** The composed 3-pass form of [[cosine]] (spec/reference only). */
  def cosineComposed(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  def cosineSql(a: String, b: String): String =
    s"""(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"""

  // --- LSH hyperplanes --------------------------------------------------

  val NPlanes = 8

  /** Deterministic integer plane weights, identical formula in both
    * engines: w(t, j) = ((1103515245*(t*64+j) + 12345) mod 2001) - 1000,
    * j 1-based. */
  def planeWeight(t: Int, j: Int): Long =
    ((1103515245L * (t * 64L + j) + 12345L) % 2001L) - 1000L

  /** Bucket id column for an embedding: sign bits of the 8 plane dots. */
  def lshBucket(e: Column): Column =
    (0 until NPlanes).map { t =>
      // float literals: weights are small integers, exact in float32
      val w = array((1 to 64).map(j => lit(planeWeight(t, j).toFloat)): _*)
      when(dot(w, e) > 0, 1L << t).otherwise(0L)
    }.reduce(_ + _)

  def lshBucketSql(e: String): String =
    (0 until NPlanes).map { t =>
      s"""(CASE WHEN list_reduce(list_transform(range(1, 65),
          j -> CAST((1103515245::BIGINT * ($t * 64 + j) + 12345) % 2001 - 1000 AS DOUBLE)
               * CAST($e[j] AS DOUBLE)), (x, y) -> x + y) > 0
          THEN ${1L << t} ELSE 0 END)"""
    }.mkString("(", " + ", ")")

  // --- queries ----------------------------------------------------------

  /** The query set of s01, s02, s06, s07 and [[knnTopKAggregated]]
    * (vec_id < 5) scored against every other embedding: one scan, the
    * queries broadcast, one row per `(qid, nid, cos_sim, same)`, `same`
    * when the neighbor shares the query's LSH bucket. An entry that never
    * reads `same` never computes a bucket (column pruning drops it); a
    * filter on `same` becomes the broadcast join's bucket equi-key. */
  private def scoredQueries(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", lshBucket($"embedding").as("bucket"))
    val q = e.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding".as("qe"), $"bucket".as("qbucket"))
    e.join(broadcast(q), $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("nid"), cosine($"qe", $"embedding").as("cos_sim"),
        ($"bucket" === $"qbucket").as("same"))
  }

  /** The `k` best rows per query of a [[scoredQueries]] relation, ranked
    * by (cos_sim desc, nid) in `rank`. */
  private def topPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Brute-force k-NN: top-10 cosine neighbors for query vecs (vec_id<5). */
  def s01KnnBruteForce(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    topPerQuery(scoredQueries(spark, dir), 10).select($"qid", $"rank", $"nid", $"cos_sim")
  }

  /** LSH-bucketed ANN: candidates share the 8-bit hyperplane bucket with
    * the query; rank candidates by exact cosine, keep top-5. */
  def s02AnnLsh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    topPerQuery(scoredQueries(spark, dir).filter($"same"), 5)
      .select($"qid", $"rank", $"nid", $"cos_sim")
  }

  /** Scale-path variant of [[s01KnnBruteForce]]: per-query top-k through
    * the bounded-heap [[graft.functions.TopKByScore]] aggregator instead
    * of a window — partial aggregation ships ≤k candidates per query per
    * executor to the exchange rather than every scored pair. Same output
    * contract (spec asserts equality with the window form). */
  def knnTopKAggregated(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import spark.implicits._
    import graft.functions.{ScoredId, TopKByScore}
    val scored = scoredQueries(spark, dir).select($"qid", $"nid", $"cos_sim")
      .as[(Long, Long, Double)]
    val topk = new TopKByScore(k).toColumn
    scored
      .groupByKey(_._1)
      .mapValues { case (_, nid, c) => ScoredId(nid, c) }
      .agg(topk.name("top"))
      .flatMap { case (qid, arr) =>
        arr.iterator.zipWithIndex.map { case (s, i) => (qid, i + 1, s.id, s.score) }
      }
      .toDF("qid", "rank", "nid", "cos_sim")
  }

  // --- IVF-flat ---------------------------------------------------------

  val NList = 16  // coarse centroids (inverted lists)
  val NProbe = 4  // lists searched per query

  /** IVF-flat ANN: data vectors are assigned to their nearest coarse
    * centroid (the inverted list); a query probes only its `NProbe`
    * nearest lists and ranks those candidates by exact cosine.
    *
    * Centroids are `NList` sampled data vectors (vec_id < NList) instead
    * of trained k-means means — averaging float vectors would break exact
    * cross-engine parity, and the *index structure* (assignment, list
    * pruning, probe search) is what IVF contributes; swapping in trained
    * centroids changes one line. Scale shape: centroids broadcast, the
    * assignment is a map-side argmax over the scan, candidate search is
    * one equi-join on the list id — no all-pairs stage anywhere. */
  /** Per-vector centroid scores (broadcast cross join) — shared by the
    * IVF index build and the centroid aggregation. */
  private def centroidScored(e: DataFrame): DataFrame = {
    val cents = e.filter(col("vec_id") < NList)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    e.join(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("cid"),
              dot(col("embedding"), col("ce")).as("cdot"))
  }

  /** Nearest-centroid assignment (map-side argmax over the scan).
    * NOTE (r20, measured negative): the argmax-as-aggregation form —
    * groupBy(vec_id).agg(min(struct(-cdot, cid, embedding))) — is
    * row-identical but SLOWER (s04 filtered quiet local[32] medians
    * 0.68 -> 0.94 s): InferWindowGroupLimit already caps this window's
    * shuffle at ~1 row per vector map-side, and a struct-typed agg
    * buffer is not UnsafeRow-mutable, so the agg plans as SortAggregate
    * — the sorts stay and interpreted struct comparisons are added.
    * Same verdict for pqEncode and q52's lastPerHour. Keep the window. */
  def ivfAssigned(e: DataFrame): DataFrame = {
    val wAssign = Window.partitionBy(col("vec_id")).orderBy(col("cdot").desc, col("cid"))
    centroidScored(e).withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1).select(col("vec_id"), col("embedding"), col("cid"))
  }

  def s04AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val scored = centroidScored(e)
    val wAssign = Window.partitionBy($"vec_id").orderBy($"cdot".desc, $"cid")
    val assigned = ivfAssigned(e)
    val probes = scored.filter($"vec_id" < 5)
      .withColumn("rn", row_number().over(wAssign)).filter($"rn" <= NProbe)
      .select($"vec_id".as("qid"), $"embedding".as("qe"), $"cid")
    val cand = assigned.join(probes, Seq("cid")).filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("nid"), cosine($"qe", $"embedding").as("cos_sim"))
    val w = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"nid")
    cand.withColumn("rank", row_number().over(w)).filter($"rank" <= 5)
      .select($"qid", $"rank", $"nid", $"cos_sim")
  }

  /** Per-(cluster, component) deterministic member means via the s15
    * hierarchical device: an ordered fold inside each 256-vector bucket
    * (`b = floor(vec_id/256)`), then an ordered fold of the bucket
    * partials by `b`. Doubles don't sum associatively, so BOTH levels
    * fix their order (members by vec_id inside a bucket, partials by
    * bucket id) — reproducible on any partitioning and replayed
    * add-for-add by the oracles. Unlike a flat per-(cid, pos)
    * collect_list (the r8 shape VERDICT flagged), no aggregation buffer
    * here grows with cluster membership: the level-1 collect is bounded
    * by the 256-vector bucket, the level-2 collect by the number of
    * buckets (|cell|/256 scalar partials, not |cell| members) — the
    * same bound at sf0.001 and at 100 TB with a multi-million-member
    * IVF cell. Output: one (cid, pos) row with n_members and the mean. */
  private def bucketedMeans(assigned: DataFrame): DataFrame = {
    val comps = assigned.select(col("cid"), col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "comp")))
      .withColumn("b", expr("CAST(FLOOR(vec_id / 256.0) AS BIGINT)"))
    val l1 = comps.groupBy(col("cid"), col("pos"), col("b"))
      .agg(count(lit(1)).as("n1"),
        aggregate(
          transform(array_sort(collect_list(struct(col("vec_id"), col("comp")))),
            s => s.getField("comp").cast("double")),
          lit(0.0), (a, x) => a + x).as("s1"))
    l1.groupBy(col("cid"), col("pos"))
      .agg(sum(col("n1")).as("n_members"),
        aggregate(
          transform(array_sort(collect_list(struct(col("b"), col("s1")))),
            s => s.getField("s1")),
          lit(0.0), (a, x) => a + x).as("s"))
      .withColumn("m", col("s") / col("n_members"))
  }

  /** Per-cluster centroid aggregation — the k-means update step / the
    * "average embedding per shard" corpus statistic, on the
    * [[bucketedMeans]] hierarchical fold (cell-membership-bounded
    * buffers; bit-exact oracle replay). */
  def s05CentroidAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    bucketedMeans(ivfAssigned(e))
      .select($"cid", $"pos", $"n_members", $"m".as("centroid_comp"))
  }

  /** [[bucketedMeans]] reassembled into double centroid ARRAYS — the s05
    * update step, shaped for re-use as the next Lloyd round's centroid
    * table. The final collect is dim-sized (64 (pos, m) pairs per cid),
    * not membership-sized. */
  private def centroidArrays(assigned: DataFrame): DataFrame =
    bucketedMeans(assigned)
      .groupBy(col("cid"))
      .agg(min(col("n_members")).as("n_members"),
        transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("ce"))

  /** s16: k-means actually ITERATED — two full Lloyd rounds (assign →
    * mean-update → reassign → mean-update) with deterministic seeding
    * (the s04 sampled centroids), reported as per-(cluster, component)
    * round-1 vs round-2 means and the movement between them — the
    * convergence readout a clustering run monitors. s04/s05 are the two
    * halves of ONE round; this is the loop, and everything stays
    * engine-exact: means are the s05 ordered fold, the round-2 scoring
    * against DOUBLE mean-vectors is the same left-fold dot as `vec_dot`
    * (zip_with + seed-0.0 aggregate — the double-array twin of
    * [[dotFold]]), and ties break by cid. Scale shape per round: means
    * broadcast (k × dim doubles), assignment is a map-side argmax over
    * the scan, the update is the [[bucketedMeans]] hierarchical fold
    * whose collects are bounded by the 256-vector bucket (never by
    * cluster membership) — the driver holds nothing but the loop
    * counter. More rounds = the same two stages repeated. */
  def s16KmeansLloyd(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val cent1 = centroidArrays(ivfAssigned(e))
    val scored2 = e.join(broadcast(cent1.select($"cid", $"ce")))
      .select($"vec_id", $"embedding", $"cid",
        aggregate(zip_with($"embedding", $"ce", (x, y) => x.cast("double") * y),
          lit(0.0), (a, v) => a + v).as("cdot"))
    val w2 = Window.partitionBy($"vec_id").orderBy($"cdot".desc, $"cid")
    val assigned2 = scored2.withColumn("rn", row_number().over(w2))
      .filter($"rn" === 1).select($"vec_id", $"embedding", $"cid")
    val cent2 = centroidArrays(assigned2)
    val r1 = cent1.select($"cid", posexplode($"ce").as(Seq("pos", "comp1")))
    val r2 = cent2.select($"cid", $"n_members",
      posexplode($"ce").as(Seq("pos", "comp2")))
    r2.join(r1, Seq("cid", "pos"))
      .select($"cid", $"pos", $"n_members", $"comp1", $"comp2",
        abs($"comp2" - $"comp1").as("shift"))
  }

  /** s17: cross-lingual pair mining — the bitext/translated-near-dup
    * candidate search of CCMatrix/LASER-style pipelines, and the
    * multilingual leakage check a dedup pass needs (a translated copy
    * shares no lexical shingles, so d02/d23 are blind to it; its
    * embedding is close). Within each IVF cell (Σ|cell|², never N² —
    * the s14/d24 device), rank DIFFERENT-language pairs by exact cosine
    * and keep the top 3 per ordered (lang1, lang2) slice — mining
    * semantics, so the readout is never empty and thresholds stay a
    * downstream choice. Ties break by (id1, id2); engine-exact cosine.
    *
    * The per-slice top-3 is the bounded-heap
    * [[graft.functions.TopKPairByScore]] aggregator, not a window:
    * candidate volume is Σ|cell|² rows, and with only ~languages²
    * output slices a `Window.partitionBy(lang1, lang2)` would shuffle
    * ALL of them onto a handful of partitions and full-sort each (the
    * r8 skew magnet VERDICT flagged) — partial aggregation instead
    * ships ≤3 candidates per slice per executor to the exchange.
    *
    * Plan: `embeddings` is scored against the broadcast centroids and
    * `documents` joins its language in by broadcast; the IVF assignment
    * takes one exchange on vec_id. The cell self-join is a sort-merge
    * join whose two sides read the one exchange on cid (a merge hint:
    * the adaptive planner would otherwise turn the small cells into a
    * broadcast, one more job). The aggregator runs as an untyped `udaf`
    * on the (lang1, lang2) group and its array is exploded into ranks,
    * so no typed operation adds encoder classes to the plan. */
  def s17CrosslingualMining(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.{ScoredPair, TopKPairByScore}
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val lang = Tables.documents(spark, dir).select($"doc_id".as("vec_id"), $"lang")
    val a = ivfAssigned(e).join(lang, "vec_id")
    val topk = udaf(new TopKPairByScore(3),
      org.apache.spark.sql.Encoders.product[ScoredPair])
    a.as("x").join(a.as("y").hint("merge"),
        col("x.cid") === col("y.cid") && col("x.vec_id") < col("y.vec_id") &&
          col("x.lang") =!= col("y.lang"))
      .select(col("x.lang").as("lang1"), col("y.lang").as("lang2"),
        col("x.vec_id").as("id1"), col("y.vec_id").as("id2"),
        cosine(col("x.embedding"), col("y.embedding")).as("cos_sim"))
      .groupBy($"lang1", $"lang2")
      .agg(topk($"id1", $"id2", $"cos_sim").as("top"))
      .select($"lang1", $"lang2", posexplode($"top").as(Seq("pos", "t")))
      .select($"lang1", $"lang2", ($"pos" + 1).as("rank"),
        $"t.id1".as("id1"), $"t.id2".as("id2"), $"t.score".as("cos_sim"))
  }

  /** s15: per-dimension embedding QA — the drift/collapse report run
    * before an embedding corpus is trusted (a dead dimension has ~zero
    * variance; a scale bug shows in min/max). Doubles don't sum
    * associatively, so exact cross-engine stats use a HIERARCHICAL
    * deterministic reduction: an ordered fold inside each 256-vector
    * bucket, then an ordered fold of the bucket partials — collect_list
    * is bounded by the bucket size at any corpus scale (never a global
    * collect), and the fold order is reproducible on any partitioning. */
  def s15DimStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val comps = Tables.embeddings(spark, dir)
      .select($"vec_id", posexplode($"embedding").as(Seq("pos", "comp")))
      .select($"vec_id", expr("CAST(FLOOR(vec_id / 256.0) AS BIGINT)").as("b"),
        $"pos", $"comp".cast("double").as("comp"))
    val l1 = comps.groupBy($"pos", $"b")
      .agg(count(lit(1)).as("n1"),
        array_sort(collect_list(struct($"vec_id", $"comp"))).as("xs"),
        min($"comp").as("mn1"), max($"comp").as("mx1"))
      .select($"pos", $"b", $"n1", $"mn1", $"mx1",
        aggregate(transform($"xs", s => s.getField("comp")),
          lit(0.0), (a, x) => a + x).as("s1"),
        aggregate(transform($"xs", s => s.getField("comp")),
          lit(0.0), (a, x) => a + x * x).as("ss1"))
    val l2 = l1.groupBy($"pos")
      .agg(sum($"n1").as("n"),
        array_sort(collect_list(struct($"b", $"s1", $"ss1"))).as("ps"),
        min($"mn1").as("min_comp"), max($"mx1").as("max_comp"))
      .select($"pos", $"n", $"min_comp", $"max_comp",
        aggregate(transform($"ps", p => p.getField("s1")),
          lit(0.0), (a, x) => a + x).as("s"),
        aggregate(transform($"ps", p => p.getField("ss1")),
          lit(0.0), (a, x) => a + x).as("ss"))
    l2.select($"pos", $"n",
        ($"s" / $"n").as("mean_comp"),
        (($"ss" / $"n") - ($"s" / $"n") * ($"s" / $"n")).as("var_comp"),
        $"min_comp", $"max_comp")
  }

  // --- s18: dominant principal component via power iteration -------------

  /** Per-dimension (n, s, ss) via the s15 two-level ordered fold — the
    * shared statistics pass behind s18's mean vector and trace. */
  private def dimMoments(e: DataFrame): DataFrame = {
    val comps = e
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "comp")))
      .select(col("vec_id"), expr("CAST(FLOOR(vec_id / 256.0) AS BIGINT)").as("b"),
        col("pos"), col("comp").cast("double").as("comp"))
    val l1 = comps.groupBy(col("pos"), col("b"))
      .agg(count(lit(1)).as("n1"),
        array_sort(collect_list(struct(col("vec_id"), col("comp")))).as("xs"))
      .select(col("pos"), col("b"), col("n1"),
        aggregate(transform(col("xs"), s => s.getField("comp")),
          lit(0.0), (a, x) => a + x).as("s1"),
        aggregate(transform(col("xs"), s => s.getField("comp")),
          lit(0.0), (a, x) => a + x * x).as("ss1"))
    l1.groupBy(col("pos"))
      .agg(sum(col("n1")).as("n"),
        array_sort(collect_list(struct(col("b"), col("s1"), col("ss1")))).as("ps"))
      .select(col("pos"), col("n"),
        aggregate(transform(col("ps"), p => p.getField("s1")),
          lit(0.0), (a, x) => a + x).as("s"),
        aggregate(transform(col("ps"), p => p.getField("ss1")),
          lit(0.0), (a, x) => a + x).as("ss"))
  }

  /** One matrix-free power-iteration step v → normalize(C·v): the
    * covariance product never materializes C — per vector, the scalar
    * projection s = (x−μ)·v is map-side (μ and v broadcast, both 1-row
    * dim-sized tables), the contribution s·(x−μ) folds per dimension
    * through the s15 hierarchical device, and the final normalize runs
    * over one 64-element array. One corpus scan per step, buffers
    * bounded by the 256-vector bucket at any scale. Every operation is
    * order-fixed (products before ordered fold-adds, one sqrt, one
    * division per component), so the step is bit-identical in DuckDB.
    *
    * The per-dimension fold keeps the contribution ARRAYS whole
    * (zip_with accumulation inside the bucket, then over bucket
    * partials) instead of posexploding to (pos, w) scalars: the add
    * sequence PER POSITION is identical — vec_id order inside the
    * bucket, bucket order across — but the shuffle carries one
    * 64-double array per vector rather than 64 exploded rows, and the
    * aggregation runs 1 group per bucket instead of 64. The result is
    * returned CACHED: it is a single dim-sized row whose lineage holds
    * a corpus pass, and every consumer (the next step, the final
    * projection, the Rayleigh pass) would otherwise re-run that pass. */
  private def powerStep(e: DataFrame, mu: DataFrame, v: DataFrame): DataFrame = {
    val zeros = array_repeat(lit(0.0), 64)
    val contrib = e.crossJoin(broadcast(mu)).crossJoin(broadcast(v))
      .select(col("vec_id"),
        zip_with(col("embedding"), col("mu"), (x, m) => x.cast("double") - m).as("c"),
        col("v"))
      .select(col("vec_id"),
        expr("CAST(FLOOR(vec_id / 256.0) AS BIGINT)").as("b"),
        col("c"),
        aggregate(zip_with(col("c"), col("v"), (a, b) => a * b),
          lit(0.0), (s, t) => s + t).as("s"))
      .select(col("vec_id"), col("b"),
        transform(col("c"), ci => ci * col("s")).as("warr"))
    val l1 = contrib.groupBy(col("b"))
      .agg(array_sort(collect_list(struct(col("vec_id"), col("warr")))).as("xs"))
      .select(col("b"),
        aggregate(transform(col("xs"), s => s.getField("warr")),
          zeros, (acc, x) => zip_with(acc, x, (a, w) => a + w)).as("s1"))
    l1.groupBy()
      .agg(array_sort(collect_list(struct(col("b"), col("s1")))).as("ps"))
      .select(aggregate(transform(col("ps"), p => p.getField("s1")),
        zeros, (acc, x) => zip_with(acc, x, (a, w) => a + w)).as("w"))
      .select(col("w"),
        sqrt(aggregate(col("w"), lit(0.0), (a, x) => a + x * x)).as("nrm"))
      .select(transform(col("w"), wi => wi / col("nrm")).as("v"))
      .cache()
  }

  /** s18: the dominant principal direction of the (centered) embedding
    * cloud via THREE fixed matrix-free power-iteration steps — the
    * anisotropy/collapse diagnosis s15's per-dimension variances cannot
    * see (a representation collapsing onto one direction keeps every
    * per-dim variance healthy while one eigenvalue swallows the
    * spectrum; Ethayarajh 2019's anisotropy measurement). Reported per
    * dimension: the mean, the principal component, the Rayleigh
    * quotient λ = Σ((x−μ)·v)²/N of the final direction, and
    * λ / trace(C) — the explained-variance share, THE collapse number.
    *
    * Determinism: v₀ = (1/8, …, 1/8) (unit norm, exactly
    * representable); every corpus sum is the s15 hierarchical ordered
    * fold; sqrt and the per-component divisions are single correctly-
    * rounded IEEE operations — the oracle replays all three steps
    * add-for-add. Scale: each step is one scan + one dim-keyed fold
    * (bucket-bounded buffers), μ/v broadcast at dim size, λ/trace are
    * 1-row broadcasts; nothing corpus-sized ever converges on one
    * executor. Fixed iteration count = fixed plan depth — the loop
    * lives in the driver as plan composition, like s16's Lloyd rounds. */
  def s18PcaPower(spark: SparkSession, dir: String): DataFrame =
      Dedup.checkpointed {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val moments = dimMoments(e)
    // cached: 64 rows over a corpus-pass lineage, read by mu, the trace
    // fold, and the final per-dimension join
    val means = moments.select($"pos", $"n", ($"s" / $"n").as("m"),
      (($"ss" / $"n") - ($"s" / $"n") * ($"s" / $"n")).as("v_pos")).cache()
    // cached: one dim-sized row whose lineage is a corpus pass, read by
    // all three power steps, the Rayleigh pass, and the final join
    val mu = means.groupBy()
      .agg(transform(array_sort(collect_list(struct($"pos", $"m"))),
        p => p.getField("m")).as("mu")).cache()
    val trace = means.groupBy()
      .agg(aggregate(transform(array_sort(collect_list(struct($"pos", $"v_pos"))),
        p => p.getField("v_pos")), lit(0.0), (a, x) => a + x).as("tr"))
    val v0 = spark.range(1).select(array_repeat(lit(0.125), 64).as("v"))
    val v1 = powerStep(e, mu, v0)
    val v2 = powerStep(e, mu, v1)
    val v3 = powerStep(e, mu, v2)
    // Rayleigh quotient of the final direction: one more projection pass
    val proj = e.crossJoin(broadcast(mu)).crossJoin(broadcast(v3))
      .select($"vec_id", expr("CAST(FLOOR(vec_id / 256.0) AS BIGINT)").as("b"),
        aggregate(zip_with(
            zip_with($"embedding", $"mu", (x, m) => x.cast("double") - m),
            $"v", (a, b) => a * b),
          lit(0.0), (s, t) => s + t).as("s"))
      .select($"vec_id", $"b", ($"s" * $"s").as("s2"))
    val lam = proj.groupBy($"b")
      .agg(count(lit(1)).as("n1"),
        aggregate(transform(array_sort(collect_list(struct($"vec_id", $"s2"))),
          s => s.getField("s2")), lit(0.0), (a, x) => a + x).as("t1"))
      .groupBy()
      .agg(sum($"n1").as("n"),
        aggregate(transform(array_sort(collect_list(struct($"b", $"t1"))),
          p => p.getField("t1")), lit(0.0), (a, x) => a + x).as("ss"))
      .select(($"ss" / $"n").as("lambda"))
    (v3.select(posexplode($"v").as(Seq("pos", "pc1")))
      .join(means.select($"pos", $"m".as("mean_comp")), "pos")
      .crossJoin(broadcast(lam))
      .crossJoin(broadcast(trace))
      .select($"pos", $"mean_comp", $"pc1", $"lambda",
        ($"lambda" / $"tr").as("explained_share")),
      // 64-row result; the dim-sized pipeline caches (the power steps'
      // included) are released once it materializes
      Seq(means, mu, v1, v2, v3))
  }

  /** s20: IVF tuning sweep — recall@5 AND candidate cost per `nprobe` ∈
    * {1, 2, 4}, measured against the exact brute-force top-5. This is
    * the measurement that PICKS an index configuration before a corpus-
    * scale run (the ANN member of the repo's tuning-measurement family:
    * d17 sweeps LSH bandings, q99 measures join skew): more probed
    * lists buy recall with a linearly growing candidate set, and the
    * sweep shows both axes per query so the knee is visible. One
    * assignment pass and one probe ranking are shared by all three
    * configs (the per-config work is a filter on the probe rank — no
    * index rebuild per config); ground truth is the s01 contract. */
  def s20IvfTuning(spark: SparkSession, dir: String): DataFrame =
      Dedup.checkpointed {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    // cached: all three configs read the same assignment, probe ranking,
    // and ground truth — without the cache each config re-runs them. At
    // scale the assignment is the stored index payload; s20Sweep is a
    // pure function of it, so swapping the cache for a parquet write +
    // re-read changes nothing downstream (Round11Spec executes that).
    // The checkpointed value is the 15-row sweep report; assignment + sweep
    // caches are released once it materializes.
    val assigned = ivfAssigned(e).cache()
    val (report, sweepCaches) = s20SweepStaged(spark, dir, assigned)
    (report, assigned +: sweepCaches)
  }

  /** The s20 sweep as a pure function of the (vec_id, embedding, cid)
    * assignment table — the spill-path seam, like Dedup.d29Report and
    * Multimodal.m10OffsetMatch. */
  private[graft] def s20Sweep(spark: SparkSession, dir: String,
                              assigned: DataFrame): DataFrame =
    s20SweepStaged(spark, dir, assigned)._1

  /** [[s20Sweep]] exposing its internal caches so the checkpointing caller
    * can release them after materialization. */
  private[graft] def s20SweepStaged(spark: SparkSession, dir: String,
                                    assigned: DataFrame): (DataFrame, Seq[DataFrame]) = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val wAssign = Window.partitionBy($"vec_id").orderBy($"cdot".desc, $"cid")
    val probeRanked = centroidScored(e).filter($"vec_id" < 5)
      .withColumn("rn", row_number().over(wAssign))
      .select($"vec_id".as("qid"), $"embedding".as("qe"), $"cid", $"rn")
      .cache()
    val exact = s01KnnBruteForce(spark, dir).filter($"rank" <= 5)
      .select($"qid", $"nid").cache()
    val report = Seq(1, 2, 4).map { np =>
      val probes = probeRanked.filter($"rn" <= np).select($"qid", $"qe", $"cid")
      val cand = assigned.join(probes, Seq("cid")).filter($"vec_id" =!= $"qid")
        .select($"qid", $"vec_id".as("nid"), cosine($"qe", $"embedding").as("cos_sim"))
      val nCand = cand.groupBy($"qid").agg(count(lit(1)).as("n_candidates"))
      val w = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"nid")
      val top = cand.withColumn("rank", row_number().over(w)).filter($"rank" <= 5)
        .select($"qid", $"nid")
      exact.join(top.withColumn("hit", lit(1)), Seq("qid", "nid"), "left")
        .groupBy($"qid").agg(count($"hit").as("n_hit"))
        .join(nCand, Seq("qid"), "left")
        .select(lit(np).as("nprobe"), $"qid",
          coalesce($"n_candidates", lit(0L)).as("n_candidates"),
          $"n_hit", ($"n_hit".cast("double") / lit(5.0)).as("recall_at_5"))
    }.reduce(_ unionByName _)
    (report, Seq(probeRanked, exact))
  }

  /** s21: PageRank centrality over the corpus kNN graph (s14's top-3
    * within-cell edges) — the hub audit of the embedding space: a vector
    * that many other vectors count among their nearest neighbors sits in
    * an over-represented semantic region, and the rank is the principled
    * version of the in-degree count (it discounts endorsements from
    * vectors that are themselves generic hubs). Downstream uses in a
    * training-data pipeline: representativeness-aware sampling (downweight
    * the hubs d24's within-cell dedup keeps), picking exemplars per
    * semantic region, and prioritizing human review. This is also the
    * repo's iterated-graph-algorithm representative beyond connected
    * components: per iteration ONE edge equi-join (shuffle by source id)
    * + ONE keyed ordered fold by destination — rank state lives in the
    * frame, the driver holds only the loop counter, and 3 fixed
    * iterations = fixed plan depth (the s16/s18 device).
    *
    * Exactness: r₀ = 1/N (one division); per round each source's share
    * is one division pr/deg; BOTH reductions — the per-destination
    * in-sum AND the dangling mass (vectors with NO same-cell neighbor —
    * singleton IVF cells — redistributed uniformly, the standard
    * treatment) — run on the s15/s18 two-level bucket fold: sources
    * fold in u order inside each 256-source bucket `FLOOR(u/256)`, then
    * the bucket partials fold in bucket order. No aggregation buffer
    * grows with in-degree — a kNN-graph hub with millions of in-edges
    * collects at most 256 shares per buffer at level 1 and
    * in-degree/256 scalar partials at level 2, the same bound at
    * sf0.001 and at 100 TB (the r10-verdict port, done in r11). The
    * damping update `0.15/N + 0.85·(insum + dm/N)` is the identical
    * IEEE op sequence in both engines (the oracle CASTs its decimal
    * literals to DOUBLE — DuckDB's bare 0.85 is DECIMAL), and the
    * oracle replays both two-level folds add-for-add. */
  def s21PagerankKnn(spark: SparkSession, dir: String): DataFrame =
      Dedup.checkpointed {
    s21PagerankKnnStaged(spark, dir)
  }

  /** [[s21PagerankKnn]]'s pipeline, exposing its per-iteration rank
    * caches for the checkpointing caller (Round11Spec asserts the
    * bucket-bounded fold shapes on this plan — the checkpoint would hide
    * them). The checkpointed result is node-sized (one rank row per
    * vector); every cache below is node-sized and released once it
    * lands. */
  private[graft] def s21PagerankKnnStaged(spark: SparkSession, dir: String): (DataFrame, Seq[DataFrame]) = {
    import spark.implicits._
    val caches = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    // s14's checkpointed edge list (≤ 3N rows): each iteration's contrib
    // joins it without re-running the top-3 window behind it
    val edges = s14KnnGraph(spark, dir).select($"vid", $"nid")
    val nodes = e.select($"vec_id")
    val degrees = nodes.join(
        edges.groupBy($"vid").agg(count(lit(1)).as("deg"))
          .withColumnRenamed("vid", "vec_id"),
        Seq("vec_id"), "left")
      .select($"vec_id", coalesce($"deg", lit(0L)).as("deg"))
    val nRow = nodes.agg(count(lit(1)).as("n"))
    // each iteration's rank frame is read by THREE consumers (shares,
    // the dangling fold, and the next iteration's base) — uncached, the
    // lineage would re-execute multiplicatively per round (measured:
    // 12 s → ~1 s at sf0.1 from exactly this). Node-sized rows,
    // released once the result is checkpointed.
    var r = degrees.crossJoin(broadcast(nRow))
      .select($"vec_id", $"deg", (lit(1.0) / $"n").as("pr"))
      .cache()
    caches += r
    for (_ <- 1 to 3) {
      val shares = r.filter($"deg" > 0)
        .select($"vec_id".as("u"), ($"pr" / $"deg".cast("double")).as("share"))
      // in-sum on the two-level bucket device: level 1 folds shares in
      // u order inside each 256-source bucket, level 2 folds the bucket
      // partials in bucket order — buffers bounded at 256 / in-deg/256,
      // never in-degree-sized (hubs are THE skewed quantity here)
      val inL1 = edges.join(shares, edges("vid") === shares("u"))
        .groupBy($"nid".as("vec_id"),
          expr("CAST(FLOOR(u / 256.0) AS BIGINT)").as("ib"))
        .agg(aggregate(transform(array_sort(collect_list(struct($"u", $"share"))),
          s => s.getField("share")), lit(0.0), (a, x) => a + x).as("s1"))
      val contrib = inL1.groupBy($"vec_id")
        .agg(aggregate(transform(array_sort(collect_list(struct($"ib", $"s1"))),
          p => p.getField("s1")), lit(0.0), (a, x) => a + x).as("insum"))
      val dangB = r.filter($"deg" === 0)
        .groupBy(expr("CAST(FLOOR(vec_id / 256.0) AS BIGINT)").as("b"))
        .agg(aggregate(transform(array_sort(collect_list(struct($"vec_id", $"pr"))),
          s => s.getField("pr")), lit(0.0), (a, x) => a + x).as("s"))
      val dang = dangB.groupBy()
        .agg(aggregate(transform(array_sort(collect_list(struct($"b", $"s"))),
          p => p.getField("s")), lit(0.0), (a, x) => a + x).as("dm"))
      r = r.select($"vec_id", $"deg")
        .join(contrib, Seq("vec_id"), "left")
        .crossJoin(broadcast(dang)).crossJoin(broadcast(nRow))
        .select($"vec_id", $"deg",
          (lit(0.15) / $"n" +
            lit(0.85) * (coalesce($"insum", lit(0.0)) + $"dm" / $"n")).as("pr"))
        .cache()
      caches += r
    }
    (r.select($"vec_id", $"deg".as("out_deg"), $"pr".as("pagerank")),
      caches.toSeq)
  }

  /** s19: clustering-quality readout — the SIMPLIFIED silhouette
    * (centroid-based: a = squared L2 to the own-cluster mean, b = the
    * smallest squared L2 to any OTHER cluster's mean, score =
    * (b−a)/max(a,b)) per cluster over the s04 IVF assignment with the
    * s05/s16 trained double centroids. The full silhouette is Θ(N²) in
    * pairwise distances; the centroid form is the one a corpus-scale
    * clustering run actually monitors: all k×dim centroid doubles ride
    * ONE broadcast row, a and b are computed map-side inside the scan
    * (nested higher-order functions — no per-(vector, centroid) row
    * explosion, no shuffle before the per-cluster rollup), and the
    * per-cluster mean is the s15 hierarchical ordered fold. min over
    * centroid distances is order-independent (a VALUE min), so the only
    * order-fixed reductions are the mean folds; one division per vector
    * — engine-exact, oracle-exact. */
  def s19Silhouette(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val assigned = ivfAssigned(e)
    val centRow = centroidArrays(assigned)
      .groupBy()
      .agg(array_sort(collect_list(struct($"cid".as("ccid"), $"ce").as("c")))
        .as("cs"))
    def d2To(ce: Column): Column =
      aggregate(zip_with($"embedding", ce,
          (x, m) => (x.cast("double") - m) * (x.cast("double") - m)),
        lit(0.0), (a, v) => a + v)
    val sil = assigned.crossJoin(broadcast(centRow))
      .select($"vec_id", $"cid",
        d2To(element_at(filter($"cs", c => c.getField("ccid") === $"cid"), 1)
          .getField("ce")).as("a"),
        array_min(transform(filter($"cs", c => c.getField("ccid") =!= $"cid"),
          c => d2To(c.getField("ce")))).as("b"))
      .select($"vec_id", $"cid",
        expr("CAST(FLOOR(vec_id / 256.0) AS BIGINT)").as("b2"),
        (($"b" - $"a") / greatest($"a", $"b")).as("sil"))
    sil.groupBy($"cid", $"b2")
      .agg(count(lit(1)).as("n1"), min($"sil").as("mn1"), max($"sil").as("mx1"),
        aggregate(transform(array_sort(collect_list(struct($"vec_id", $"sil"))),
          s => s.getField("sil")), lit(0.0), (a, x) => a + x).as("s1"))
      .groupBy($"cid")
      .agg(sum($"n1").as("n_vectors"), min($"mn1").as("min_sil"),
        max($"mx1").as("max_sil"),
        aggregate(transform(array_sort(collect_list(struct($"b2", $"s1"))),
          p => p.getField("s1")), lit(0.0), (a, x) => a + x).as("s"))
      .select($"cid", $"n_vectors", ($"s" / $"n_vectors").as("mean_sil"),
        $"min_sil", $"max_sil")
  }

  /** Cosine range search (radius query): every vector within cosine ≥
    * 0.25 of each query vector — the "all matches above threshold"
    * retrieval mode (dedup candidates, recall evaluation) next to the
    * top-k of s01. Same broadcast-query scan shape, but with NO window:
    * the threshold filters map-side, so the operator is one scan with
    * zero shuffles — strictly cheaper than top-k at any scale. */
  def s06RangeSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    scoredQueries(spark, dir).filter($"cos_sim" >= 0.25).select($"qid", $"nid", $"cos_sim")
  }

  /** ANN index evaluation: recall@5 of the LSH index (s02) against the
    * exact top-5 (s01) per query — the measurement loop that decides
    * whether an index's bucket count/probe settings are good enough to
    * ship. At scale the exact side runs on a sampled query set, which is
    * exactly this shape.
    *
    * Plan: one scan of `embeddings`, scored once against the broadcast
    * query set ([[scoredQueries]], which s01 and s02 rank too), each
    * scored pair flagged `same` when it shares the query's LSH bucket.
    * Both top-5s come from that one relation: s02's list is the top-5 of
    * the `same` rows under the same (cos_sim desc, nid) order, so an
    * exact top-5 neighbor in the query's bucket ranks at most as deep
    * among the `same` rows and is an LSH hit, and one outside it never
    * is — the hits are the `same` rows of the exact top-5. One
    * row_number window per query (limited to 5 rows per query before its
    * exchange) and a per-query count; no second scan, no candidate join,
    * no join of the two lists. */
  def s07AnnRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    topPerQuery(scoredQueries(spark, dir), 5)
      .groupBy($"qid")
      .agg(count(lit(1)).as("n_exact"), count(when($"same", 1)).as("n_hit"))
      .withColumn("recall", $"n_hit".cast("double") / $"n_exact")
  }

  // --- s08: int8 scalar quantization ------------------------------------

  /** Per-vector int8 scalar quantization: scale = 127/max|xᵢ|,
    * qᵢ = ⌊xᵢ·scale + 0.5⌋ (explicit floor form — no dependence on either
    * engine's round() tie mode). Quantized dot products are exact integer
    * arithmetic (|q| ≤ 127, 64 dims → |Σqᵢqᵢ'| ≤ 127²·64 ≪ 2⁶³), so the
    * de-scaled approximation qdot/(s·s') is deterministic cross-engine. */
  def quantized(e: DataFrame): DataFrame = {
    val mx = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
    e.withColumn("scale", when(mx > 0, lit(127.0) / mx).otherwise(lit(1.0)))
      .withColumn("qv", transform(col("embedding"),
        x => floor(x.cast("double") * col("scale") + lit(0.5)).cast("long")))
  }

  /** Quantized kNN: top-5 neighbors per query ranked by the int8
    * approximate dot product, with the exact float dot carried alongside
    * (the quantization-error readout). This is the memory-bound ANN scale
    * path — at 100 TB the quantized vectors are 4× smaller than float32
    * (scan bandwidth, cache residency) and the integer inner loop is
    * SIMD-friendly; re-ranking by the exact score happens only on the
    * k survivors. Same broadcast-query scan shape as s01: no shuffle
    * before the per-query top-k window. */
  def s08QuantizedKnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = quantized(Tables.embeddings(spark, dir).select($"vec_id", $"embedding"))
    val q = e.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"embedding".as("qe"),
      $"scale".as("qscale"), $"qv".as("qqv"))
    val qdot = aggregate(zip_with($"qqv", $"qv", (x, y) => x * y),
      lit(0L), (a, v) => a + v)
    val scored = e.join(broadcast(q), $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("nid"),
        (qdot.cast("double") / ($"qscale" * $"scale")).as("approx_dot"),
        dot($"qe", $"embedding").as("exact_dot"))
    val w = Window.partitionBy($"qid").orderBy($"approx_dot".desc, $"nid")
    scored.withColumn("rank", row_number().over(w)).filter($"rank" <= 5)
      .select($"qid", $"rank", $"nid", $"approx_dot", $"exact_dot")
  }

  // --- s09: product quantization (PQ) -----------------------------------

  val PqM = 8      // subspaces
  val PqD = 8      // dims per subspace (8×8 = 64)
  val PqCodes = 16 // codewords per subspace

  /** Squared-L2 left fold over two equal-length (sub)vectors as doubles —
    * fixed j-order, engine-exact (the distance twin of [[dotFold]]).
    * Executable specification of [[l2]]; the spec asserts bit-equality. */
  def l2Fold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b,
        (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)

  /** Production squared-L2: the codegen'd [[graft.functions.FloatVectorL2]]
    * — same left-fold IEEE semantics, no per-element lambda or intermediate
    * array (PQ encoding runs it codebook × subspaces times per vector). */
  def l2(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vecL2(a, b)

  /** (vec_id, s, sub) — every vector exploded into its M subvectors. */
  private def pqSubvectors(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("embedding"),
        explode(array((0 until PqM).map(lit): _*)).as("s"))
      .select(col("vec_id"), col("s"),
        slice(col("embedding"), (col("s") * PqD + 1).cast("int"), lit(PqD)).as("sub"))

  /** Product quantization ANN: 64-dim vectors → M=8 codes of 4 bits
    * (codebook = the PqCodes sampled vectors' subvectors, the same
    * sampled-not-trained device as s04's IVF centroids — swapping in
    * k-means codebooks changes one line, not the index shape). Encoding
    * is a broadcast argmin per (vector, subspace); query scoring is
    * asymmetric distance (ADC): the exact query subvector against each
    * data vector's reconstructed codeword, summed over subspaces in s
    * order (ordered fold — engine-exact doubles). Top-5 per query by
    * smallest ADC distance. This is the 64×-compression ANN scale path
    * (8 bytes/vector of code + a 16×64-float codebook): at 100 TB the
    * codes fit in memory where the float vectors never could; the
    * broadcast codebook keeps both encode and scan map-side — the only
    * exchanges are the argmin window and the per-(query, vector) ADC
    * rollup. */
  /** The PQ codebook: every subvector of the first PqCodes vectors. */
  def pqCodebook(e: DataFrame): DataFrame =
    pqSubvectors(e.filter(col("vec_id") < PqCodes))
      .select(col("vec_id").cast("int").as("code"), col("s"), col("sub").as("cs"))

  /** PQ encoding: nearest codeword per (vector, subspace) — broadcast
    * codebook, map-side distances, one argmin window.
    * NOTE (r20, measured negative): min(struct(d2, code)) aggregation
    * instead of the window read s09 0.99 -> 1.36 / s12 0.96 -> 1.25 s
    * (filtered quiet local[32] medians) — see [[ivfAssigned]]'s NOTE
    * for the mechanism (WindowGroupLimit + SortAggregate fallback). */
  def pqEncode(e: DataFrame): DataFrame = {
    val wArg = Window.partitionBy(col("vec_id"), col("s"))
      .orderBy(col("d2"), col("code"))
    pqSubvectors(e).join(broadcast(pqCodebook(e)), "s")
      .withColumn("d2", l2(col("sub"), col("cs")))
      .withColumn("rn", row_number().over(wArg)).filter(col("rn") === 1)
      .select(col("vec_id"), col("s"), col("code"))
  }

  /** Asymmetric-distance (ADC) table for the first-5-query set: per
    * (query, candidate) summed subspace distances between the query's
    * exact subvectors and the candidate's ASSIGNED CODEWORDS — shared by
    * the plain PQ read (s09) and the re-ranked read (s12). */
  private def pqAdc(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    val cbs = pqCodebook(e)
    val enc = pqEncode(e)
    // ADC: query subvector vs the assigned codeword, folded in s order
    val qsubs = pqSubvectors(e.filter($"vec_id" < 5))
      .select($"vec_id".as("qid"), $"s", $"sub".as("qs"))
    val parts = enc.join(broadcast(cbs), Seq("s", "code"))
      .join(broadcast(qsubs), "s")
      .filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("nid"), $"s", l2($"qs", $"cs").as("d2s"))
    // The s-ordered fold, unrolled over the FIXED PqM subspaces: every
    // (qid, nid) group holds exactly one row per s (enc is 1 row per
    // (vector, s), cbs/qsubs joins are 1:1), so `sum(when(s===i, d2s))`
    // is that row's d2s exactly, and the projection's left fold
    // `0.0 + d0 + d1 + ...` adds the same doubles in the same order as
    // the previous collect_list + array_sort + lambda fold — bit
    // identical, but a codegen HashAggregate over PqM mutable double
    // slots instead of an ObjectHashAggregate building, sorting and
    // folding a per-group object list (r20; guide §4 — no per-row
    // object buffers in the widest shuffle of s09/s12).
    val slots = (0 until PqM).map(i => sum(when($"s" === i, $"d2s")).as(s"_d$i"))
    parts.groupBy($"qid", $"nid")
      .agg(slots.head, slots.tail: _*)
      .select($"qid", $"nid",
        (0 until PqM).map(i => col(s"_d$i"))
          .foldLeft(lit(0.0))(_ + _).as("adc_dist"))
  }

  def s09PqAnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val w = Window.partitionBy($"qid").orderBy($"adc_dist", $"nid")
    pqAdc(e).withColumn("rank", row_number().over(w)).filter($"rank" <= 5)
      .select($"qid", $"rank", $"nid", $"adc_dist")
  }

  /** s12: two-stage ANN — PQ coarse search re-ranked by exact cosine,
    * the standard billion-scale serving pattern (compressed codes answer
    * "which 50 candidates", full vectors answer "which 10, in what
    * order"). Stage 1 scans only 8-byte codes (s09's ADC); stage 2
    * fetches full vectors for candidates ONLY — 50 per query, broadcast
    * join scale — so full-precision data never shuffles corpus-wide.
    * Both stages engine-exact: ADC folds in subspace order, the re-rank
    * uses the bit-identical fused cosine. coarse_rank is kept in the
    * output so the re-rank's effect over raw ADC order is visible. */
  def s12RerankedPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val wCoarse = Window.partitionBy($"qid").orderBy($"adc_dist", $"nid")
    val coarse = pqAdc(e)
      .withColumn("coarse_rank", row_number().over(wCoarse))
      .filter($"coarse_rank" <= 50)
    val rer = coarse
      .join(e.select($"vec_id".as("qid"), $"embedding".as("qe")), "qid")
      .join(e.select($"vec_id".as("nid"), $"embedding".as("ne")), "nid")
      .withColumn("cos_sim", cosine($"qe", $"ne"))
    val w = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"nid")
    rer.withColumn("rank", row_number().over(w)).filter($"rank" <= 10)
      .select($"qid", $"rank", $"nid", $"cos_sim", $"coarse_rank")
  }

  /** s13: Matryoshka truncation recall — how much neighbor quality
    * survives searching on only the FIRST 16 of 64 dimensions (the
    * MRL-style cost lever: a 4×-smaller index that reuses the same
    * vectors). Per query: exact top-10 under full-dim cosine vs top-10
    * under truncated-dim cosine, reported as the overlap count. Both
    * rankings ride the broadcast query set (s01's shape) and every score
    * is the engine-exact cosine, so the readout is deterministic. */
  def s13MatryoshkaRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val q = e.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val pairs = e.join(broadcast(q), $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("nid"),
        cosine($"qe", $"embedding").as("cos_full"),
        cosine(slice($"qe", 1, 16), slice($"embedding", 1, 16)).as("cos_trunc"))
    def top10(score: String) = {
      val w = Window.partitionBy($"qid").orderBy(col(score).desc, $"nid")
      pairs.withColumn("rnk", row_number().over(w)).filter($"rnk" <= 10)
        .select($"qid", $"nid")
    }
    top10("cos_full").as("f")
      .join(top10("cos_trunc").as("t"), Seq("qid", "nid"))
      .groupBy($"qid").agg(count(lit(1)).as("n_common"))
  }

  /** Cross-modal join + per-group vector aggregation: mean embedding per
    * document language (documents ⋈ embeddings on doc_id = vec_id — the
    * text table and the vector table are two modalities of one corpus).
    * The per-(lang, component) mean uses the s05 ordered-fold device
    * (vec_id-sorted left fold) so the double sums are bit-identical
    * cross-engine. Shape: one equi-join shuffled on the id, posexplode
    * map-side, one (lang, pos) agg — group count is langs × 64, tiny. */
  def s10LangCentroids(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"lang")
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val joined = docs.join(e, $"doc_id" === $"vec_id")
      .select($"lang", $"vec_id", posexplode($"embedding").as(Seq("pos", "comp")))
    joined.groupBy($"lang", $"pos")
      .agg(count(lit(1)).as("n_docs"),
        aggregate(
          transform(array_sort(collect_list(struct($"vec_id", $"comp"))),
            s => s.getField("comp").cast("double")),
          lit(0.0), (a, x) => a + x).as("comp_sum"))
      .select($"lang", $"pos", $"n_docs",
        ($"comp_sum" / $"n_docs").as("centroid_comp"))
  }

  /** Hybrid retrieval: lexical overlap and vector cosine fused by
    * reciprocal-rank fusion (RRF, k=60) — the standard two-tower
    * retrieval read (BM25-ish term match + embedding recall, combined
    * rank-wise so neither score scale dominates). Query docs are the
    * first 5 documents; candidates are every doc with an embedding
    * (doc_id = vec_id joins the two modalities). Lexical overlap is a
    * distinct-token equi-join (shuffle by token, never all-pairs);
    * cosine rides the broadcast query set; both ranks and the RRF sum
    * are integer-derived — engine-exact. */
  def s11HybridSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val embs = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val cands = docs.join(embs, $"doc_id" === $"vec_id")
      .select($"doc_id".as("did"), $"text", $"embedding")
    val qs = cands.filter($"did" < 5)
      .select($"did".as("qid"), $"text".as("qtext"), $"embedding".as("qe"))
    val qTok = qs.select($"qid",
      explode(array_distinct(TextAnalysis.tokens($"qtext"))).as("tok"))
    val cTok = cands.select($"did",
      explode(array_distinct(TextAnalysis.tokens($"text"))).as("tok"))
    val lex = qTok.join(cTok, "tok").filter($"did" =!= $"qid")
      .groupBy($"qid", $"did").agg(count(lit(1)).as("overlap"))
    val vec = cands.join(broadcast(qs.drop("qtext")), $"did" =!= $"qid")
      .select($"qid", $"did", cosine($"qe", $"embedding").as("cos_sim"))
    val scored = vec.join(lex, Seq("qid", "did"), "left")
      .na.fill(0L, Seq("overlap"))
    val byLex = Window.partitionBy($"qid").orderBy($"overlap".desc, $"did")
    val byVec = Window.partitionBy($"qid").orderBy($"cos_sim".desc, $"did")
    val ranked = scored
      .withColumn("r_lex", row_number().over(byLex))
      .withColumn("r_vec", row_number().over(byVec))
      .withColumn("rrf",
        lit(1.0) / ($"r_lex" + 60) + lit(1.0) / ($"r_vec" + 60))
    val byRrf = Window.partitionBy($"qid").orderBy($"rrf".desc, $"did")
    ranked.withColumn("rank", row_number().over(byRrf)).filter($"rank" <= 5)
      .select($"qid", $"rank", $"did", $"overlap", $"cos_sim", $"rrf")
  }

  /** s14: corpus k-NN GRAPH — every vector's top-3 neighbors, not a
    * query set's: the construction step behind semantic-dedup clustering,
    * kNN-classifier filtering, and graph-based diversity sampling. The
    * all-pairs problem is bounded by the IVF cells: each vector only
    * scores against its OWN coarse cell (one equi-join on cid — work is
    * Σ|cell|², never N²), the deliberate approximation every scale kNN
    * graph build makes (edges across cell boundaries are missed; raising
    * NProbe on the probe side is the recall knob, cf. s07's readout).
    * Emits one row per (vector, rank) with the neighbor and its cosine —
    * exact-fold cosine, so oracle-exact. The result is the CHECKPOINTED
    * edge list (≤ 3N small rows — graph-sized, never corpus-sized), and
    * the assignment cache is released once it lands. */
  def s14KnnGraph(spark: SparkSession, dir: String): DataFrame =
      Dedup.checkpointed {
    s14KnnGraphStaged(spark, dir)
  }

  /** [[s14KnnGraph]]'s pipeline, exposing the cached IVF assignment for
    * the checkpointing caller (PlanSpec asserts the within-cell equi-join
    * shape on this plan — the checkpoint would hide it). */
  private[graft] def s14KnnGraphStaged(spark: SparkSession, dir: String): (DataFrame, Seq[DataFrame]) = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    // cache: both self-join sides read the assignment
    val assigned = ivfAssigned(e).cache()
    val cand = assigned.as("a").join(assigned.as("b"), "cid")
      .filter($"a.vec_id" =!= $"b.vec_id")
      .select($"a.vec_id".as("vid"), $"b.vec_id".as("nid"),
        cosine($"a.embedding", $"b.embedding").as("cos_sim"))
    val w = Window.partitionBy($"vid").orderBy($"cos_sim".desc, $"nid")
    (cand.withColumn("rank", row_number().over(w)).filter($"rank" <= 3)
      .select($"vid", $"rank", $"nid", $"cos_sim"),
      Seq(assigned))
  }

  val queries: Map[String, Q] = Map(
    "s14_knn_graph"      -> s14KnnGraph _,
    "s21_pagerank_knn"   -> s21PagerankKnn _,
    "s15_dim_stats"      -> s15DimStats _,
    "s16_kmeans_lloyd"   -> s16KmeansLloyd _,
    "s18_pca_power"      -> s18PcaPower _,
    "s19_silhouette"     -> s19Silhouette _,
    "s20_ivf_tuning"     -> s20IvfTuning _,
    "s17_crosslingual_mining" -> s17CrosslingualMining _,
    "s01_knn_bruteforce" -> s01KnnBruteForce _,
    "s11_hybrid_search"  -> s11HybridSearch _,
    "s08_quantized_knn"  -> s08QuantizedKnn _,
    "s09_pq_ann"         -> s09PqAnn _,
    "s12_reranked_pq"    -> s12RerankedPq _,
    "s13_matryoshka_recall" -> s13MatryoshkaRecall _,
    "s10_lang_centroids" -> s10LangCentroids _,
    "s06_range_search"   -> s06RangeSearch _,
    "s07_ann_recall"     -> s07AnnRecall _,
    "s05_centroid_agg"   -> s05CentroidAgg _,
    "s02_ann_lsh"        -> s02AnnLsh _,
    // scale-path twin: bounded-heap partial-agg top-k. Oracle-exact
    // since r9: its contract IS s01's output (the spec asserts window
    // equality), and the cosine is engine-exact, so s01's oracle SQL is
    // its oracle too — no hash family anywhere in the pipeline.
    "s03_knn_topk_agg"   -> ((s: SparkSession, d: String) => knnTopKAggregated(s, d)),
    "s04_ann_ivf"        -> s04AnnIvf _,
  )

  /** cents→scored→assigned CTE chain (the IVF index build) shared by the
    * s04 and s05 oracles. */
  private def ivfAssignedCtes: String =
    s"""cents AS (
            SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < $NList),
          scored AS (
            SELECT e.vec_id, e.embedding, c.cid,
                   ${dotSql("e.embedding", "c.ce")} AS cdot
            FROM embeddings e CROSS JOIN cents c),
          assigned AS (
            SELECT vec_id, embedding, cid FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                           ORDER BY cdot DESC, cid) AS rn
              FROM scored) t WHERE rn = 1)"""

  /** The s09 ADC chain (through the `adc` CTE) as shared oracle text —
    * s09 reads its top-5 directly, s12 re-ranks its top-50 coarse set. */
  private def pqAdcSql: String =
    s"""subs AS (
            SELECT vec_id, s,
                   list_transform(range(1, ${PqD + 1}),
                     j -> CAST(embedding[s * $PqD + j] AS DOUBLE)) AS sub
            FROM embeddings, (SELECT unnest(range(0, $PqM)) AS s) sp),
          cbs AS (
            SELECT vec_id AS code, s, sub AS cs FROM subs WHERE vec_id < $PqCodes),
          d2 AS (
            SELECT v.vec_id, v.s, c.code,
                   list_reduce(list_transform(range(1, ${PqD + 1}),
                     j -> (v.sub[j] - c.cs[j]) * (v.sub[j] - c.cs[j])),
                     (x, y) -> x + y) AS d2
            FROM subs v JOIN cbs c USING (s)),
          enc AS (
            SELECT vec_id, s, code FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                           ORDER BY d2, code) AS rn
              FROM d2) t
            WHERE rn = 1),
          parts AS (
            SELECT q.vec_id AS qid, e.vec_id AS nid, e.s,
                   list_reduce(list_transform(range(1, ${PqD + 1}),
                     j -> (q.sub[j] - c.cs[j]) * (q.sub[j] - c.cs[j])),
                     (x, y) -> x + y) AS d2s
            FROM enc e
            JOIN cbs c ON c.s = e.s AND c.code = e.code
            JOIN subs q ON q.s = e.s AND q.vec_id < 5 AND e.vec_id <> q.vec_id),
          adc AS (
            SELECT qid, nid,
                   list_reduce(list_prepend(0.0, list(d2s ORDER BY s)),
                     (a, b) -> a + b) AS adc_dist
            FROM parts GROUP BY qid, nid)"""

  /** Brute-force top-10 by exact cosine — s01's oracle, shared by s03
    * (the bounded-heap aggregator form with the identical contract). */
  private def knnTop10Sql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
          scored AS (
            SELECT q.qid, e.vec_id AS nid,
                   ${cosineSql("q.qe", "e.embedding")} AS cos_sim
            FROM embeddings e JOIN q ON e.vec_id <> q.qid),
          ranked AS (
            SELECT qid, nid, cos_sim,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
            FROM scored)
          SELECT qid, CAST(rank AS INT) AS rank, nid, cos_sim
          FROM ranked WHERE rank <= 10"""

  val oracles: Map[String, String] = Map(
    // the two-level ordered fold is replayed exactly: bucket lists sorted
    // by vec_id, partials sorted by bucket — same IEEE add sequence
    "s17_crosslingual_mining" ->
      s"""WITH $ivfAssignedCtes,
          tagged AS (
            SELECT a.vec_id, a.embedding, a.cid, d.lang
            FROM assigned a JOIN documents d ON d.doc_id = a.vec_id),
          pairs AS (
            SELECT x.vec_id AS id1, y.vec_id AS id2,
                   x.lang AS lang1, y.lang AS lang2,
                   ${cosineSql("x.embedding", "y.embedding")} AS cos_sim
            FROM tagged x JOIN tagged y
              ON x.cid = y.cid AND x.vec_id < y.vec_id AND x.lang <> y.lang),
          ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY lang1, lang2
                                         ORDER BY cos_sim DESC, id1, id2) AS rank
            FROM pairs)
          SELECT lang1, lang2, CAST(rank AS INT) AS rank, id1, id2, cos_sim
          FROM ranked WHERE rank <= 3""",
    // one probe ranking shared by all configs; candidates / top-5 /
    // recall replayed per (nprobe, query) with the same tie-breaks
    "s20_ivf_tuning" ->
      s"""WITH $ivfAssignedCtes,
          pr AS (
            SELECT vec_id AS qid, embedding AS qe, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cdot DESC, cid) AS rn
            FROM scored WHERE vec_id < 5),
          q AS (SELECT vec_id AS qid, embedding AS qe2 FROM embeddings
                WHERE vec_id < 5),
          sc2 AS (
            SELECT q.qid, e.vec_id AS nid,
                   ${cosineSql("q.qe2", "e.embedding")} AS cs
            FROM embeddings e JOIN q ON e.vec_id <> q.qid),
          exact AS (
            SELECT qid, nid FROM (
              SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
                ORDER BY cs DESC, nid) AS r FROM sc2) t
            WHERE r <= 5),
          cfg AS (SELECT unnest([1, 2, 4]) AS nprobe),
          cand AS (
            SELECT f.nprobe, p.qid, a.vec_id AS nid,
                   ${cosineSql("p.qe", "a.embedding")} AS cos_sim
            FROM cfg f
            JOIN pr p ON p.rn <= f.nprobe
            JOIN assigned a ON a.cid = p.cid AND a.vec_id <> p.qid),
          nc AS (SELECT nprobe, qid, COUNT(*) AS n_candidates
                 FROM cand GROUP BY 1, 2),
          topk AS (
            SELECT nprobe, qid, nid FROM (
              SELECT nprobe, qid, nid,
                     ROW_NUMBER() OVER (PARTITION BY nprobe, qid
                       ORDER BY cos_sim DESC, nid) AS r
              FROM cand) t WHERE r <= 5),
          hits AS (
            SELECT f.nprobe, e.qid,
                   CAST(SUM(CASE WHEN t.nid IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_hit
            FROM cfg f CROSS JOIN exact e
            LEFT JOIN topk t ON t.nprobe = f.nprobe AND t.qid = e.qid
                            AND t.nid = e.nid
            GROUP BY 1, 2)
          SELECT h.nprobe, h.qid, COALESCE(nc.n_candidates, 0) AS n_candidates,
                 h.n_hit, CAST(h.n_hit AS DOUBLE) / 5.0 AS recall_at_5
          FROM hits h
          LEFT JOIN nc ON nc.nprobe = h.nprobe AND nc.qid = h.qid""",
    // centroid training replayed through the s16 CTE chain (the proven
    // bucketedMeans twin), then distances / a / b / the hierarchical
    // mean fold add-for-add; min over centroid distances is a VALUE min
    // on both sides (order-free)
    "s19_silhouette" ->
      s"""WITH $ivfAssignedCtes,
          comps1 AS (
            SELECT cid, vec_id, CAST(FLOOR(vec_id / 256.0) AS BIGINT) AS b,
                   unnest(range(1, 65)) AS j,
                   unnest(list_transform(range(1, 65),
                          j -> CAST(embedding[j] AS DOUBLE))) AS comp
            FROM assigned),
          l1a AS (
            SELECT cid, j, b, COUNT(*) AS n1,
                   list_reduce(list_prepend(0.0, list(comp ORDER BY vec_id)),
                               (a, x) -> a + x) AS s1
            FROM comps1 GROUP BY cid, j, b),
          means1 AS (
            SELECT cid, j,
                   list_reduce(list_prepend(0.0, list(s1 ORDER BY b)),
                               (a, x) -> a + x) / SUM(n1) AS m
            FROM l1a GROUP BY cid, j),
          cent1 AS (SELECT cid, list(m ORDER BY j) AS ce FROM means1 GROUP BY cid),
          d2 AS (
            SELECT a.vec_id, a.cid, c.cid AS ccid,
                   list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                       i -> (CAST(a.embedding[i] AS DOUBLE) - c.ce[i])
                            * (CAST(a.embedding[i] AS DOUBLE) - c.ce[i]))),
                     (x, y) -> x + y) AS d2
            FROM assigned a CROSS JOIN cent1 c),
          ab AS (
            SELECT vec_id, cid,
                   MIN(CASE WHEN ccid = cid THEN d2 END) AS a,
                   MIN(CASE WHEN ccid <> cid THEN d2 END) AS b
            FROM d2 GROUP BY 1, 2),
          sil AS (
            SELECT vec_id, cid, CAST(FLOOR(vec_id / 256.0) AS BIGINT) AS b2,
                   (b - a) / GREATEST(a, b) AS sil
            FROM ab),
          f1 AS (
            SELECT cid, b2, COUNT(*) AS n1, MIN(sil) AS mn1, MAX(sil) AS mx1,
                   list_reduce(list_prepend(0.0, list(sil ORDER BY vec_id)),
                               (x, y) -> x + y) AS s1
            FROM sil GROUP BY 1, 2),
          f2 AS (
            SELECT cid, CAST(SUM(n1) AS BIGINT) AS n_vectors,
                   MIN(mn1) AS min_sil, MAX(mx1) AS max_sil,
                   list_reduce(list_prepend(0.0, list(s1 ORDER BY b2)),
                               (x, y) -> x + y) AS s
            FROM f1 GROUP BY 1)
          SELECT cid, n_vectors, s / n_vectors AS mean_sil, min_sil, max_sil
          FROM f2""",
    // three matrix-free power steps replayed add-for-add: per-element
    // products before ordered fold-adds at every stage (projection,
    // per-dimension fold, norm, Rayleigh quotient), one sqrt and one
    // division per component per step — the same IEEE sequence as Spark
    "s18_pca_power" -> {
      def step(i: Int, vPrev: String): String =
        s"""sd$i AS (
              SELECT c.vec_id, c.b, c.c,
                     list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                         p -> c.c[p] * v.v[p])), (a, x) -> a + x) AS s
              FROM cen c CROSS JOIN $vPrev v),
            cw$i AS (
              SELECT vec_id, b, unnest(range(1, 65)) AS j,
                     unnest(list_transform(range(1, 65), p -> c[p] * s)) AS w
              FROM sd$i),
            w1$i AS (
              SELECT j, b,
                     list_reduce(list_prepend(0.0, list(w ORDER BY vec_id)),
                                 (a, x) -> a + x) AS s1
              FROM cw$i GROUP BY j, b),
            w2$i AS (
              SELECT j,
                     list_reduce(list_prepend(0.0, list(s1 ORDER BY b)),
                                 (a, x) -> a + x) AS w
              FROM w1$i GROUP BY j),
            wa$i AS (SELECT list(w ORDER BY j) AS w FROM w2$i),
            vn$i AS (
              SELECT list_transform(w, x -> x / nrm) AS v
              FROM (SELECT w,
                           sqrt(list_reduce(list_prepend(0.0,
                               list_transform(w, x -> x * x)), (a, x) -> a + x)) AS nrm
                    FROM wa$i))"""
      s"""WITH mc AS (
            SELECT vec_id, CAST(FLOOR(vec_id / 256.0) AS BIGINT) AS b,
                   unnest(range(1, 65)) AS j,
                   unnest(list_transform(range(1, 65),
                          p -> CAST(embedding[p] AS DOUBLE))) AS comp
            FROM embeddings),
          m1 AS (
            SELECT j, b, COUNT(*) AS n1,
                   list_reduce(list_prepend(0.0, list(comp ORDER BY vec_id)),
                               (a, x) -> a + x) AS s1,
                   list_reduce(list_prepend(0.0, list(comp ORDER BY vec_id)),
                               (a, x) -> a + x * x) AS ss1
            FROM mc GROUP BY j, b),
          m2 AS (
            SELECT j, CAST(SUM(n1) AS BIGINT) AS n,
                   list_reduce(list_prepend(0.0, list(s1 ORDER BY b)),
                               (a, x) -> a + x) AS s,
                   list_reduce(list_prepend(0.0, list(ss1 ORDER BY b)),
                               (a, x) -> a + x) AS ss
            FROM m1 GROUP BY j),
          means AS (
            SELECT j, n, s / n AS m,
                   (ss / n) - (s / n) * (s / n) AS var FROM m2),
          muarr AS (SELECT list(m ORDER BY j) AS mu FROM means),
          tracev AS (
            SELECT list_reduce(list_prepend(0.0, list(var ORDER BY j)),
                               (a, x) -> a + x) AS tr
            FROM means),
          cen AS (
            SELECT e.vec_id, CAST(FLOOR(e.vec_id / 256.0) AS BIGINT) AS b,
                   list_transform(range(1, 65),
                     p -> CAST(e.embedding[p] AS DOUBLE) - m.mu[p]) AS c
            FROM embeddings e CROSS JOIN muarr m),
          v00 AS (SELECT list_transform(range(1, 65),
                           i -> CAST(0.125 AS DOUBLE)) AS v),
          ${step(1, "v00")},
          ${step(2, "vn1")},
          ${step(3, "vn2")},
          sf AS (
            SELECT c.vec_id, c.b,
                   list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                       p -> c.c[p] * v.v[p])), (a, x) -> a + x) AS s
            FROM cen c CROSS JOIN vn3 v),
          lb AS (
            SELECT b, COUNT(*) AS n1,
                   list_reduce(list_prepend(0.0, list(s * s ORDER BY vec_id)),
                               (a, x) -> a + x) AS t1
            FROM sf GROUP BY b),
          lam AS (
            SELECT list_reduce(list_prepend(0.0, list(t1 ORDER BY b)),
                               (a, x) -> a + x) / SUM(n1) AS lambda
            FROM lb)
          SELECT CAST(me.j - 1 AS INT) AS pos, me.m AS mean_comp,
                 v.v[me.j] AS pc1, l.lambda AS lambda,
                 l.lambda / t.tr AS explained_share
          FROM means me CROSS JOIN vn3 v CROSS JOIN lam l CROSS JOIN tracev t"""
    },
    "s16_kmeans_lloyd" ->
      s"""WITH $ivfAssignedCtes,
          comps1 AS (
            SELECT cid, vec_id, CAST(FLOOR(vec_id / 256.0) AS BIGINT) AS b,
                   unnest(range(1, 65)) AS j,
                   unnest(list_transform(range(1, 65),
                          j -> CAST(embedding[j] AS DOUBLE))) AS comp
            FROM assigned),
          l1a AS (
            SELECT cid, j, b, COUNT(*) AS n1,
                   list_reduce(list_prepend(0.0, list(comp ORDER BY vec_id)),
                               (a, x) -> a + x) AS s1
            FROM comps1 GROUP BY cid, j, b),
          means1 AS (
            SELECT cid, j,
                   list_reduce(list_prepend(0.0, list(s1 ORDER BY b)),
                               (a, x) -> a + x) / SUM(n1) AS m
            FROM l1a GROUP BY cid, j),
          cent1 AS (SELECT cid, list(m ORDER BY j) AS ce FROM means1 GROUP BY cid),
          scored2 AS (
            SELECT e.vec_id, e.embedding, c.cid,
                   list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                       i -> CAST(e.embedding[i] AS DOUBLE) * c.ce[i])),
                     (x, y) -> x + y) AS cdot
            FROM embeddings e CROSS JOIN cent1 c),
          assigned2 AS (
            SELECT vec_id, embedding, cid FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                           ORDER BY cdot DESC, cid) AS rn
              FROM scored2) t WHERE rn = 1),
          comps2 AS (
            SELECT cid, vec_id, CAST(FLOOR(vec_id / 256.0) AS BIGINT) AS b,
                   unnest(range(1, 65)) AS j,
                   unnest(list_transform(range(1, 65),
                          j -> CAST(embedding[j] AS DOUBLE))) AS comp
            FROM assigned2),
          l1b AS (
            SELECT cid, j, b, COUNT(*) AS n1,
                   list_reduce(list_prepend(0.0, list(comp ORDER BY vec_id)),
                               (a, x) -> a + x) AS s1
            FROM comps2 GROUP BY cid, j, b),
          means2 AS (
            SELECT cid, j, CAST(SUM(n1) AS BIGINT) AS n_members,
                   list_reduce(list_prepend(0.0, list(s1 ORDER BY b)),
                               (a, x) -> a + x) / SUM(n1) AS m
            FROM l1b GROUP BY cid, j)
          SELECT m2.cid, CAST(m2.j - 1 AS INT) AS pos, m2.n_members,
                 m1.m AS comp1, m2.m AS comp2, abs(m2.m - m1.m) AS shift
          FROM means2 m2 JOIN means1 m1 ON m1.cid = m2.cid AND m1.j = m2.j""",
    "s15_dim_stats" ->
      s"""WITH comps AS (
            SELECT vec_id, CAST(FLOOR(vec_id / 256.0) AS BIGINT) AS b,
                   unnest(range(1, 65)) AS j,
                   unnest(list_transform(range(1, 65),
                          j -> CAST(embedding[j] AS DOUBLE))) AS comp
            FROM embeddings),
          l1 AS (
            SELECT j, b, COUNT(*) AS n1,
                   list_reduce(list_prepend(0.0, list(comp ORDER BY vec_id)),
                               (a, x) -> a + x) AS s1,
                   list_reduce(list_prepend(0.0, list(comp ORDER BY vec_id)),
                               (a, x) -> a + x * x) AS ss1,
                   MIN(comp) AS mn1, MAX(comp) AS mx1
            FROM comps GROUP BY j, b),
          l2 AS (
            SELECT j, CAST(SUM(n1) AS BIGINT) AS n,
                   list_reduce(list_prepend(0.0, list(s1 ORDER BY b)),
                               (a, x) -> a + x) AS s,
                   list_reduce(list_prepend(0.0, list(ss1 ORDER BY b)),
                               (a, x) -> a + x) AS ss,
                   MIN(mn1) AS min_comp, MAX(mx1) AS max_comp
            FROM l1 GROUP BY j)
          SELECT CAST(j - 1 AS INT) AS pos, n,
                 s / n AS mean_comp,
                 (ss / n) - (s / n) * (s / n) AS var_comp,
                 min_comp, max_comp
          FROM l2""",
    "s13_matryoshka_recall" -> {
      val full = cosineSql("q.qe", "e.embedding")
      val trunc = cosineSql("q.qe[1:16]", "e.embedding[1:16]")
      s"""WITH q AS (
            SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
          pairs AS (
            SELECT q.qid, e.vec_id AS nid,
                   $full AS cos_full, $trunc AS cos_trunc
            FROM embeddings e JOIN q ON e.vec_id <> q.qid),
          f AS (
            SELECT qid, nid FROM (
              SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
                ORDER BY cos_full DESC, nid) AS rnk FROM pairs) t
            WHERE rnk <= 10),
          tr AS (
            SELECT qid, nid FROM (
              SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
                ORDER BY cos_trunc DESC, nid) AS rnk FROM pairs) t
            WHERE rnk <= 10)
          SELECT qid, COUNT(*) AS n_common
          FROM f JOIN tr USING (qid, nid)
          GROUP BY 1"""
    },
    "s11_hybrid_search" -> {
      val tok = "list_distinct(string_split_regex(text, '\\s+'))"
      s"""WITH cands AS (
            SELECT d.doc_id AS did, d.text, e.embedding
            FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
          qs AS (
            SELECT did AS qid, text AS qtext, embedding AS qe
            FROM cands WHERE did < 5),
          qt AS (SELECT qid, unnest($tok) AS tok
                 FROM (SELECT qid, qtext AS text FROM qs) t),
          ct AS (SELECT did, unnest($tok) AS tok FROM cands),
          lex AS (
            SELECT qid, did, COUNT(*) AS overlap
            FROM qt JOIN ct USING (tok) WHERE did <> qid GROUP BY 1, 2),
          vec AS (
            SELECT q.qid, c.did, ${cosineSql("q.qe", "c.embedding")} AS cos_sim
            FROM qs q JOIN cands c ON c.did <> q.qid),
          scored AS (
            SELECT v.qid, v.did, COALESCE(l.overlap, 0) AS overlap, v.cos_sim
            FROM vec v LEFT JOIN lex l ON l.qid = v.qid AND l.did = v.did),
          ranked AS (
            SELECT *,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY overlap DESC, did) AS r_lex,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY cos_sim DESC, did) AS r_vec
            FROM scored)
          SELECT qid, CAST(rank AS INT) AS rank, did,
                 CAST(overlap AS BIGINT) AS overlap, cos_sim, rrf
          FROM (
            SELECT *, CAST(1 AS DOUBLE) / (r_lex + 60)
                      + CAST(1 AS DOUBLE) / (r_vec + 60) AS rrf,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY CAST(1 AS DOUBLE) / (r_lex + 60)
                                             + CAST(1 AS DOUBLE) / (r_vec + 60) DESC,
                                             did) AS rank
            FROM ranked) t
          WHERE rank <= 5"""
    },
    "s10_lang_centroids" ->
      """WITH joined AS (
           SELECT d.lang, e.vec_id, e.embedding
           FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
         comps AS (
           SELECT lang, vec_id, unnest(range(1, 65)) AS j,
                  unnest(list_transform(range(1, 65),
                         j -> CAST(embedding[j] AS DOUBLE))) AS comp
           FROM joined)
         SELECT lang, CAST(j - 1 AS INT) AS pos, COUNT(*) AS n_docs,
                list_reduce(list_prepend(0.0, list(comp ORDER BY vec_id)),
                            (a, b) -> a + b) / COUNT(*) AS centroid_comp
         FROM comps GROUP BY lang, j""",
    "s09_pq_ann" ->
      s"""WITH $pqAdcSql
          SELECT qid, CAST(rank AS INT) AS rank, nid, adc_dist FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                         ORDER BY adc_dist, nid) AS rank
            FROM adc) t
          WHERE rank <= 5""",
    "s12_reranked_pq" ->
      s"""WITH $pqAdcSql,
          coarse AS (
            SELECT qid, nid, adc_dist, CAST(crank AS INT) AS coarse_rank FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                           ORDER BY adc_dist, nid) AS crank
              FROM adc) t
            WHERE crank <= 50),
          rer AS (
            SELECT c.qid, c.nid, c.coarse_rank,
                   ${cosineSql("q.embedding", "n.embedding")} AS cos_sim
            FROM coarse c
            JOIN embeddings q ON q.vec_id = c.qid
            JOIN embeddings n ON n.vec_id = c.nid)
          SELECT qid, CAST(rank AS INT) AS rank, nid, cos_sim, coarse_rank FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                         ORDER BY cos_sim DESC, nid) AS rank
            FROM rer) t
          WHERE rank <= 10""",
    "s08_quantized_knn" ->
      s"""WITH mxs AS (
            SELECT vec_id, embedding,
                   list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
            FROM embeddings),
          qz AS (
            SELECT vec_id, embedding,
                   CASE WHEN mx > 0 THEN CAST(127 AS DOUBLE) / mx ELSE 1.0 END AS scale
            FROM mxs),
          qvs AS (
            SELECT vec_id, embedding, scale,
                   list_transform(embedding,
                     x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT)) AS qv
            FROM qz),
          scored AS (
            SELECT q.vec_id AS qid, e.vec_id AS nid,
                   CAST(list_reduce(list_transform(range(1, 65),
                          i -> q.qv[i] * e.qv[i]), (x, y) -> x + y) AS DOUBLE)
                     / (q.scale * e.scale) AS approx_dot,
                   ${dotSql("q.embedding", "e.embedding")} AS exact_dot
            FROM qvs q JOIN qvs e ON e.vec_id <> q.vec_id AND q.vec_id < 5)
          SELECT qid, CAST(rank AS INT) AS rank, nid, approx_dot, exact_dot FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                         ORDER BY approx_dot DESC, nid) AS rank
            FROM scored) t
          WHERE rank <= 5""",
    // hierarchical two-level ordered fold replayed add-for-add: members
    // by vec_id inside each 256-vector bucket, bucket partials by bucket
    // id — the same IEEE sequence as Spark's bucketedMeans
    "s05_centroid_agg" ->
      s"""WITH $ivfAssignedCtes,
          comps AS (
            SELECT cid, vec_id, CAST(FLOOR(vec_id / 256.0) AS BIGINT) AS b,
                   unnest(range(1, 65)) AS j,
                   unnest(list_transform(range(1, 65),
                          j -> CAST(embedding[j] AS DOUBLE))) AS comp
            FROM assigned),
          l1 AS (
            SELECT cid, j, b, COUNT(*) AS n1,
                   list_reduce(list_prepend(0.0, list(comp ORDER BY vec_id)),
                               (a, x) -> a + x) AS s1
            FROM comps GROUP BY cid, j, b)
          SELECT cid, CAST(j - 1 AS INT) AS pos,
                 CAST(SUM(n1) AS BIGINT) AS n_members,
                 list_reduce(list_prepend(0.0, list(s1 ORDER BY b)),
                             (a, x) -> a + x) / SUM(n1) AS centroid_comp
          FROM l1 GROUP BY cid, j""",
    // s01's exact chain and s02's bucketed chain composed in one WITH;
    // recall@5 = |approx ∩ exact-top5| / 5 per query
    "s07_ann_recall" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
          scored AS (
            SELECT q.qid, e.vec_id AS nid,
                   ${cosineSql("q.qe", "e.embedding")} AS cos_sim
            FROM embeddings e JOIN q ON e.vec_id <> q.qid),
          exact5 AS (
            SELECT qid, nid FROM (
              SELECT qid, nid,
                     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
              FROM scored) t WHERE rank <= 5),
          b AS (
            SELECT vec_id, embedding, ${lshBucketSql("embedding")} AS bucket
            FROM embeddings),
          q2 AS (SELECT vec_id AS qid, embedding AS qe, bucket AS qbucket
                 FROM b WHERE vec_id < 5),
          cand AS (
            SELECT q2.qid, e.vec_id AS nid,
                   ${cosineSql("q2.qe", "e.embedding")} AS cos_sim
            FROM b e JOIN q2 ON e.bucket = q2.qbucket AND e.vec_id <> q2.qid),
          approx5 AS (
            SELECT qid, nid FROM (
              SELECT qid, nid,
                     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
              FROM cand) t WHERE rank <= 5)
          SELECT e.qid, COUNT(*) AS n_exact,
                 CAST(COUNT(a.nid) AS BIGINT) AS n_hit,
                 CAST(COUNT(a.nid) AS DOUBLE) / COUNT(*) AS recall
          FROM exact5 e
          LEFT JOIN approx5 a ON a.qid = e.qid AND a.nid = e.nid
          GROUP BY e.qid""",
    "s06_range_search" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5)
          SELECT q.qid, e.vec_id AS nid,
                 ${cosineSql("q.qe", "e.embedding")} AS cos_sim
          FROM embeddings e JOIN q ON e.vec_id <> q.qid
          WHERE ${cosineSql("q.qe", "e.embedding")} >= 0.25""",
    "s01_knn_bruteforce" -> knnTop10Sql,
    // the bounded-heap aggregator must reproduce the window ranking
    // bit-for-bit (same scores, same (score desc, nid) tie-break) — the
    // oracle is s01's verbatim
    "s03_knn_topk_agg" -> knnTop10Sql,
    "s02_ann_lsh" ->
      s"""WITH b AS (
            SELECT vec_id, embedding, ${lshBucketSql("embedding")} AS bucket
            FROM embeddings),
          q AS (SELECT vec_id AS qid, embedding AS qe, bucket AS qbucket
                FROM b WHERE vec_id < 5),
          cand AS (
            SELECT q.qid, e.vec_id AS nid,
                   ${cosineSql("q.qe", "e.embedding")} AS cos_sim
            FROM b e JOIN q ON e.bucket = q.qbucket AND e.vec_id <> q.qid),
          ranked AS (
            SELECT qid, nid, cos_sim,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
            FROM cand)
          SELECT qid, CAST(rank AS INT) AS rank, nid, cos_sim
          FROM ranked WHERE rank <= 5""",
    // 3 unrolled PageRank iterations over the s14 edge CTEs — identical
    // fold orders (the 256-bucket two-level fold for BOTH the in-sums
    // and the dangling mass, u-then-bucket order) and decimal literals
    // CAST to DOUBLE so the damping update is the same IEEE op sequence
    // as the Spark side
    "s21_pagerank_knn" -> {
      def iter(k: Int): String = {
        val prev = if (k == 1) "r0" else s"r${k - 1}"
        s"""share$k AS (
              SELECT vec_id AS u, pr / CAST(deg AS DOUBLE) AS share
              FROM $prev WHERE deg > 0),
            insb$k AS (
              SELECT e.nid AS vec_id,
                     CAST(FLOOR(s.u / 256.0) AS BIGINT) AS ib,
                     list_reduce(list_prepend(0.0, list(s.share ORDER BY s.u)),
                                 (a, x) -> a + x) AS s1
              FROM edges e JOIN share$k s ON e.vid = s.u
              GROUP BY 1, 2),
            ins$k AS (
              SELECT vec_id,
                     list_reduce(list_prepend(0.0, list(s1 ORDER BY ib)),
                                 (a, x) -> a + x) AS insum
              FROM insb$k GROUP BY 1),
            db$k AS (
              SELECT CAST(FLOOR(vec_id / 256.0) AS BIGINT) AS b,
                     list_reduce(list_prepend(0.0, list(pr ORDER BY vec_id)),
                                 (a, x) -> a + x) AS s
              FROM $prev WHERE deg = 0 GROUP BY 1),
            dm$k AS (
              SELECT COALESCE(list_reduce(list_prepend(0.0, list(s ORDER BY b)),
                                          (a, x) -> a + x), 0.0) AS dm
              FROM db$k),
            r$k AS (
              SELECT p.vec_id, p.deg,
                     CAST(0.15 AS DOUBLE) / nn.n +
                     CAST(0.85 AS DOUBLE) * (COALESCE(i.insum, 0.0) + d.dm / nn.n) AS pr
              FROM $prev p
              LEFT JOIN ins$k i ON p.vec_id = i.vec_id
              CROSS JOIN dm$k d CROSS JOIN nn)"""
      }
      s"""WITH $ivfAssignedCtes,
          knncand AS (
            SELECT a.vec_id AS vid, b.vec_id AS nid,
                   ${cosineSql("a.embedding", "b.embedding")} AS cos_sim
            FROM assigned a JOIN assigned b USING (cid)
            WHERE a.vec_id <> b.vec_id),
          edges AS (
            SELECT vid, nid FROM (
              SELECT vid, nid,
                     ROW_NUMBER() OVER (PARTITION BY vid
                                        ORDER BY cos_sim DESC, nid) AS rank
              FROM knncand) t WHERE rank <= 3),
          deg AS (
            SELECT e.vec_id, COALESCE(d.deg, 0) AS deg
            FROM embeddings e
            LEFT JOIN (SELECT vid, CAST(COUNT(*) AS BIGINT) AS deg
                       FROM edges GROUP BY 1) d ON e.vec_id = d.vid),
          nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
          r0 AS (
            SELECT vec_id, deg, CAST(1.0 AS DOUBLE) / nn.n AS pr
            FROM deg CROSS JOIN nn),
          ${iter(1)},
          ${iter(2)},
          ${iter(3)}
          SELECT vec_id, deg AS out_deg, pr AS pagerank FROM r3"""
    },
    "s14_knn_graph" ->
      s"""WITH $ivfAssignedCtes,
          cand AS (
            SELECT a.vec_id AS vid, b.vec_id AS nid,
                   ${cosineSql("a.embedding", "b.embedding")} AS cos_sim
            FROM assigned a JOIN assigned b USING (cid)
            WHERE a.vec_id <> b.vec_id),
          ranked AS (
            SELECT vid, nid, cos_sim,
                   ROW_NUMBER() OVER (PARTITION BY vid
                                      ORDER BY cos_sim DESC, nid) AS rank
            FROM cand)
          SELECT vid, CAST(rank AS INT) AS rank, nid, cos_sim
          FROM ranked WHERE rank <= 3""",
    "s04_ann_ivf" ->
      s"""WITH $ivfAssignedCtes,
          probes AS (
            SELECT vec_id AS qid, embedding AS qe, cid FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                           ORDER BY cdot DESC, cid) AS rn
              FROM scored WHERE vec_id < 5) t WHERE rn <= $NProbe),
          cand AS (
            SELECT p.qid, a.vec_id AS nid,
                   ${cosineSql("p.qe", "a.embedding")} AS cos_sim
            FROM assigned a JOIN probes p USING (cid)
            WHERE a.vec_id <> p.qid),
          ranked AS (
            SELECT qid, nid, cos_sim,
                   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rank
            FROM cand)
          SELECT qid, CAST(rank AS INT) AS rank, nid, cos_sim
          FROM ranked WHERE rank <= 5""",
  )
}
