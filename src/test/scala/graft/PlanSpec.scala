package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Relational

/** Plan-shape guards: these properties are what makes the queries viable
  * at 100 TB — losing one to a refactor is a silent performance bug, so
  * they are asserted, not just eyeballed.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  test("q02: predicates and projection push into the parquet scan") {
    val p = formatted(Relational.q02FilterProject(spark, sf0001))
    assert(p.contains("PushedFilters:"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "shipdate range must push down")
    assert(p.contains("LessThan(l_quantity,24.0)"), "quantity filter must push down")
    // column pruning: tax/returnflag never read
    assert(!p.contains("l_tax"), "unused columns must not reach ReadSchema")
  }

  test("q05: dimension joins broadcast; ASIA + date filters reach the fact inputs") {
    val df = Relational.q05NationRevenue(spark, sf0001)
    val p = planOf(df)
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(broadcasts >= 4,
      s"expected broadcast joins for cust-semi/sup-semi/supplier/nation, got $broadcasts")
    // the region restriction must prune customer BEFORE the orders shuffle:
    // a broadcast LEFT-SEMI against the ASIA nation keys
    assert(p.contains("LeftSemi"), "customer/supplier must be semi-filtered by ASIA nations")
    // the order-date window pushes into the parquet scan of orders
    val f = formatted(df)
    assert(f.contains("GreaterThanOrEqual(o_orderdate"), "date window must push down to orders scan")
  }

  test("q01: aggregation is partial before the exchange (map-side combine)") {
    val p = planOf(Relational.q01PricingSummary(spark, sf0001))
    assert(p.contains("partial_sum") || p.contains("Partial"),
      "hash aggregate must have a partial phase")
    assert(p.contains("Exchange hashpartitioning"))
  }

  test("q03: top-10 compiles to TakeOrderedAndProject, not a global sort") {
    val p = planOf(Relational.q03TopRevenueOrders(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q50: unpivot is a map-side Expand — exactly one exchange (the final agg)") {
    val p = planOf(ops.Relational4.q50Unpivot(spark, sf0001))
    assert(p.contains("Expand"), "unpivot must compile to Expand, not a union of scans")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected one exchange (final 3-group agg), got $exchanges")
  }

  test("s05 centroids: centroid side is broadcast; corpus never shuffles for assignment") {
    val p = planOf(ext.Similarity.s05CentroidAgg(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "centroids must broadcast")
  }

  test("t11 packing: corpus-sized window is bucket-partitioned (parallel), not global") {
    val counts = Tables.documents(spark, sf0001)
      .select(org.apache.spark.sql.functions.col("doc_id"),
              org.apache.spark.sql.functions.expr("doc_id div 100").as("ignored"),
              org.apache.spark.sql.functions.size(
                ext.TextAnalysis.tokens(org.apache.spark.sql.functions.col("text")))
                .cast("long").as("n_tokens"))
      .select("doc_id", "n_tokens")
    val p = planOf(ext.TextAnalysis.assignChunks(counts, 512L))
    // the intra-bucket running sum must partition by bucket; the only
    // un-partitioned window is over the bucket TOTALS (metadata-sized)
    assert(p.contains("windowspecdefinition(bucket#"),
      "doc-level running sum must be partitioned by bucket")
  }

  test("whole-stage codegen covers the scan->filter->project pipeline") {
    // codegen'd stages print with the "*(id)" prefix in the simple plan
    val p = planOf(Relational.q02FilterProject(spark, sf0001))
    assert(p.contains("*(1) Project") && p.contains("*(1) Filter"))
  }

  test("s01 knn: query side is broadcast (no shuffle of the corpus)") {
    val p = planOf(ext.Similarity.s01KnnBruteForce(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("s04 ivf: centroids broadcast — assignment is map-side over the scan") {
    val p = planOf(ext.Similarity.s04AnnIvf(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin"),
      "centroid cross join must broadcast the centroid set, not shuffle the corpus")
  }

  test("s06 range search: zero shuffles — broadcast join, map-side threshold") {
    val p = planOf(ext.Similarity.s06RangeSearch(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin"), "query set must broadcast")
    assert(!p.contains("Exchange hashpartitioning"),
      "range search must not shuffle the corpus at all")
  }

  test("q63 skyline: the frontier window is partitioned by brand, never global") {
    val p = planOf(ops.Relational6.q63Skyline(spark, sf0001))
    assert(p.contains("windowspecdefinition(p_brand#"),
      "running-max window must be partitioned by p_brand")
  }

  test("q64 winsorize: percentile bounds broadcast back — no fact-side re-shuffle for the join") {
    val p = planOf(ops.Relational6.q64Winsorize(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), "5-row bounds table must broadcast")
  }

  test("q66 equi-depth: the bucket agg reuses the window's returnflag partitioning — one exchange") {
    val p = planOf(ops.Relational6.q66EquidepthBins(spark, sf0001))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1,
      s"hashpartitioning(l_returnflag) must serve both window and agg, got $exchanges exchanges")
  }

  test("t15 bm25: term stats and corpus scalars broadcast to the tf side") {
    val p = planOf(ext.TextAnalysis.t15Bm25(spark, sf0001))
    val bc = ("BroadcastHashJoin".r.findAllIn(p).size
      + "BroadcastNestedLoopJoin".r.findAllIn(p).size)
    assert(bc >= 2, s"df and (n_docs, avgdl) joins must broadcast, got $bc broadcasts")
  }

  test("s08 quantized knn: query set broadcasts — no shuffle before the top-k window") {
    val p = planOf(ext.Similarity.s08QuantizedKnn(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin"), "query side must broadcast")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"only the per-query window may exchange, got $exchanges")
  }

  test("d14 passage dedup: keep-first window partitioned by passage hash, never global") {
    val p = planOf(ext.Dedup.d14PassageDedup(spark, sf0001))
    assert(p.contains("windowspecdefinition(h#"),
      "keep-first row_number must be partitioned by the passage hash")
    assert(!p.contains("windowspecdefinition(ORDER"),
      "no un-partitioned (global-sort) window anywhere in the plan")
  }

  test("q74 interval frame: both frame reads share one user-keyed Window node") {
    val p = planOf(ops.Relational6.q74IntervalRangeFrame(spark, sf0001))
    val windows = "Window ".r.findAllIn(p).size
    assert(windows == 1, s"count+sum must fold into one Window node, got $windows")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"one user_id exchange expected, got $exchanges")
  }

  test("q81 bucketed range join: the key-less interval join runs as an equi-join on cells") {
    val p = planOf(ops.Relational6.q81BucketedRangeJoin(spark, sf0001))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join must not plan a nested loop:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), "cell ids must drive a hash/merge join")
  }

  test("q71 column profile: the NDV Expand aggregates by hash, not a wide sort") {
    val p = planOf(ops.Relational6.q71ColumnProfile(spark, sf0001))
    assert(p.contains("Expand"), "multi-distinct must compile to Expand")
    assert(!p.contains("Sort "), // the regression this guards: min/max(string)
      "profile must not sort the expanded fact rows")  // fused into the Expand agg
  }

  test("q84 promo share: part broadcasts and both sums ride one agg pass") {
    val p = planOf(ops.Relational7.q84PromoShare(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), "part is a dimension — it must broadcast")
    val aggExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(aggExchanges == 1,
      s"promo and total revenue must come from ONE grouped agg, got $aggExchanges exchanges")
  }

  test("q87 large-volume: the HAVING agg reduces the fact table before any join") {
    val p = planOf(ops.Relational7.q87LargeVolumeCustomers(spark, sf0001))
    assert(p.contains("partial_sum") || p.contains("Partial"),
      "per-order quantity sum must have a map-side partial phase")
    // the qty filter sits on the agg output, so the join probe side is the
    // ~1% survivors, never raw lineitem
    assert(p.contains("(qty"), s"HAVING filter must appear above the agg:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q90 idle customers: global average broadcasts; no-orders test is an anti join") {
    val p = planOf(ops.Relational7.q90IdleCustomers(spark, sf0001))
    assert(p.contains("LeftAnti"), "NOT EXISTS must plan as a left-anti join")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the 1-row average must broadcast, never shuffle customer for it")
  }

  test("q93 first-touch: the as-of union shuffles ONCE by user, no range join") {
    val p = planOf(ops.Relational7.q93FirstTouch(spark, sf0001))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"attribution must not plan a pair blowup:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"one user_id exchange expected, got $exchanges")
  }

  test("q89 waiting suppliers: grouped reformulation never plans a nested loop") {
    val p = planOf(ops.Relational7.q89WaitingSuppliers(spark, sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the double-EXISTS reformulation must stay hash-join shaped:\n$p")
  }

  test("d18 map-side LSH: no shingle explode and zero global sort in the whole pair plan") {
    // uncached build: caching would hide upstream operators inside
    // InMemoryRelation and make the guard vacuous
    val corpus = ext.Dedup.corpusWithCopies(Tables.documents(spark, sf0001))
    val p = planOf(ext.Dedup.minHashPairsMapSide(corpus, doCache = false))
    // The SCALE claim is "no row-per-SHINGLE explosion" (a corpus x
    // shingle-count blowup): minhash_sig folds shingles inside one
    // codegen'd expression. The band projection IS a Generate since r12
    // — a constant-4 posexplode of the per-band keys, O(1) fan-out,
    // which replaced a 4-branch union that re-ran the minhash once per
    // branch — so the guard forbids any OTHER Generate shape.
    val gens = "Generate ([a-z_]+)".r.findAllMatchIn(p).map(_.group(1)).toSet
    assert(gens.subsetOf(Set("posexplode")),
      s"only the constant-fan-out band posexplode may Generate, got $gens:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"no single-partition global sort in the pair pipeline:\n$p")
  }

  test("s14/d24: within-cell pairing stays an equi-join on the cell id — no pair blowup") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    // d24 via its staged pipeline: the registry entry returns the
    // CHECKPOINTED result (localCheckpoint), which would hide the join
    val (d24df, d24caches) = ext.Dedup.semDedupStaged(spark, sf0001)
    // s14 via its staged pipeline too — the registry entry returns the
    // checkpointed edge list, which would hide the join
    val (s14df, s14caches) = ext.Similarity.s14KnnGraphStaged(spark, sf0001)
    Seq(s14df, d24df).foreach { df =>
      // typed collect: does NOT descend into InMemoryRelation, so the
      // 16-row centroid nested-loop inside the CACHED assignment build
      // is invisible — exactly the runtime view (the cache is scanned,
      // not recomputed, on every pairing read)
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
        s"the cached assignment must hide the centroid attach:\n$plan")
      assert(plan.collect { case j: CartesianProductExec => j }.isEmpty)
      val p = plan.toString
      assert("Join \\[cid#".r.findFirstIn(p).isDefined,
        s"pairing must be an equi-join keyed on the cell id:\n$p")
    }
    (d24caches ++ s14caches).foreach(_.unpersist())
  }

  test("d20 keep-best on scale labels: no dictionary global sort, policy window is cluster-keyed") {
    val df = ext.Dedup.d20KeepBestScale(spark, sf0001)
    val p = planOf(df)
    assert(p.contains("windowspecdefinition(cluster_id#"),
      "keeper argmax must be partitioned by cluster_id")
    assert(!p.contains("windowspecdefinition(ORDER"),
      "no un-partitioned (global-sort) window anywhere in the plan")
    assert(!p.contains("Exchange SinglePartition"),
      s"no single-partition exchange (the dictionary dense_rank shape) in d20:\n$p")
  }

  test("join strategy hints steer the physical operator (the per-query optimizer override)") {
    // the knob a user turns when the optimizer's default is wrong for a
    // specific 100 TB join: each hint must actually change the plan
    import org.apache.spark.sql.functions.{broadcast, col}
    val o = Tables.orders(spark, sf0001).select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.customer(spark, sf0001).select(col("c_custkey"), col("c_mktsegment"))
    def joined(right: org.apache.spark.sql.DataFrame) =
      o.join(right, col("o_custkey") === col("c_custkey"))
    val b = planOf(joined(broadcast(c)))
    assert(b.contains("BroadcastHashJoin"), s"broadcast() hint must broadcast:\n$b")
    val m = planOf(joined(c.hint("merge")))
    assert(m.contains("SortMergeJoin"), s"merge hint must sort-merge:\n$m")
    val sh = planOf(joined(c.hint("shuffle_hash")))
    assert(sh.contains("ShuffledHashJoin"), s"shuffle_hash hint must hash-join:\n$sh")
  }
}
