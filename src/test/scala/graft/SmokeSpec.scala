package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM per `sbt test` fork). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"

  /** `body` with `confs` set on the shared session; each key is put
    * back as it was afterwards (unset again when it was not set). */
  def withConf[A](confs: (String, String)*)(body: => A): A = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, p) => p.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** `body`'s result and the number of Spark jobs it started, counted
    * by job group. Job events reach the status tracker in order but
    * asynchronously, so a control job runs in its own group afterwards:
    * once the control shows, every job `body` started has shown too. */
  def withJobCount[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    def inGroup[B](group: String)(b: => B): B = {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      try b finally sc.clearJobGroup()
    }
    val out = inGroup(s"counted-$tag")(body)
    inGroup(s"control-$tag")(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (sc.statusTracker.getJobIdsForGroup(s"control-$tag").isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup(s"control-$tag").nonEmpty)
    (out, sc.statusTracker.getJobIdsForGroup(s"counted-$tag").length)
  }
}

class SmokeSpec extends AnyFunSuite {
  import TestSpark._

  test("entry flagship returns rows") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.nonEmpty)
  }

  test("every registered query runs on sf0.001 and every oracle key exists") {
    val qs = SparkEntry.queries
    assert(qs.nonEmpty)
    SparkEntry.oracleSql.keys.foreach(k => assert(qs.contains(k), s"oracle without query: $k"))
    // an entry that needs its own confs builds on Tables.isolated: the
    // caller's session conf is the same before and after every entry
    val leaks = qs.toSeq.flatMap { case (name, fn) =>
      val before = spark.conf.getAll
      val n = fn(spark, sf0001).count()
      withClue(s"$name should produce rows at sf0.001: ") { assert(n >= 0) }
      val after = spark.conf.getAll
      val changed = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
      if (changed.isEmpty) None else Some(s"$name: ${changed.toSeq.sorted.mkString(", ")}")
    }
    assert(leaks.isEmpty, leaks.mkString("entries that changed the caller's conf:\n", "\n", ""))
  }

  test("shuffle-scoped entries run concurrently on one session, each as if alone") {
    val runs = Seq("o20_dsv2_table_stream", "o23_state_introspection").map(SparkEntry.queries)
      .map(fn => () => fn(spark, sf0001).collect().map(_.toString).sorted.toSeq)
    val sequential = runs.map(_())
    val shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val parallel = Tables.inParallel(runs: _*)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == shuffle)
    assert(parallel == sequential)
  }

  test("approx_count_distinct is within rsd of exact counts") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val approx = ops.Relational2.q28ApproxDistinct(spark, sf0001)
    val exact = Tables.lineitem(spark, sf0001)
      .groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("p"), countDistinct($"l_orderkey").as("o"))
    val joined = approx.join(exact, "l_returnflag").collect()
    joined.foreach { r =>
      val (ap, ep) = (r.getAs[Long]("approx_parts").toDouble, r.getAs[Long]("p").toDouble)
      val (ao, eo) = (r.getAs[Long]("approx_orders").toDouble, r.getAs[Long]("o").toDouble)
      assert(math.abs(ap - ep) / ep < 0.1, s"parts estimate off: $ap vs $ep")
      assert(math.abs(ao - eo) / eo < 0.1, s"orders estimate off: $ao vs $eo")
    }
  }

  test("count-min sketch estimates bound the exact counts (exact <= est <= exact + eps*N)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import org.apache.spark.util.sketch.CountMinSketch
    val rows = ops.Relational3.q46CountMinSketch(spark, sf0001).collect()
    // keep the raw boxed value: CountMinSketch hashes by runtime type, so
    // the probe must be the same type the sketch ingested
    val exact = Tables.lineitem(spark, sf0001)
      .groupBy($"l_returnflag", $"l_suppkey").count().collect()
      .map(r => (r.getString(0), r.get(1)) -> r.getLong(2)).toMap
    rows.foreach { r =>
      val flag = r.getString(0)
      val cms = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("cms")))
      val n = r.getAs[Long]("n_rows")
      exact.filter(_._1._1 == flag).foreach { case ((_, supp), cnt) =>
        val est = cms.estimateCount(supp)
        assert(est >= cnt, s"CMS must never under-count: $est < $cnt")
        assert(est <= cnt + (0.001 * n).toLong + 1, s"estimate $est too far above $cnt")
      }
    }
  }

  test("queries that must be non-empty at sf0.001") {
    Seq("q01_pricing_summary", "q03_top_revenue_orders", "q05_nation_revenue",
        "q07_customers_without_orders", "q13_set_ops", "q25_event_range_join",
        "q87_large_volume_customers", "q89_waiting_suppliers", "q93_first_touch",
        "d18_minhash_mapside", "d19_keep_best_dedup", "s12_reranked_pq",
        "s13_matryoshka_recall", "p07_hash_split", "t20_cooccurrence",
        "c14_snapshot_diff", "w13_stream_transitions", "c15_declared_schema",
        "d20_keep_best_scale", "d21_lsh_tuning_scale", "d22_incremental_scale",
        "t22_tokenizer_fertility", "c16_tombstone_gc",
        "q97_decile_lift", "s14_knn_graph", "d24_semdedup", "o04_schema_merge",
        "d25_simhash_mapside", "d26_simhash_neardup_scale",
        "m08_phash_neardup_wide")
      .foreach { name =>
        withClue(name) { assert(SparkEntry.queries(name)(spark, sf0001).count() > 0) }
      }
    // d23/m07 are spec-only (demoted from the registry in r9) but their
    // narrow-band teaching forms must still run non-empty
    assert(ext.Dedup.d23SimHashNearDup(spark, sf0001).count() > 0)
    assert(ext.Multimodal.m07PhashNearDup(spark, sf0001).count() > 0)
  }
}
