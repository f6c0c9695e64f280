package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Streaming

/** Operator-level assertions for the round-5 wave: skyline, winsorize,
  * recursive CTE, inverted index, BM25, weighted sampling, incremental
  * aggregate maintenance, the foreachBatch upsert sink, and the
  * transformWithState arbitrary-state API.
  */
class Round5Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("q63: skyline rows are mutually non-dominated and every dropped part is dominated") {
    val part = Tables.part(spark, sf0001)
      .select($"p_brand", $"p_partkey", $"p_retailprice", $"p_size")
      .as[(String, Long, Double, Int)].collect()
    val sky = ops.Relational6.q63Skyline(spark, sf0001)
      .select($"p_brand", $"p_partkey", $"p_retailprice", $"p_size")
      .as[(String, Long, Double, Int)].collect()
    assert(sky.nonEmpty)
    def dominates(a: (String, Long, Double, Int), b: (String, Long, Double, Int)): Boolean =
      a._1 == b._1 && a._3 <= b._3 && a._4 >= b._4 && (a._3 < b._3 || a._4 > b._4)
    val skySet = sky.map(_._2).toSet
    for (s <- sky; o <- part)
      assert(!dominates(o, s), s"skyline part ${s._2} is dominated by ${o._2}")
    for (d <- part if !skySet.contains(d._2))
      assert(part.exists(o => dominates(o, d)), s"dropped part ${d._2} is not dominated")
  }

  test("q65: recursion reaches every customer exactly once, root at depth 0") {
    val rows = ops.Relational6.q65RecursiveCte(spark, sf0001).collect()
    val total = rows.map(_.getAs[Long]("n_customers")).sum
    val nCust = Tables.customer(spark, sf0001).count()
    assert(total == nCust, s"walk covered $total of $nCust customers")
    val d0 = rows.find(_.getAs[Int]("depth") == 0).get
    assert(d0.getAs[Long]("n_customers") == 1 && d0.getAs[Long]("min_key") == 0)
    // parent(k) = k div 2 ⇒ depth of k is floor(log2(k)) + 1 for k ≥ 1
    val maxDepth = rows.map(_.getAs[Int]("depth")).max
    val expectedMax = (63 - java.lang.Long.numberOfLeadingZeros(nCust - 1)) + 1
    assert(maxDepth == expectedMax, s"max depth $maxDepth, expected $expectedMax")
  }

  test("q67: approx percentiles land within the sketch's rank-error bound of exact") {
    val approx = ops.Relational6.q67ApproxPercentiles(spark, sf0001).collect()
      .map(r => r.getAs[String]("o_orderpriority") ->
        (r.getAs[Double]("p05"), r.getAs[Double]("p50"), r.getAs[Double]("p95"))).toMap
    val byPrio = Tables.orders(spark, sf0001)
      .select($"o_orderpriority", $"o_totalprice").as[(String, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    approx.foreach { case (prio, (p05, p50, p95)) =>
      val v = byPrio(prio)
      // rank error ≤ n/accuracy (+1 for interpolation-free indexing slack)
      val slack = v.length / 10000 + 1
      def rankWindow(q: Double, got: Double): Unit = {
        val target = (q * (v.length - 1)).round.toInt
        val lo = v(math.max(0, target - slack))
        val hi = v(math.min(v.length - 1, target + slack))
        assert(got >= lo && got <= hi, s"$prio q=$q: $got outside [$lo, $hi]")
      }
      rankWindow(0.05, p05); rankWindow(0.5, p50); rankWindow(0.95, p95)
      assert(p05 <= p50 && p50 <= p95)
    }
  }

  test("q68: the Morton key bit-interleave round-trips both dimensions") {
    val rows = ops.Relational6.q68ZorderKey(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (da, db, z) = (r.getAs[Long]("da"), r.getAs[Long]("db"), r.getAs[Long]("zkey"))
      assert(z >= 0 && z < (1L << 20))
      val backA = (0 until 10).map(i => ((z >> (2 * i)) & 1L) << i).sum
      val backB = (0 until 10).map(i => ((z >> (2 * i + 1)) & 1L) << i).sum
      assert(backA == da && backB == db, s"zkey $z does not round-trip ($da, $db)")
    }
  }

  test("t17: overlapping chunks tile every document with stride 384") {
    val byDoc = ext.TextAnalysis.t17OverlapChunks(spark, sf0001).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.nonEmpty)
    byDoc.foreach { case (doc, chunks) =>
      val sorted = chunks.sortBy(_.getAs[Long]("chunk_idx"))
      val n = sorted.head.getAs[Long]("n_tokens")
      assert(sorted.head.getAs[Long]("chunk_start") == 0L)
      sorted.foreach { c =>
        val (s, l) = (c.getAs[Long]("chunk_start"), c.getAs[Long]("chunk_len"))
        assert(s < n && l >= 1 && s + l <= n, s"doc $doc chunk out of range")
      }
      val last = sorted.last
      assert(last.getAs[Long]("chunk_start") + last.getAs[Long]("chunk_len") == n,
        s"doc $doc: chunks must reach the end of the document")
      // every chunk but the last is full-size; consecutive overlap = 128
      sorted.init.foreach(c => assert(c.getAs[Long]("chunk_len") == 512L))
    }
  }

  test("c09: incremental partial-merge equals the full recompute bit-for-bit") {
    val inc = cdc.CdcQueries.c09IncrementalAgg(spark, sf0001)
      .as[(String, Long, Double)].collect().toMap2
    val full = Tables.events(spark, sf0001)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), Tables.dsum($"value").as("tv"))
      .as[(String, Long, Double)].collect().toMap2
    assert(inc == full) // exact: decimal partials merge losslessly
  }

  test("t14: postings are bounded, distinct, impact-ordered prefixes of the full lists") {
    val tok = ext.TextAnalysis.tokenized(Tables.documents(spark, sf0001))
      .select($"doc_id", $"tok".as("term"))
    val tf = tok.groupBy($"term", $"doc_id").agg(count(lit(1)).as("tf"))
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toMap).toMap
    val idx = ext.TextAnalysis.t14InvertedIndex(spark, sf0001).collect()
    assert(idx.nonEmpty)
    idx.foreach { r =>
      val term = r.getAs[String]("term")
      // postings ship as a comma-joined string (driver-hashable scalar)
      val posts = r.getAs[String]("postings").split(",").toSeq.map(_.toLong)
      val full = tf(term)
      assert(posts.length <= 100 && posts.length == posts.distinct.length)
      assert(r.getAs[Long]("df") == full.size)
      assert(r.getAs[Long]("total_tf") == full.values.sum)
      // impact order: (tf desc, doc_id asc), a prefix of the full ranking
      val expected = full.toSeq.sortBy { case (d, f) => (-f, d) }.map(_._1).take(100)
      assert(posts == expected, s"term $term postings not impact-ordered")
    }
  }

  test("t15: bm25 scores cover exactly the docs containing each query term, higher tf ⇒ higher score at equal length") {
    val rows = ext.TextAnalysis.t15Bm25(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => ext.TextAnalysis.Bm25QueryTerms.contains(r.getAs[String]("term"))))
    assert(rows.forall(_.getAs[Double]("score") > 0.0))
    // bm25 is monotone in tf for fixed (term, len)
    rows.groupBy(r => (r.getAs[String]("term"), r.getAs[Long]("len"))).values.foreach { g =>
      val sorted = g.sortBy(_.getAs[Long]("tf")).toSeq
      sorted.sliding(2).foreach { pair =>
        if (pair.size == 2)
          assert(pair(0).getAs[Double]("score") <= pair(1).getAs[Double]("score"))
      }
    }
  }

  test("p03: the deterministic coin keeps exactly the docs whose hash clears the quality threshold") {
    val q = ext.TextAnalysis.t03QualityScore(spark, sf0001)
      .select($"doc_id", $"quality").as[(Long, Double)].collect()
    val qmax = q.map(_._2).max
    val expected = q.filter { case (id, qual) =>
      ((id * 2654435761L) % 1000003L).toDouble * qmax < 500001.5 * qual
    }.map(_._1).toSet
    val got = ext.Curation.p03WeightedSample(spark, sf0001)
      .select($"doc_id").as[Long].collect().toSet
    assert(got == expected)
    // keep rate should hover near 0.5·avg(quality)/qmax
    val wantRate = 0.5 * q.map(_._2).sum / q.length / qmax
    val gotRate = got.size.toDouble / q.length
    assert(math.abs(gotRate - wantRate) < 0.15, s"rate $gotRate vs expected ~$wantRate")
  }

  test("d13: planted copies cluster with their source; labels are min members") {
    val rows = ext.Dedup.d13SemanticClusters(spark, sf0001).collect()
    val cluster = rows.map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id")).toMap
    // d05's fixture: +1e5 = exact copy of %20==0, +2e5 = sign-flip of %20==10
    cluster.keys.filter(id => id < 100000L && id % 20 == 0).foreach { src =>
      assert(cluster(src + 100000L) == cluster(src), s"exact copy of $src split off")
    }
    cluster.keys.filter(id => id < 100000L && id % 20 == 10).foreach { src =>
      assert(cluster(src + 200000L) == cluster(src), s"flipped copy of $src split off")
    }
    rows.groupBy(_.getAs[Long]("cluster_id")).foreach { case (c, ms) =>
      assert(c == ms.map(_.getAs[Long]("vec_id")).min, s"cluster $c not labeled by min member")
    }
    rows.foreach { r =>
      assert(r.getAs[Boolean]("is_representative")
        == (r.getAs[Long]("vec_id") == r.getAs[Long]("cluster_id")))
    }
  }

  test("w08: the streamed foreachBatch upsert lands on the batch latest-per-key state") {
    val streamed = ops.Streaming.w08ForeachBatchUpsert(spark, sf0001)
      .select($"user_id", $"last_event_id", $"last_type", $"last_value")
      .as[(Long, Long, String, Double)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    val batch = Tables.events(spark, sf0001)
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"user_id", $"event_id", $"event_type", $"value")
      .as[(Long, Long, String, Double)].collect().toSet
    assert(streamed == batch)
  }

  test("w09: transformWithState batch run equals the flatMapGroupsWithState fold exactly") {
    val tws = ops.Streaming.w09TransformWithState(spark, sf0001)
      .collect().map(_.toSeq).toSet
    val fmgs = ops.Streaming.w05StatefulTotals(spark, sf0001)
      .collect().map(_.toSeq).toSet
    assert(tws == fmgs) // identical event_id-ordered fold ⇒ identical doubles
  }

  test("w09 streaming: transformWithState over MemoryStream converges to batch totals") {
    implicit val sq = spark.sqlContext
    // transformWithState requires the RocksDB state store in streaming mode
    withConf("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val rows = Tables.events(spark, sf0001)
        .select($"event_id", $"user_id", $"event_type", $"value")
        .as[Streaming.UserEvent].collect().toSeq
      val ms = MemoryStream[Streaming.UserEvent]
      rows.grouped(300).foreach(b => ms.addData(b))
      val q = Streaming.statefulUserTotalsTws(ms.toDS())
        .writeStream.outputMode("update").format("memory").queryName("tws_tot")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"last_event_id".desc)
      val finalState = spark.table("tws_tot")
        .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"user_id", $"n_events", $"total_value")
        .as[(Long, Long, Double)].collect().toMap2
      val expected = ops.Streaming.w05StatefulTotals(spark, sf0001)
        .select($"user_id", $"n_events", $"total_value")
        .as[(Long, Long, Double)].collect().toMap2
      // identical event_id-ordered fold on both paths ⇒ exact equality
      assert(finalState == expected)
    }
  }

  test("q69: IGNORE NULLS reads match a hand fold over each customer's history") {
    val rows = ops.Relational6.q69IgnoreNulls(spark, sf0001)
      .select($"o_custkey", $"o_orderkey", $"v", $"ffill", $"first_nn", $"second_nn")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Double]),
        Option(r.get(4)).map(_.asInstanceOf[Double]),
        Option(r.get(5)).map(_.asInstanceOf[Double])))
    val orders = Tables.orders(spark, sf0001)
      // ISO string form of the NTZ timestamp sorts chronologically
      .select($"o_custkey", $"o_orderkey", $"o_orderdate".cast("string"), $"o_totalprice")
      .as[(Long, Long, String, Double)].collect()
    val hist = orders.groupBy(_._1).view.mapValues { os =>
      os.sortBy(o => (o._3, o._2)).map(o =>
        (o._2, if (o._2 % 7 == 0) None else Some(o._4)))
    }.toMap
    for ((ck, ok, v, ffill, firstNn, secondNn) <- rows) {
      val h = hist(ck)
      val idx = h.indexWhere(_._1 == ok)
      assert(h(idx)._2 == v)
      assert(ffill == h.take(idx + 1).flatMap(_._2).lastOption)
      val nn = h.flatMap(_._2)
      assert(firstNn == nn.headOption)
      assert(secondNn == nn.drop(1).headOption)
    }
  }

  test("q70: every order densifies into (o_orderkey % 3) + 1 consecutive month-starts") {
    val total = ops.Relational6.q70SequenceExplode(spark, sf0001)
      .agg(sum($"n_orders")).as[Long].head()
    val expected = Tables.orders(spark, sf0001)
      .select(($"o_orderkey" % 3 + 1).cast("long")).as[Long].collect().sum
    assert(total == expected, s"exploded $total rows, expected $expected")
    val months = ops.Relational6.q70SequenceExplode(spark, sf0001)
      .select($"month").as[java.sql.Timestamp].collect()
    months.foreach { m =>
      val ld = m.toLocalDateTime
      assert(ld.getDayOfMonth == 1 && ld.getHour == 0, s"$m is not a month start")
    }
  }

  test("d14: planted exact copies lose every passage; chunk counts tile the corpus") {
    val res = ext.Dedup.d14PassageDedup(spark, sf0001)
      .select($"doc_id", $"n_chunks", $"n_dup", $"retained_frac")
      .as[(Long, Long, Long, Double)].collect()
    val byId = res.map(r => r._1 -> r).toMap
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", size(ext.TextAnalysis.tokens($"text")).cast("long"))
      .as[(Long, Long)].collect().toMap
    // exact copies (id + 1000000): every passage already occurred in the source
    for ((id, n) <- docs if id % 10 == 0) {
      val (_, nChunks, nDup, retained) = byId(id + 1000000L)
      assert(nChunks == (n + 15) / 16)
      assert(nDup == nChunks, s"copy of $id kept ${nChunks - nDup} passages")
      assert(retained == 0.0)
    }
    // keep-first: kept passages across the corpus = distinct passage hashes
    // (originals may still lose the odd window to a NATURAL cross-doc
    // collision — the fixture contains genuine duplicate text)
    val kept = res.map(r => r._2 - r._3).sum
    val distinctHashes = ext.Dedup.corpusWithCopies(Tables.documents(spark, sf0001))
      .select($"doc_id", ext.TextAnalysis.tokens($"text").as("toks"))
      .select(explode(sequence(lit(0L),
        expr(s"(size(toks) + 15) div 16") - 1)).as("i"), $"toks")
      .select(md5(concat_ws(" ", expr("slice(toks, CAST(i * 16 + 1 AS INT), 16)"))).as("h"))
      .agg(countDistinct($"h")).as[Long].head()
    assert(kept == distinctHashes, s"kept $kept != distinct passages $distinctHashes")
    // near copies (first word dropped) shift every 16-word window: passages
    // are NOT near-dup-detectable — that's d02's job, not passage dedup's
    val nearRetained = res.filter(_._1 >= 2000000L).map(_._4)
    assert(nearRetained.nonEmpty && nearRetained.forall(_ > 0.5))
  }

  test("s08: quantized ranking error stays inside the int8 rounding bound") {
    val e = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toMap
    val rows = ext.Similarity.s08QuantizedKnn(spark, sf0001)
      .select($"qid", $"rank", $"nid", $"approx_dot", $"exact_dot")
      .as[(Long, Int, Long, Double, Double)].collect()
    assert(rows.length == 25) // 5 queries × top-5
    for ((qid, _, nid, approx, exact) <- rows) {
      val a = e(qid).map(_.toDouble); val b = e(nid).map(_.toDouble)
      val sa = 127.0 / a.map(math.abs).max; val sb = 127.0 / b.map(math.abs).max
      val bound = a.map(math.abs).sum * 0.5 / sb +
        b.map(math.abs).sum * 0.5 / sa + 64 * 0.25 / (sa * sb)
      assert(math.abs(approx - exact) <= bound,
        s"($qid,$nid): |$approx - $exact| > $bound")
    }
  }

  test("p05: the funnel is monotone, chained, and every stage sees real traffic") {
    val stages = ext.Curation.p05FilterFunnel(spark, sf0001)
      .select($"stage", $"rule", $"n_in", $"n_out", $"n_rejected")
      .as[(Int, String, Long, Long, Long)].collect().sortBy(_._1)
    assert(stages.map(_._2).toSeq ==
      Seq("min_tokens", "word_len", "distinct_ratio", "stopwords", "repetition"))
    assert(stages.head._3 == Tables.documents(spark, sf0001).count())
    for (Array(a, b) <- stages.sliding(2))
      assert(b._3 == a._4, s"stage ${b._1} n_in != stage ${a._1} n_out")
    for ((_, rule, nIn, nOut, nRej) <- stages) {
      assert(nOut >= 0 && nOut <= nIn && nRej == nIn - nOut, s"stage $rule")
    }
    assert(stages.last._4 > 0, "funnel rejected everything")
    assert(stages.map(_._5).sum > 0, "funnel rejected nothing")
  }

  test("d15: exact copies estimate 100%, estimates live on the K=8 grid, control jaccard is low") {
    val rows = ext.Dedup.d15MinhashEstimate(spark, sf0001)
      .select($"kind", $"est_pct", $"jacc_pct").as[(String, Double, Double)].collect()
    assert(rows.nonEmpty)
    val grid = (0 to 8).map(_ * 12.5).toSet
    rows.foreach { case (_, est, _) => assert(grid.contains(est), s"$est off-grid") }
    rows.filter(_._1 == "exact").foreach { case (_, est, jacc) =>
      assert(est == 100.0 && jacc == 100.0)
    }
    val controls = rows.filter(_._1 == "control")
    assert(controls.nonEmpty && controls.forall(_._3 < 50.0))
    // near copies: the estimator should usually agree with a high jaccard
    val nears = rows.filter(_._1 == "near")
    assert(nears.nonEmpty && nears.forall(_._3 >= 50.0))
  }

  test("q71: profile matches directly computed per-column statistics") {
    val prof = ops.Relational6.q71ColumnProfile(spark, sf0001)
      .collect().map(r => r.getString(0) -> r).toMap
    val o = Tables.orders(spark, sf0001)
    val n = o.count()
    assert(prof.values.forall(_.getLong(1) == n))
    assert(prof.values.forall(_.getLong(2) == 0L), "fixture has no nulls")
    assert(prof("o_orderkey").getLong(3) == n, "order key is unique")
    assert(prof("o_orderkey").getString(4).toLong ==
      o.agg(min($"o_orderkey")).as[Long].head())
    val statuses = o.select($"o_orderstatus").distinct().as[String].collect().sorted
    assert(prof("o_orderstatus").getLong(3) == statuses.length)
    assert(prof("o_orderstatus").getString(4) == statuses.head)
    assert(prof("o_orderstatus").getString(5) == statuses.last)
  }

  test("o02: the bucketed join runs with no hash-partitioning exchange before the join") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = sources.Sources.o02BucketedJoin(spark, sf0001)
      df.collect() // materialize through AQE
      val plan = df.queryExecution.executedPlan.toString
      // the agg exchanges on o_orderpriority; the join key must never —
      // the bucketed layout already provides that partitioning
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey"),
        s"bucketed join shuffled on the join key:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql(s"DROP TABLE IF EXISTS graft_o02_lineitem_sf0_001")
      spark.sql(s"DROP TABLE IF EXISTS graft_o02_orders_sf0_001")
    }
  }

  test("q72: the variant path agrees with the classic string-JSON extraction") {
    val variant = ops.Relational6.q72VariantJson(spark, sf0001)
      .select($"event_type", $"n", $"k_sum").as[(String, Long, Long)].collect().toMap2
    val classic = Tables.events(spark, sf0001)
      .select($"event_type", get_json_object($"props", "$.k").cast("long").as("k"))
      .groupBy($"event_type").agg(count(lit(1)).as("n"), sum($"k").as("k_sum"))
      .as[(String, Long, Long)].collect().toMap2
    assert(variant == classic)
  }

  test("q73: null keys match each other under <=>, never under =") {
    val nsj = ops.Relational6.q73NullSafeJoin(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val nullNations = Tables.nation(spark, sf0001)
      .filter($"n_nationkey" % 7 === 0).select($"n_name").as[String].collect()
    val nullCustomers = Tables.customer(spark, sf0001)
      .filter($"c_nationkey" % 7 === 0).count()
    assert(nullNations.nonEmpty && nullCustomers > 0)
    // every null-key nation row matched every null-key customer
    nullNations.foreach { nm =>
      assert(nsj(nm) == (nullCustomers, nullCustomers), s"nation $nm: ${nsj(nm)}")
    }
    // plain = drops them: total matches under <=> exceed the equi-join's
    val equi = Tables.customer(spark, sf0001)
      .filter(!($"c_nationkey" % 7 === 0))
      .join(Tables.nation(spark, sf0001).filter(!($"n_nationkey" % 7 === 0)),
        $"c_nationkey" === $"n_nationkey").count()
    assert(nsj.values.map(_._1).sum ==
      equi + nullNations.length.toLong * nullCustomers)
  }

  test("o03: the year filter reaches the scan as a partition filter") {
    val df = sources.Sources.o03PartitionedPrune(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*o_year".r.findFirstIn(plan).isDefined,
      s"year predicate did not prune partitions:\n$plan")
    // and nothing but the 1997 directory was read (scan metric vs disk)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def findScan(p: SparkPlan): Option[FileSourceScanExec] = p match {
      case f: FileSourceScanExec => Some(f)
      case a: AdaptiveSparkPlanExec => findScan(a.executedPlan)
      case q: QueryStageExec => findScan(q.plan)
      case other => other.children.view.flatMap(findScan(_)).headOption
    }
    val scan = findScan(df.queryExecution.executedPlan).get
    val root = new java.io.File("/tmp/graft_o03/sf0.001")
    val years = root.listFiles().filter(_.getName.startsWith("o_year="))
    val files1997 = new java.io.File(root, "o_year=1997").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(years.length > 1, "fixture spans multiple years")
    assert(scan.metrics("numFiles").value == files1997,
      s"read ${scan.metrics("numFiles").value} files, 1997 has $files1997")
  }

  test("q74: the trailing-1h frame matches a two-pointer fold per user") {
    val rows = ops.Relational6.q74IntervalRangeFrame(spark, sf0001)
      .select($"user_id", $"event_id", $"n_1h").as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val evs = Tables.events(spark, sf0001)
      // NTZ → LTZ (identity under the pinned-UTC session) → epoch seconds
      .select($"user_id", $"event_id", $"ts".cast("timestamp").cast("double"))
      .as[(Long, Long, Double)].collect()
    for ((uid, grp) <- evs.groupBy(_._1); (_, eid, t) <- grp) {
      val expected = grp.count(e => e._3 <= t && e._3 >= t - 3600.0)
      assert(rows((uid, eid)) == expected, s"user $uid event $eid")
    }
  }

  test("q75: discrete percentiles are the smallest members with enough rank mass") {
    val got = ops.Relational6.q75PercentileDisc(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val byPrio = Tables.orders(spark, sf0001)
      .select($"o_orderpriority", $"o_totalprice").as[(String, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    for ((prio, v) <- byPrio; (q, pick) <- Seq(
        0.25 -> got(prio)._1, 0.5 -> got(prio)._2, 0.75 -> got(prio)._3)) {
      val expected = v(math.ceil(q * v.length).toInt - 1)
      assert(pick == expected, s"$prio p$q: $pick != $expected")
    }
  }

  test("observe(): scan-attached metrics equal the direct aggregates, no extra pass") {
    val (df, obs) = sources.Sources.observedIngest(spark, sf0001)
    val n = df.count()
    val m = obs.get
    assert(m("n_rows") == n)
    assert(m("n_null_value") == 0L)
    val direct = Tables.events(spark, sf0001)
      .agg(min($"event_id"), max($"event_id"), Tables.dsum($"value"))
      .as[(Long, Long, Double)].head()
    assert(m("min_event_id") == direct._1 && m("max_event_id") == direct._2)
    assert(m("total_value") == direct._3)
  }

  test("d16: noise-variant copies collapse under the normalized hash, not the raw one") {
    val rows = ext.Dedup.d16NormalizedDedup(spark, sf0001)
      .select($"doc_id", $"n_same_norm", $"n_raw_variants", $"is_keeper")
      .as[(Long, Long, Long, Boolean)].collect()
    val noised = rows.filter(_._1 >= 3000000L)
    assert(noised.nonEmpty)
    noised.foreach { case (id, nNorm, nRaw, keeper) =>
      assert(nNorm >= 2, s"noised $id did not collapse with its source")
      assert(nRaw >= 2, s"noised $id should differ from its source under raw md5")
      assert(!keeper, s"noised $id must lose keep-first to its source")
    }
    // raw-hash dedup (d01 semantics) is blind to every planted variant
    val planted = Tables.documents(spark, sf0001).filter($"doc_id" % 10 === 3).count()
    assert(noised.length.toLong == planted)
  }

  test("s09: ADC distance to a codebook member equals the true squared L2") {
    val e = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toMap
    val rows = ext.Similarity.s09PqAnn(spark, sf0001)
      .select($"qid", $"rank", $"nid", $"adc_dist")
      .as[(Long, Int, Long, Double)].collect()
    assert(rows.length == 25)
    // codebook vectors encode to themselves → exact reconstruction
    def l2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var j = 0
      while (j < a.length) {
        val d = a(j).toDouble - b(j).toDouble; s += d * d; j += 1
      }
      s
    }
    // every codebook vector encodes to itself (exact reconstruction)
    val selfCodes = ext.Similarity.pqEncode(
        Tables.embeddings(spark, sf0001).select($"vec_id", $"embedding"))
      .filter($"vec_id" < ext.Similarity.PqCodes)
      .select($"vec_id", $"s", $"code").as[(Long, Int, Int)].collect()
    assert(selfCodes.length == ext.Similarity.PqCodes * ext.Similarity.PqM)
    selfCodes.foreach { case (vid, s, code) =>
      assert(code == vid, s"codebook vector $vid subspace $s encoded to $code")
    }
    // if a codebook member does appear as a neighbor, its ADC is the true L2²
    rows.filter(_._3 < ext.Similarity.PqCodes).foreach { case (qid, _, nid, adc) =>
      assert(math.abs(adc - l2(e(qid), e(nid))) < 1e-9,
        s"($qid,$nid): adc $adc != true ${l2(e(qid), e(nid))}")
    }
    // ranks are contiguous and distances non-decreasing per query
    rows.groupBy(_._1).values.foreach { grp =>
      val sorted = grp.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to 5))
      assert(sorted.sliding(2).forall(p => p.head._4 <= p.last._4))
    }
  }

  test("q76: approx_top_k is exact while the sketch covers the domain") {
    val est = ops.Relational6.q76ApproxTopK(spark, sf0001)
      .as[(String, Long)].collect().toMap
    val exact = Tables.events(spark, sf0001)
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().sortBy(-_._2)
    assert(est.size == 3)
    exact.take(3).foreach { case (tpe, n) =>
      assert(est(tpe) == n, s"$tpe: est ${est.get(tpe)} != exact $n")
    }
  }

  test("q77: distinct-to-date equals a direct distinct count at every day") {
    val got = ops.Relational6.q77CumulativeDistinct(spark, sf0001)
      .select($"event_type", $"day".cast("string"), $"distinct_users_to_date")
      .as[(String, String, Long)].collect()
    val evs = Tables.events(spark, sf0001)
      .select($"event_type", $"user_id", date_trunc("day", $"ts").cast("string"))
      .as[(String, Long, String)].collect()
    for ((tpe, day, cum) <- got) {
      val expected = evs.filter(e => e._1 == tpe && e._3 <= day).map(_._2).distinct.length
      assert(cum == expected, s"$tpe @ $day: $cum != $expected")
    }
  }

  test("s10: per-lang centroid components equal the direct mean over joined ids") {
    val langs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"lang").as[(Long, String)].collect().toMap
    val embs = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
      .filter(e => langs.contains(e._1))
    val got = ext.Similarity.s10LangCentroids(spark, sf0001)
      .select($"lang", $"pos", $"n_docs", $"centroid_comp")
      .as[(String, Int, Long, Double)].collect()
    assert(got.nonEmpty)
    val byLang = embs.groupBy(e => langs(e._1))
    for ((lang, pos, n, comp) <- got) {
      val members = byLang(lang).sortBy(_._1)
      assert(n == members.length)
      val sum = members.foldLeft(0.0)((a, m) => a + m._2(pos).toDouble)
      assert(comp == sum / n, s"$lang[$pos]")
    }
  }

  test("q78: NOT IN collapses to zero under a NULL key; NOT EXISTS and the filtered form agree") {
    val r = ops.Relational6.q78NotInNulls(spark, sf0001).head()
    val (notIn, notExists, filtered) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(notIn == 0L, "NOT IN over a set containing NULL can never be TRUE")
    val present = Tables.supplier(spark, sf0001)
      .filter(!($"s_suppkey" % 7 === 0)).select($"s_nationkey")
      .distinct().as[Int].collect().toSet
    val expected = Tables.nation(spark, sf0001)
      .select($"n_nationkey").as[Int].collect().count(k => !present.contains(k))
    assert(notExists == expected && filtered == expected)
    assert(expected > 0, "fixture: some nation must lack non-null suppliers")
  }

  test("t19: novelty sums to the distinct shingle count; a planted duplicate would score zero") {
    val rows = ext.TextAnalysis.t19NoveltyCurve(spark, sf0001)
      .select($"doc_id", $"n_shingles", $"n_novel", $"novelty_frac")
      .as[(Long, Long, Long, Double)].collect()
    val sh = ext.Dedup.shingles(
      Tables.documents(spark, sf0001).select($"doc_id", $"text"))
    assert(rows.map(_._3).sum == sh.select($"shingle").distinct().count())
    // doc 0 (no smaller doc) is fully novel
    val d0 = rows.find(_._1 == 0L).get
    assert(d0._3 == d0._2 && d0._4 == 1.0)
    rows.foreach { case (id, n, novel, frac) =>
      assert(novel >= 0 && novel <= n && frac == novel.toDouble / n, s"doc $id")
    }
  }

  test("normalizeText: idempotent, canonical charset, whitespace-run invariant (200 random strings)") {
    val rnd = new scala.util.Random(42)
    val alphabet = "aZ9 .,!\t#ñ -"
    val strs = Seq.fill(200)(
      (0 until rnd.nextInt(40)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val df = strs.toDF("text")
      .select($"text",
        ext.Dedup.normalizeText($"text").as("n1"),
        ext.Dedup.normalizeText(ext.Dedup.normalizeText($"text")).as("n2"),
        // a caps/extra-whitespace/punct variant must canonicalize identically
        ext.Dedup.normalizeText(concat(upper($"text"), lit("  !"))).as("nv"))
    df.as[(String, String, String, String)].collect().foreach { case (raw, n1, n2, nv) =>
      assert(n1 == n2, s"not idempotent on '$raw'")
      assert(n1.forall(c => c.isDigit || (c >= 'a' && c <= 'z') || c == ' '))
      assert(!n1.contains("  ") && n1 == n1.trim, s"residual whitespace in '$n1'")
      assert(nv == n1, s"caps/noise variant diverged on '$raw': '$nv' != '$n1'")
    }
  }

  test("s08 quantization: the int8 rounding bound holds on 100 random vectors") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 100L).map(i =>
      (i, Array.fill(64)((rnd.nextFloat() * 2 - 1) * (1 + rnd.nextInt(5))))).toSeq
    val df = vecs.toDF("vec_id", "embedding")
    val q = ext.Similarity.quantized(df)
      .select($"vec_id", $"embedding", $"scale", $"qv")
      .as[(Long, Array[Float], Double, Array[Long])].collect()
    q.foreach { case (id, e, s, qv) =>
      assert(qv.forall(c => math.abs(c) <= 127), s"vec $id code out of int8 range")
      e.zip(qv).foreach { case (x, c) =>
        assert(math.abs(c / s - x.toDouble) <= 0.5 / s + 1e-12,
          s"vec $id: dequantized $c/$s too far from $x")
      }
    }
  }

  test("q79: the nested layout loses nothing — counts and ordered folds match the flat facts") {
    val nested = ops.Relational6.q79NestUnnest(spark, sf0001)
      .select($"l_orderkey", $"n_items", $"total_qty", $"revenue")
      .as[(Long, Int, Double, Double)].collect()
    val flat = Tables.lineitem(spark, sf0001)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        $"l_extendedprice", $"l_discount")
      .as[(Long, Int, Double, Double, Double)].collect()
      .groupBy(_._1)
    assert(nested.map(_._2.toLong).sum == flat.values.map(_.length).sum)
    nested.foreach { case (ok, n, qty, rev) =>
      val items = flat(ok).sortBy(t => (t._2, t._3, t._4, t._5))
      assert(n == items.length)
      assert(qty == items.foldLeft(0.0)(_ + _._3))
      assert(rev == items.foldLeft(0.0)((a, t) => a + t._4 * (1.0 - t._5)), s"order $ok")
    }
  }

  test("d17: more bands trade precision for recall, and exact copies are never missed") {
    val rows = ext.Dedup.d17LshTuning(spark, sf0001).collect()
      .map(r => r.getString(0) -> r).toMap
    val (c42, c24) = (rows("b4r2"), rows("b2r4"))
    assert(c42.getAs[Long]("n_candidates") >= c24.getAs[Long]("n_candidates"))
    assert(c42.getAs[Double]("recall") >= c24.getAs[Double]("recall"))
    assert(c24.getAs[Double]("precision") >= c42.getAs[Double]("precision"))
    // identical docs have identical signatures: every exact pair is a
    // candidate under ANY banding, so recall is bounded by the near pairs
    val nExact = Tables.documents(spark, sf0001).filter($"doc_id" % 10 === 0).count()
    rows.values.foreach { r =>
      assert(r.getAs[Long]("n_planted_found") >= nExact,
        s"${r.getString(0)} missed exact copies")
      assert(r.getAs[Double]("precision") > 0.0 && r.getAs[Double]("recall") > 0.0)
    }
  }

  test("q80: the weighted median is a population value splitting the weight in half") {
    val rows = ops.Relational6.q80WeightedMedian(spark, sf0001)
      .select($"l_returnflag", $"weighted_median", $"total_weight")
      .as[(String, Double, Double)].collect()
    val li = Tables.lineitem(spark, sf0001)
      .select($"l_returnflag", $"l_extendedprice", $"l_quantity")
      .as[(String, Double, Double)].collect().groupBy(_._1)
    assert(rows.nonEmpty)
    rows.foreach { case (flag, med, tw) =>
      val grp = li(flag)
      assert(grp.exists(_._2 == med), s"$flag: median $med not a population value")
      val below = grp.filter(_._2 < med).map(_._3).sum
      val atOrBelow = grp.filter(_._2 <= med).map(_._3).sum
      assert(below * 2 < tw || below == 0, s"$flag: too much weight below $med")
      assert(atOrBelow * 2 >= tw, s"$flag: not enough weight at/below $med")
      assert(tw == grp.map(_._3).sum)
    }
  }

  test("Graft.init: one call mounts the views and the custom SQL functions") {
    Graft.init(spark, sf0001)
    val r = spark.sql(
      """SELECT n_name, COUNT(*) AS n
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1 ORDER BY n DESC LIMIT 3""").collect()
    assert(r.length == 3 && r.forall(_.getLong(1) > 0))
    val cos = spark.sql(
      """SELECT vec_cos(a.embedding, b.embedding) AS c, vec_l2sq(a.embedding, b.embedding) AS d
         FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
         WHERE a.vec_id < 5""").collect()
    assert(cos.length == 5 && cos.forall(x =>
      math.abs(x.getDouble(0)) <= 1.0 && x.getDouble(1) >= 0.0))
    val ev = spark.sql("SELECT COUNT(*) FROM events").head().getLong(0)
    assert(ev == Tables.events(spark, sf0001).count())
    // the fingerprint functions are SQL-callable after one init too
    val fp = spark.sql(
      """SELECT minhash_sig(array('a b c','b c d'), 8, 1000003) AS m,
                simhash_sig(array('a b c','b c d'), 16, 1000003) AS s""").head()
    assert(fp.getSeq[Long](0).length == 8 && fp.getLong(1) >= 0L)
  }

  test("c12: every DLQ record is repaired — zero loss, k-sums match the clean stream") {
    val rows = cdc.CdcQueries.c12DlqRepair(spark, sf0001)
      .select($"event_type", $"n_total", $"n_dlq", $"n_lost", $"k_sum")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.map(_._3).sum ==
      Tables.events(spark, sf0001).filter($"event_id" % 97 === 0).count())
    assert(rows.forall(_._4 == 0L), "repair must recover every DLQ record")
    val clean = Tables.events(spark, sf0001)
      .select($"event_type", get_json_object($"props", "$.k").cast("long").as("k"))
      .groupBy($"event_type").agg(sum($"k").as("k_sum"))
      .as[(String, Long)].collect().toMap
    rows.foreach { case (tpe, _, _, _, kSum) => assert(kSum == clean(tpe), tpe) }
  }

  test("s11: RRF scores decompose into two in-range reciprocal ranks and order the output") {
    val rows = ext.Similarity.s11HybridSearch(spark, sf0001)
      .select($"qid", $"rank", $"did", $"rrf").as[(Long, Int, Long, Double)].collect()
    assert(rows.length == 25)
    val nCands = Tables.documents(spark, sf0001)
      .join(Tables.embeddings(spark, sf0001),
        $"doc_id" === $"vec_id").count().toInt - 1
    rows.foreach { case (qid, _, did, rrf) =>
      val ok = (1 to nCands).exists { a =>
        (1 to nCands).exists(b => 1.0 / (a + 60) + 1.0 / (b + 60) == rrf)
      }
      assert(ok, s"($qid,$did): rrf $rrf is not a sum of two in-range reciprocals")
    }
    rows.groupBy(_._1).values.foreach { grp =>
      val sorted = grp.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to 5))
      assert(sorted.sliding(2).forall(p => p.head._4 >= p.last._4))
    }
  }

  test("c13: every click matches exactly the version whose interval contains it") {
    val rows = cdc.CdcQueries.c13PointInTimeJoin(spark, sf0001)
      .select($"click_id", $"version_event").collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long]))
    // exactly one row per click — containment intervals cannot overlap
    assert(rows.map(_._1).distinct.length == rows.length)
    val evs = Tables.events(spark, sf0001)
      .select($"user_id", $"event_id", $"ts".cast("string"), $"event_type")
      .as[(Long, Long, String, String)].collect()
    val histByUser = evs.filter(_._4 != "click").groupBy(_._1)
      .view.mapValues(_.sortBy(e => (e._3, e._2))).toMap
    val clicks = evs.filter(_._4 == "click")
    val got = rows.toMap
    assert(rows.length == clicks.length)
    clicks.foreach { case (uid, cid, cts, _) =>
      val expected = histByUser.get(uid)
        .flatMap(h => h.takeWhile(e => e._3 <= cts).lastOption).map(_._2)
      assert(got(cid) == expected, s"click $cid")
    }
  }

  test("m06: exact copies reclaim every block; a one-byte shift reclaims none") {
    val rows = ext.Multimodal.m06BlockDedup(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val (_, exTotal, exUnique, exRatio) = {
      val t = rows("exact_copy"); (t._1, t._2, t._3, t._4)
    }
    assert(exUnique == 0 && exRatio == 1.0,
      s"exact copies must dedup fully: $exUnique unique of $exTotal")
    val (_, shTotal, shUnique, shRatio) = {
      val t = rows("shifted_copy"); (t._1, t._2, t._3, t._4)
    }
    // the prefix byte realigns every 64-byte block: nothing dedups
    assert(shUnique == shTotal && shRatio == 0.0,
      s"shifted copies must not block-dedup: $shUnique of $shTotal")
    assert(rows("original")._4 < 0.5, "originals are mostly unique content")
  }

  implicit class TripleOps[A, B, C](arr: Array[(A, B, C)]) {
    def toMap2: Map[A, (B, C)] = arr.map(t => t._1 -> (t._2, t._3)).toMap
  }
}
