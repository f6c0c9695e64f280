package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 wave: the r9 verdict/advice closures — the c15/c17 `price`
  * DECIMAL→DOUBLE report widening (the last driver-hash reds), the p15
  * explicit-+Inf contribution path (engine-independent by construction
  * since r10), the d21 sweep's portable md5-prefix hash family (the
  * rows-only → oracle-exact promotion), and the inactivity-timer
  * monotone state merge (covered in StreamingSpec).
  */
class Round10Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // --- p15: the infinite-contribution path ------------------------------

  test("p15: a new-only language yields an explicit +Inf contribution and chi2") {
    // The sf fixtures have no new-only language, so the driver's DuckDB
    // differential never exercises expected_new = 0 — and DuckDB's float
    // x/0.0 semantics have varied across versions (NULL vs Inf). Since
    // r10 the +Inf is EXPLICIT on both sides (when/CASE), so this pin is
    // of our own arithmetic, not an engine's division convention.
    val counts = Seq(
      ("en", 50L, 60L),
      ("de", 30L, 25L),
      ("xx", 0L, 7L) // present ONLY in the new release
    ).toDF("lang", "n_old", "n_new")
    val got = ext.Curation.distDriftOver(counts)
      .select($"lang", $"expected_new", $"contribution", $"chi2", $"dof")
      .as[(String, Double, Double, Double, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("xx")._2 == 0.0, "expected_new must be exactly 0 for a new-only lang")
    assert(got("xx")._3.isPosInfinity, "new-only language must contribute +Inf")
    // the total absorbs the Inf: the release gate screams, as documented
    got.values.foreach(r => assert(r._4.isPosInfinity, "chi2 total must be +Inf"))
    got.values.foreach(r => assert(r._5 == 2L, "dof = k - 1 = 2"))
    // finite rows stay finite and exact: en expected = 92 * 50 / 80
    assert(got("en")._2 == 92.0 * 50.0 / 80.0)
    assert(!got("en")._3.isInfinity && !got("de")._3.isInfinity)
  }

  test("p15: the registered query still has no Inf rows on the sf fixture") {
    // guards the refactor: the fixture path (no new-only language) must
    // be unchanged by the explicit-Inf branch
    val rows = ext.Curation.p15DistDrift(spark, sf0001)
      .select($"contribution").as[Double].collect()
    assert(rows.nonEmpty && rows.forall(c => !c.isInfinity && !c.isNaN))
  }

  // --- c15/c17: the decimal-free report projection ----------------------

  test("c15 report has no decimal column anywhere (the driver-hash red class)") {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val rep = cdc.CdcQueries.c15DeclaredSchema(spark, sf0001).schema
    assert(!rep.fields.exists(_.dataType.isInstanceOf[DecimalType]),
      "VERDICT r09: the red set == the decimal-output set; the report must carry none")
    assert(rep.fields.find(_.name == "price").get.dataType == DoubleType)
    // the widening is lossless on the fixture domain: X.25 with X < 10000
    val prices = cdc.CdcQueries.c15DeclaredSchema(spark, sf0001)
      .select($"price").as[Double].collect()
    assert(prices.nonEmpty)
    prices.foreach { p =>
      assert(p * 4 == math.rint(p * 4), s"price $p not an exact quarter")
      assert(p < 10000.0)
    }
  }

  // --- d21: the portable-hash sweep --------------------------------------

  // --- o09: DSv2 write path (two-phase commit) --------------------------

  private def o09Dir(tag: String): String = {
    val d = s"/tmp/graft_o09_spec/$tag"
    Tables.deleteRecursively(d)
    d
  }

  private def sampleEvents = Tables.events(spark, sf0001)
    .select($"event_id", $"user_id", $"event_type", $"value")
    .filter($"event_id" < 500)

  test("o09: write → commit → readCommitted round-trips rows exactly") {
    val dir = o09Dir("roundtrip")
    val in = sampleEvents
    in.repartition(3, $"user_id")
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    val back = sources.CommitSink.readCommitted(spark, dir)
    assert(back.schema.map(f => f.name -> f.dataType) ==
      in.schema.map(f => f.name -> f.dataType), "manifest schema == query schema")
    assert(back.exceptAll(in).count() == 0 && in.exceptAll(back).count() == 0,
      "doubles and all other columns must round-trip bit-exactly")
    // the manifest is the table: exactly its files exist, staging swept
    val p = java.nio.file.Paths.get(dir)
    val listed = sources.CommitSink.parseManifest(p).get.files.toSet
    import scala.jdk.CollectionConverters._
    val onDisk = java.nio.file.Files.list(p).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("part-")).toSet
    assert(listed == onDisk, s"manifest files $listed != on-disk $onDisk")
    assert(listed.size == 3, "one committed file per writer partition")
    assert(!java.nio.file.Files.exists(p.resolve("_staging")), "staging swept")
  }

  test("o09: overwrite truncates, append accumulates") {
    val dir = o09Dir("modes")
    val first = sampleEvents.filter($"event_id" < 100)
    val second = sampleEvents.filter($"event_id" >= 100 && $"event_id" < 200)
    first.repartition(2).write.format("graft-commit")
      .option("path", dir).mode("overwrite").save()
    second.repartition(2).write.format("graft-commit")
      .option("path", dir).mode("append").save()
    val both = sources.CommitSink.readCommitted(spark, dir)
    val expected = first.unionByName(second)
    assert(both.exceptAll(expected).count() == 0 && expected.exceptAll(both).count() == 0)
    second.repartition(2).write.format("graft-commit")
      .option("path", dir).mode("overwrite").save()
    val replaced = sources.CommitSink.readCommitted(spark, dir)
    assert(replaced.exceptAll(second).count() == 0 &&
      second.exceptAll(replaced).count() == 0, "overwrite must replace, not merge")
  }

  test("o09: a failed job publishes nothing — previous version intact, staging swept") {
    val dir = o09Dir("abort")
    val good = sampleEvents.filter($"event_id" < 100)
    good.repartition(2).write.format("graft-commit")
      .option("path", dir).mode("overwrite").save()
    val poisoned = sampleEvents
      .withColumn("value",
        when($"event_id" === 42L, raise_error(lit("planted task failure")))
          .otherwise($"value"))
    intercept[Exception] {
      poisoned.repartition(2).write.format("graft-commit")
        .option("path", dir).mode("overwrite").save()
    }
    // the manifest swap never happened: readers still see version 1
    val back = sources.CommitSink.readCommitted(spark, dir)
    assert(back.exceptAll(good).count() == 0 && good.exceptAll(back).count() == 0,
      "aborted write must leave the previous committed version untouched")
    val p = java.nio.file.Paths.get(dir)
    assert(!java.nio.file.Files.exists(p.resolve("_staging")),
      "job abort must sweep the staging debris")
  }

  test("o11: epoch commits are idempotent — a re-delivered epoch publishes nothing") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = o09Dir("epochs")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val schema = StructType(Seq(StructField("id", LongType, nullable = false)))
    val w = new sources.CommitStreamingWrite(dir, schema)
    val info = new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    }
    def commitEpoch(epoch: Long, taskId: Long, ids: Seq[Long]): Unit = {
      val dw = w.createStreamingWriterFactory(info).createWriter(0, taskId, epoch)
      ids.foreach(i => dw.write(InternalRow(i)))
      w.commit(epoch, Array(dw.commit()))
    }
    commitEpoch(7L, 1L, Seq(1L, 2L, 3L))
    assert(sources.CommitSink.readCommitted(spark, dir).count() == 3)
    assert(sources.CommitSink.committedEpochs(java.nio.file.Paths.get(dir)) == Seq(7L))
    // restart replay: the SAME epoch re-delivered with re-staged output
    // must change nothing — no new files, no duplicate rows
    commitEpoch(7L, 2L, Seq(1L, 2L, 3L))
    assert(sources.CommitSink.readCommitted(spark, dir).count() == 3,
      "re-delivered epoch must be a no-op, not a duplicate append")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir).resolve("_staging")), "replay debris swept")
    // a NEW epoch appends normally and joins the ledger
    commitEpoch(8L, 3L, Seq(4L))
    assert(sources.CommitSink.readCommitted(spark, dir).count() == 4)
    assert(sources.CommitSink.committedEpochs(java.nio.file.Paths.get(dir))
      == Seq(7L, 8L))
  }

  test("o09: unsupported column types are rejected at write resolution") {
    val dir = o09Dir("types")
    // the payload rejects what parquet-scalar cannot hold
    val withArr = Tables.events(spark, sf0001)
      .select($"event_id", split($"event_type", "x").as("arr"))
    val e = intercept[Exception] {
      withArr.write.format("graft-commit").option("path", dir)
        .mode("overwrite").save()
    }
    assert(e.getMessage.contains("graft-commit (parquet payload) supports"),
      s"expected the declared-type validation error, got: ${e.getMessage}")
  }

  // --- d31: deletion-neighborhood fuzzy join ----------------------------

  test("d31: every planted typo pairs with exactly its source at distance 1") {
    val got = ext.Dedup.d31FuzzyJoin(spark, sf0001)
      .select($"t1", $"t2", $"n_shared_variants")
      .as[(String, String, Long)].collect()
    assert(got.nonEmpty)
    // recompute the planted (source, typo) pairs independently
    val base = Tables.documents(spark, sf0001)
      .select(explode(split($"text", "\\s+")).as("tok"))
      .filter(length($"tok") >= 4).distinct()
      .as[String].collect().toSet
    def h(tok: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(8), 16) % 3
    }
    val planted = base.filter(t => t.length >= 5 && h(t) == 0)
      .flatMap(t => Seq(
        (t, t.substring(0, 1) + t.substring(2)),          // deletion
        (t, t.substring(0, 2) + "z" + t.substring(3)),    // substitution
        (t, t.substring(0, 1) + t)))                      // insertion
    assert(planted.nonEmpty, "fixture must select some tokens to plant")
    val pairSet = got.map(r => (r._1, r._2)).toSet
    planted.foreach { case (src, typo) =>
      val key = if (src < typo) (src, typo) else (typo, src)
      assert(pairSet.contains(key), s"planted pair $key not found")
    }
    // verification really enforced: every emitted pair is within dist 1
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    got.foreach { case (t1, t2, n) =>
      assert(lev(t1, t2) <= 1, s"($t1, $t2) beyond edit distance 1")
      assert(n >= 1L)
    }
  }

  // --- plan guards for the round-10 entries ------------------------------

  test("d31/q100 plan shapes: blocked equi-join (no nested loop), fold not window") {
    val d31Plan = ext.Dedup.d31FuzzyJoin(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!d31Plan.contains("CartesianProduct") &&
      !d31Plan.contains("BroadcastNestedLoopJoin"),
      "the deletion-neighborhood join must stay an equi-join — never all-pairs")
    val q100Plan = ops.Relational4.q100Ewma(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!q100Plan.contains("Window"),
      "the EWMA fold runs inside aggregate(), not a window sort")
    assert(!q100Plan.contains("CartesianProduct"))
  }

  // --- checkpoint recovery (exactly-once across restarts) ---------------

  test("checkpoint recovery: a restarted file-stream ingest resumes exactly-once") {
    // The property the reference pipeline structurally lacks (fresh
    // group-id + earliest = full replay with duplicates on every
    // restart, consumer_to_file.py:185-186): a checkpointed stream
    // killed between batches and restarted must process each input file
    // EXACTLY once — no loss, no duplicates — because the checkpoint,
    // not the consumer's group-id, is the source-of-truth offset.
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files.createTempDirectory("ckpt_recovery")
    val (src, out, ckpt) = (s"$tmp/src", s"$tmp/log", s"$tmp/ck")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    val ev = Tables.events(spark, sf0001)
      .select($"event_id", $"user_id", $"event_type", $"value")
    val n = ev.count()
    val half = ev.filter($"event_id" % 2 === 0)
    val rest = ev.filter($"event_id" % 2 =!= 0)
    half.coalesce(1).write.parquet(s"$src/gen1")
    def runOnce(): Unit = {
      val q = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$src/*")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(out)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    runOnce() // run 1: generation 1 only
    assert(spark.read.parquet(out).count() == half.count())
    rest.coalesce(1).write.parquet(s"$src/gen2")
    runOnce() // run 2: SAME checkpoint — must pick up ONLY generation 2
    val log = spark.read.parquet(out)
    assert(log.count() == n, "restart must not drop or replay anything")
    assert(log.select($"event_id").distinct().count() == n,
      "every event exactly once across the restart boundary")
  }

  // --- s21: PageRank over the kNN graph ---------------------------------

  test("s21: mass conserves, floor nodes sit at the teleport+dangling level, and the engine fold replays bit-for-bit") {
    val got = ext.Similarity.s21PagerankKnn(spark, sf0001)
      .select($"vec_id", $"out_deg", $"pagerank")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(got.nonEmpty)
    // total mass 1 up to float error (teleport + dangling redistribution
    // conserve it by construction)
    val mass = got.map(_._3).sum
    assert(math.abs(mass - 1.0) < 1e-9, s"mass $mass")
    // local replay with the IDENTICAL fold orders: r0 = 1/N; per round
    // shares into in-sums via the 256-bucket two-level fold (u order
    // inside each source bucket, then bucket order — the r11 port),
    // dangling via the same device, update 0.15/N + 0.85*(insum + dm/N)
    val edges = ext.Similarity.s14KnnGraph(spark, sf0001)
      .select($"vid", $"nid").as[(Long, Long)].collect()
    val nodes = got.map(_._1)
    val n = nodes.length
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    var pr: Map[Long, Double] = nodes.map(v => v -> 1.0 / n).toMap
    for (_ <- 1 to 3) {
      val share = pr.collect { case (u, r) if deg.getOrElse(u, 0L) > 0 =>
        u -> r / deg(u).toDouble }
      val ins = edges.filter(e => share.contains(e._1))
        .groupBy(e => (e._2, e._1 / 256)).view.mapValues { es =>
          es.map(e => (e._1, share(e._1))).sortBy(_._1)
            .foldLeft(0.0)((a, p) => a + p._2)
        }.toSeq
        .map { case ((v, b), s1) => (v, b, s1) }
        .groupBy(_._1).view.mapValues { bs =>
          bs.sortBy(_._2).foldLeft(0.0)((a, t) => a + t._3)
        }.toMap
      val dangB = nodes.filter(v => deg.getOrElse(v, 0L) == 0L)
        .map(v => (v / 256, v, pr(v)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).foldLeft(0.0)((a, t) => a + t._3))
        .toSeq.sortBy(_._1)
      val dm = dangB.foldLeft(0.0)((a, p) => a + p._2)
      pr = nodes.map { v =>
        v -> (0.15 / n + 0.85 * (ins.getOrElse(v, 0.0) + dm / n))
      }.toMap
    }
    got.foreach { case (v, _, p) =>
      assert(p == pr(v), s"vec $v: engine $p != replay ${pr(v)}")
    }
    // the no-in-edge floor: every node nobody endorses carries exactly
    // the same (teleport + dangling) rank, and it is the minimum
    val inNodes = edges.map(_._2).toSet
    val floorRanks = got.filterNot(g => inNodes.contains(g._1)).map(_._3).distinct
    assert(floorRanks.length == 1, "all floor nodes identical")
    assert(floorRanks.head == got.map(_._3).min)
  }

  test("d21: sid family is the md5-prefix portable hash, bit-equal to its SQL form") {
    // the Spark expression and the DuckDB oracle text must derive the
    // same sid for any shingle — pin a few literals through the Spark
    // side against an independent Scala reimplementation
    val sids = spark.range(1).select(
      Seq("the quick brown", "fox jumps over", "a b c").map(s =>
        ext.Dedup.sidPortable(lit(s)).as(s.take(3))): _*)
      .collect()(0)
    def expected(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % ext.Dedup.P
    }
    assert(sids.getLong(0) == expected("the quick brown"))
    assert(sids.getLong(1) == expected("fox jumps over"))
    assert(sids.getLong(2) == expected("a b c"))
  }
}
