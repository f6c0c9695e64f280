package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 wave: the r10 verdict + advice closures —
  *  - the EXECUTED cache→spill path (m10's frame table materialized to
  *    parquet and the downstream re-run off it, row-identical);
  *  - checkpoint-recovery for the DSv2 micro-batch source (the r10
  *    advice medium: a restarted stream must resume from the committed
  *    offset, not re-admit from 0);
  *  - CommitSink hardening: zero-epoch streams leave a readable target,
  *    appends under a different schema are refused, concurrent manifest
  *    writers are detected instead of silently losing files;
  *  - c21 bootstrap-DDL pins (prefix filter / inference / PK precedence
  *    / create-if-absent no-op);
  *  - the s21 in-sum two-level fold plan guard (no in-degree-sized
  *    collect over a non-bucketed destination group).
  */
class Round11Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = s"/tmp/graft_r11_spec/$tag"
    Tables.deleteRecursively(d)
    d
  }

  // --- the executed spill path (README §"Corpus-sized caches") ----------

  test("m10 spill path: frames materialized to parquet, downstream re-run, row-identical") {
    val expect = ext.Multimodal.m10AudioOffsetMatch(spark, sf0001)
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    val dir = freshDir("m10_spill")
    // the 100 TB form: the frame-fingerprint table is a persisted index,
    // not an in-memory cache — write it once, read the downstream off it
    ext.Multimodal.frameHashes(ext.Multimodal.m10Corpus(spark, sf0001))
      .write.parquet(dir)
    val offDisk = ext.Multimodal.m10OffsetMatch(spark.read.parquet(dir))
    val plan = offDisk.queryExecution.executedPlan.toString
    assert(!plan.contains("InMemoryTableScan"),
      "the spilled run must read parquet, not a leftover cache")
    val got = offDisk.collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(got.length == expect.length && got.nonEmpty)
    got.zip(expect).foreach { case (g, e) =>
      assert(g == e, "spilled run must be row-identical (bit-exact doubles)")
    }
  }

  test("d29 spill path: anchor table materialized to parquet, report row-identical") {
    val expect = ext.Dedup.d29WinnowFingerprint(spark, sf0001)
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    val dir = freshDir("d29_spill")
    ext.Dedup.winnowAnchors(spark, sf0001).write.parquet(dir)
    val offDisk = ext.Dedup.d29Report(spark.read.parquet(dir))
    assert(!offDisk.queryExecution.executedPlan.toString.contains("InMemoryTableScan"),
      "the spilled run must read parquet, not a leftover cache")
    val got = offDisk.collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(got.length == expect.length && got.nonEmpty)
    got.zip(expect).foreach { case (g, e) => assert(g == e) }
  }

  test("s20 spill path: IVF assignment materialized to parquet, sweep row-identical") {
    val expect = ext.Similarity.s20IvfTuning(spark, sf0001)
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    val dir = freshDir("s20_spill")
    val e = Tables.embeddings(spark, sf0001).select($"vec_id", $"embedding")
    ext.Similarity.ivfAssigned(e).write.parquet(dir)
    val got = ext.Similarity.s20Sweep(spark, sf0001, spark.read.parquet(dir))
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(got.length == expect.length && got.nonEmpty)
    got.zip(expect).foreach { case (g, e2) => assert(g == e2) }
  }

  // --- DSv2 micro-batch source: checkpoint recovery ----------------------

  test("graft-sensors stream restart resumes from the committed offset (no duplicates)") {
    import org.apache.spark.sql.streaming.Trigger
    val base = freshDir("sensor_restart")
    val (out, ckpt) = (s"$base/out", s"$base/ck")
    // run 1: admit 6000 of 6000 ids in 2000-id epochs, then stop.
    // run 2: SAME checkpoint, larger rows option — the restarted source
    // must resume admission at 6000, not re-admit [0, 2000) (the
    // backwards-batch duplicate bug the r10 advice flagged).
    def run(rows: Long): Unit = {
      val q = spark.readStream.format("graft-sensors")
        .option("rows", rows).option("slices", 4)
        .option("streamBatchRows", 2000).load()
        .select($"id", $"sensor")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(out)
        }
        .option("checkpointLocation", ckpt)
        .start()
      // drain: latestOffset() advances per trigger until it caps at
      // `rows`, at which point no new batch is planned
      q.processAllAvailable()
      q.stop()
    }
    run(6000L)
    assert(spark.read.parquet(out).count() == 6000L)
    run(10000L)
    val log = spark.read.parquet(out)
    assert(log.count() == 10000L,
      "restart must emit exactly the ids admitted after the checkpoint")
    assert(log.select($"id").distinct().count() == 10000L,
      "every id exactly once across the restart boundary")
  }

  test("a rows option shrunk below the committed offset never regresses it") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import org.apache.spark.sql.types.StructType
    // restart with rows=4000 against a checkpoint committed at 6000:
    // returning < start would plan a backwards batch, commit the
    // regressed offset, and re-emit on a later restart
    val s = new sources.SensorMicroBatchStream(4000L, 2, new StructType(),
      Array.empty[org.apache.spark.sql.sources.Filter], 2000L)
    val end = s.latestOffset(sources.SensorOffset(6000L), ReadLimit.allAvailable())
      .asInstanceOf[sources.SensorOffset].pos
    assert(end == 6000L, s"offset regressed to $end")
  }

  // --- CommitSink hardening ---------------------------------------------

  test("a zero-epoch streaming write leaves a readable (empty) committed target") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = freshDir("zero_epoch")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val schema = StructType(Seq(StructField("id", LongType, nullable = false)))
    val w = new sources.CommitStreamingWrite(dir, schema)
    // factory creation (what every stream start does) — commit NOTHING
    w.createStreamingWriterFactory(new org.apache.spark.sql.connector.write.PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    })
    val back = sources.CommitSink.readCommitted(spark, dir)
    assert(back.count() == 0L)
    assert(back.schema.fieldNames.toSeq == Seq("id"),
      "empty read-back carries the write's schema from the initial manifest")
  }

  test("append under a different schema is refused, table left intact") {
    val dir = freshDir("schema_refuse")
    val a = spark.range(5).select($"id", ($"id" * 2).as("v"))
    a.write.format("graft-commit").option("path", dir).mode("overwrite").save()
    val b = spark.range(3).select($"id", ($"id" % 2 === 0).as("flag"))
    val e = intercept[Exception] {
      b.write.format("graft-commit").option("path", dir).mode("append").save()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("schema mismatch")),
      s"expected the schema-mismatch refusal, got: ${e.getMessage}")
    val back = sources.CommitSink.readCommitted(spark, dir)
    assert(back.count() == 5L && back.schema.fieldNames.toSeq == Seq("id", "v"),
      "the refused append must leave the committed version untouched")
  }

  test("concurrent manifest writers are detected by the commit-id CAS") {
    val dir = freshDir("cas")
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(p)
    sources.CommitSink.writeManifest(p, "id BIGINT", Seq.empty, 0L)
    // a writer that planned commit 2 on top of prev=1 while the manifest
    // is actually at 0 (another writer's swap was lost) must fail loudly
    val e = intercept[IllegalArgumentException] {
      sources.CommitSink.writeManifest(p, "id BIGINT", Seq.empty, 2L,
        Seq.empty, expectedPrev = 1L)
    }
    assert(e.getMessage.contains("concurrent writer"))
    // the matching CAS succeeds
    sources.CommitSink.writeManifest(p, "id BIGINT", Seq.empty, 1L,
      Seq.empty, expectedPrev = 0L)
  }

  // --- o12: catalog + row-level DELETE + DSv2 read ----------------------

  /** One catalog NAME per test: Spark caches catalog instances by name,
    * so re-pointing an existing name's `root` conf would silently keep
    * the old instance (and its old root). */
  private def withCatalog(tag: String): (String, String) = {
    val root = freshDir(s"catalog_$tag")
    val cat = s"graft_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CommitCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  test("o12: DSv2 scan equals readCommitted, one partition per committed file") {
    val (cat, root) = withCatalog("scan")
    val path = s"$root/default/ev"
    val in = Tables.events(spark, sf0001)
      .select($"event_id", $"event_type", $"value")
    in.repartition(3).write.format("graft-commit")
      .option("path", path).mode("overwrite").save()
    val viaSql = spark.sql(s"SELECT * FROM $cat.`default`.ev")
    assert(viaSql.exceptAll(in).count() == 0 && in.exceptAll(viaSql).count() == 0,
      "the DSv2 scan must decode exactly what the writer staged")
    assert(viaSql.rdd.getNumPartitions == 3,
      "read parallelism = the write's committed file count")
  }

  test("o12: SQL DELETE is exact, idempotent, and refuses untranslatable conditions") {
    val (cat, root) = withCatalog("delete")
    val path = s"$root/default/ev"
    val in = Tables.events(spark, sf0001)
      .select($"event_id", $"event_type", $"value")
    in.repartition(2).write.format("graft-commit")
      .option("path", path).mode("overwrite").save()
    spark.sql(s"DELETE FROM $cat.`default`.ev WHERE event_type = 'error'")
    val kept = sources.CommitSink.readCommitted(spark, path)
    val expect = in.filter($"event_type" =!= "error")
    assert(kept.exceptAll(expect).count() == 0 && expect.exceptAll(kept).count() == 0)
    // re-running the same DELETE deletes nothing (new table version, same rows)
    spark.sql(s"DELETE FROM $cat.`default`.ev WHERE event_type = 'error'")
    assert(sources.CommitSink.readCommitted(spark, path).count() == expect.count())
    // a condition the metadata path cannot translate falls back to the
    // group-based copy-on-write rewrite (SupportsRowLevelOperations)
    // and still deletes exactly the selected rows
    spark.sql(s"DELETE FROM $cat.`default`.ev WHERE value + 1.0D > 91.0D")
    val expect2 = expect.filter(!($"value" + 1.0 > 91.0))
    val kept2 = sources.CommitSink.readCommitted(spark, path)
    assert(kept2.exceptAll(expect2).count() == 0 && expect2.exceptAll(kept2).count() == 0,
      "the copy-on-write DELETE must remove exactly the selected rows")
  }

  test("o13: SQL UPDATE rewrites matched rows copy-on-write, others untouched") {
    val (cat, root) = withCatalog("update")
    val path = s"$root/default/ev"
    val in = Tables.events(spark, sf0001)
      .select($"event_id", $"event_type", $"value")
    in.repartition(2).write.format("graft-commit")
      .option("path", path).mode("overwrite").save()
    spark.sql(s"UPDATE $cat.`default`.ev SET value = value * 2.0D " +
      "WHERE event_type = 'click'")
    val got = sources.CommitSink.readCommitted(spark, path)
    val expect = in.select($"event_id", $"event_type",
      when($"event_type" === "click", $"value" * 2.0).otherwise($"value").as("value"))
    assert(got.exceptAll(expect).count() == 0 && expect.exceptAll(got).count() == 0,
      "UPDATE must double exactly the clicks, bit-exact elsewhere")
  }

  test("o12: catalog CREATE / EXISTS / DROP round-trip") {
    val (cat, _) = withCatalog("ddl")
    spark.sql(s"CREATE TABLE $cat.`default`.t (id BIGINT, v DOUBLE) USING `graft-commit`")
    assert(spark.sql(s"SELECT * FROM $cat.`default`.t").count() == 0,
      "a created table is an empty commit-0 manifest, readable at once")
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.`default`.t (id BIGINT) USING `graft-commit`")
    }
    spark.sql(s"DROP TABLE $cat.`default`.t")
    intercept[Exception] { spark.sql(s"SELECT * FROM $cat.`default`.t") }
  }

  // --- c21 bootstrap-DDL pins -------------------------------------------

  test("c21: five tables created, PK precedence branches, second create a no-op") {
    val rep = cdc.CdcQueries.c21BootstrapDdl(spark, sf0001)
      .select($"tbl", $"pk_col", $"col_name", $"col_type", $"n_rows")
      .as[(String, String, String, String, Long)].collect()
    val byTable = rep.groupBy(_._1)
    assert(byTable.keySet == Set("signup", "click", "purchase", "view", "error"))
    // PK precedence: candidate names win; no candidate → first sorted col
    val pks = byTable.view.mapValues(_.head._2).toMap
    assert(pks == Map("signup" -> "uuid", "click" -> "id",
      "purchase" -> "employee_id", "view" -> "session", "error" -> "code"))
    // inference branches: md5/props → string, ints → bigint, doubles → double
    val types = rep.map(r => (r._1, r._3) -> r._4).toMap
    assert(types(("signup", "uuid")) == "string")
    assert(types(("signup", "n")) == "bigint")
    assert(types(("signup", "value")) == "double")
    assert(types(("error", "code")) == "bigint")
    assert(types(("purchase", "label")) == "string")
    // n_rows equals the PREFIX-PASSING row count — the second (decoy)
    // create-if-absent appended/overwrote nothing
    val ev = Tables.events(spark, sf0001)
    val expect = ev.filter($"event_id" % 7 =!= 0)
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    byTable.foreach { case (t, rows) =>
      rows.foreach(r => assert(r._5 == expect(t),
        s"$t n_rows ${r._5} != prefix-passing count ${expect(t)}"))
    }
  }

  // --- s21: the in-sum fold is bucket-bounded ---------------------------

  test("s21 plan: every PageRank fold is bucket-keyed or collects only bucket partials") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    // staged pipeline — the registry entry returns the checkpointed
    // ranks, whose checkpoint would hide the folds
    val (df, s21caches) = ext.Similarity.s21PagerankKnnStaged(spark, sf0001)
    val folds = df.queryExecution.analyzed.collect { case a: Aggregate =>
      val collects = a.aggregateExpressions.flatMap(_.collect { case c: CollectList => c })
        // only the PageRank folds: shares/ranks (level 1) or partials (level 2)
        .filter(_.child.collect { case ar: AttributeReference => ar.name }
          .exists(Set("share", "pr", "s1", "s").contains))
      (a, collects)
    }.filter(_._2.nonEmpty)
    // (the analyzed plan repeats aggregates through each iteration's
    // cached-lineage references, so assert the INVARIANT on all of them
    // rather than a count)
    assert(folds.nonEmpty, "expected the fold aggregates in the plan")
    var sawBucketKeyedL1 = false
    folds.foreach { case (a, collects) =>
      // a fold buffer is bounded iff its group carries the 256-bucket key
      // (level 1: ≤256 members) or it collects only per-bucket PARTIALS
      // (level 2: |group|/256 scalars) — never raw in-degree-sized rows
      // level-1 grouping carries the raw FLOOR(../256) expression (the
      // alias lands in the aggregate list, not the grouping; FLOOR over
      // a decimal operand resolves to RoundFloor, so match on the
      // rendered form rather than an expression class)
      val bucketKeyed = a.groupingExpressions.exists(
        _.toString.toUpperCase.contains("FLOOR"))
      val collectsPartials = collects.forall(
        _.child.collect { case ar: AttributeReference => ar.name }
          .forall(Set("ib", "s1", "b", "s").contains))
      // the ported in-sum L1: bucket-keyed AND collecting raw (u, share)
      if (bucketKeyed && collects.exists(
          _.child.collect { case ar: AttributeReference => ar.name }
            .contains("share"))) sawBucketKeyedL1 = true
      assert(bucketKeyed || collectsPartials,
        s"in-degree-sized collect buffer in:\n${a.simpleString(200)}")
    }
    assert(sawBucketKeyedL1,
      "the (vec_id, ib)-grouped level-1 in-sum fold must be in the plan")
    // and the result still conserves mass (sanity after the port)
    val mass = df.agg(sum($"pagerank")).as[Double].collect().head
    assert(math.abs(mass - 1.0) < 1e-9)
    s21caches.foreach(_.unpersist())
  }
}
