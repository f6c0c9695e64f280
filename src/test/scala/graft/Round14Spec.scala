package graft

import java.nio.file.Paths

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 wave: merge-on-read on PARTITIONED tables, lakehouse schema
  * evolution (ALTER TABLE ADD COLUMN through CommitCatalog), equality
  * deletes, and change-data-feed coverage for rewrites.
  *
  *  - '''Partitioned MOR (o28 lift)''': the delta row-level operation no
  *    longer requires an unpartitioned table — vectors are per-file and
  *    layout-blind, and inserted/reinserted rows cluster on the
  *    partition column through the same per-key rolling writer a
  *    partitioned append uses, so every new file still holds exactly one
  *    key (pk recorded, storage-partitioned joins keep working).
  *  - '''Schema evolution (o31)''': `ALTER TABLE ADD COLUMNS` through
  *    CommitCatalog is a metadata-only commit (files/stats/vectors/
  *    epochs carried verbatim); old files read the new column as NULL
  *    on every path, appends must carry the widened schema, time travel
  *    keeps each version's own shape, COW rewrites and MOR vectors
  *    survive the ALTER, and non-ADD changes refuse loudly.
  *  - '''Equality deletes (o32)''': `option("upsertKeys", k)` appends
  *    record the batch's distinct keys as a key file scoped by per-file
  *    add-sequences to strictly-older files — replace-by-key with zero
  *    reads, batch and per-trigger streaming; upserts layer (newest seq
  *    wins), both read paths and the keyed (SPJ) partitions apply the
  *    key sets, `convertEqDeletes` turns key files into ordinary
  *    vectors without changing the answer, compaction retires
  *    out-sequenced entries, and the changelog/feed refuse a delete
  *    covering already-emitted files while a FRESH checkpoint (and the
  *    CDF snapshotOnRewrite re-bootstrap) emits the net content.
  *  - '''Rewrite change feed (o33)''': a fully-covering vector delete
  *    leaves a one-version TOMBSTONE, so the feed emits the drop as
  *    delete rows; `changeFeedWithRewrites` replays COW DML /
  *    compaction / upserts as a group-granular snapshot diff — one
  *    group per one-group UPDATE, zero rows for a value-preserving
  *    compaction.
  */
class Round14Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = s"/tmp/graft_r14_spec/$tag"
    Tables.deleteRecursively(d)
    // sibling checkpoint dirs too: a stale checkpoint against a fresh
    // table generation fails the generation check, not the test's claim
    Tables.deleteRecursively(s"$d-ck")
    Tables.deleteRecursively(s"$d-ck2")
    d
  }

  private def manifest(path: String) =
    sources.CommitSink.parseManifest(Paths.get(path)).get

  private def withCatalog(tag: String): (String, String) = {
    val root = freshDir(s"catalog_$tag")
    val cat = s"graft_r14_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CommitCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  // --- merge-on-read on partitioned tables ----------------------------------

  test("partitioned mor merge: layout preserved, vectors per key group, inserts roll per key") {
    val (cat, root) = withCatalog("mor_part_merge")
    val path = s"$root/default/t"
    spark.range(400L).select($"id", ($"id" % 4).as("k"), ($"id" * 1.0).as("v"))
      .write.format("graft-commit").option("path", path)
      .option("partitionBy", "k").mode("overwrite").save()
    val before = manifest(path)
    // 20 updates spread over all 4 keys + 2 inserts into a brand-new key
    spark.range(20L).select($"id", ($"id" % 4).as("k"), lit(-1.0).as("v"))
      .unionByName(Seq((1000L, 7L, 5.0), (1001L, 7L, 6.0)).toDF("id", "k", "v"))
      .createOrReplaceTempView("r14_mor_src")
    withConf("spark.graft.commit.rowLevelMode" -> "merge-on-read") {
      spark.sql(s"""MERGE INTO $cat.`default`.t t USING r14_mor_src s
                   ON t.id = s.id
                   WHEN MATCHED THEN UPDATE SET v = s.v
                   WHEN NOT MATCHED THEN INSERT (id, k, v) VALUES (s.id, s.k, s.v)""")
    }
    val after = manifest(path)
    // delta, not copy-on-write: every pre-existing file carried verbatim
    assert(before.files.toSet.subsetOf(after.files.toSet),
      "a partitioned MOR MERGE must not rewrite existing files")
    assert(after.partCol.contains("k"), "the partition layout survives DML")
    // the 20 updated rows' old versions are exactly the vector positions
    assert(after.files.flatMap(after.deletes.get).map(_.ndel).sum == 20L)
    // every NEW file is single-key with its pk recorded — the layout
    // contract that keeps storage-partitioned joins zero-exchange
    val newFiles = after.files.filterNot(before.files.toSet)
    assert(newFiles.nonEmpty)
    assert(newFiles.forall(f =>
      sources.CommitSink.FileStat.decode(after.stats(f)).pk.isDefined),
      "every delta-inserted file must record its partition key")
    val back = sources.CommitSink.readCommitted(spark, path)
    assert(back.count() == 402L)
    assert(back.filter($"id" < 20).agg(sum($"v")).head.getDouble(0) == -20.0)
    assert(back.filter($"k" === 7).count() == 2L)
    // keyed file-group reads (the SPJ path) agree
    val dsv2 = spark.read.format("graft-commit").option("path", path).load()
    assert(dsv2.groupBy($"k").count().collect().map(_.getLong(1)).sum == 402L)
  }

  // --- equality deletes (o32) ------------------------------------------------

  test("upsert write: zero reads, keys replace older rows, both read paths agree") {
    val dir = freshDir("eq_basic")
    spark.range(100L).select($"id", ($"id" * 1.0).as("v"))
      .repartitionByRange(4, $"id")
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    val before = manifest(dir)
    // 10 replacements + 5 brand-new keys, one key-unique batch
    spark.range(10L, 20L).select($"id", lit(-1.0).as("v"))
      .unionByName(spark.range(100L, 105L).select($"id", lit(7.0).as("v")))
      .coalesce(1)
      .write.format("graft-commit").option("path", dir)
      .option("upsertKeys", "id").mode("append").save()
    val after = manifest(dir)
    // the upsert touched NO committed byte: every old file carried, no
    // vectors, one equality delete of exactly the batch's 15 keys
    assert(before.files.toSet.subsetOf(after.files.toSet))
    assert(after.deletes.isEmpty)
    assert(after.eqDeletes.map(_.nkeys).sum == 15L)
    assert(after.eqDeletes.forall(_.cols == "id"))
    // new files carry the commit's sequence; old files stay below it
    val newFiles = after.files.filterNot(before.files.toSet)
    assert(newFiles.forall(f => after.seqOf(f) == after.commit))
    assert(before.files.forall(f => after.seqOf(f) < after.commit))
    // both read paths agree on the replaced state
    val expected = (0L until 100L).filterNot(i => i >= 10 && i < 20).map(i => (i, i * 1.0)) ++
      (10L until 20L).map(i => (i, -1.0)) ++ (100L until 105L).map(i => (i, 7.0))
    val native = sources.CommitSink.readCommitted(spark, dir)
      .as[(Long, Double)].collect().toSet
    val dsv2 = spark.read.format("graft-commit").option("path", dir).load()
      .as[(Long, Double)].collect().toSet
    assert(native == expected.toSet)
    assert(dsv2 == expected.toSet)
    // metadata-only aggregation DECLINES under live equality deletes —
    // the count must come from a real scan and still be right
    val cnt = spark.read.format("graft-commit").option("path", dir).load().count()
    assert(cnt == 105L)
  }

  test("upsert layering: a second upsert wins on overlap; time travel sees each stage") {
    val dir = freshDir("eq_layers")
    spark.range(50L).select($"id", lit("base").as("s"))
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    spark.range(10L, 30L).select($"id", lit("u1").as("s"))
      .write.format("graft-commit").option("path", dir)
      .option("upsertKeys", "id").mode("append").save()
    spark.range(20L, 40L).select($"id", lit("u2").as("s"))
      .write.format("graft-commit").option("path", dir)
      .option("upsertKeys", "id").mode("append").save()
    def states(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      df.as[(Long, String)].collect().toMap
    val now = states(sources.CommitSink.readCommitted(spark, dir))
    assert(now.size == 50)
    assert((0L until 10L).forall(now(_) == "base"))
    assert((10L until 20L).forall(now(_) == "u1"))
    assert((20L until 40L).forall(now(_) == "u2"))
    assert((40L until 50L).forall(now(_) == "base"))
    // time travel: v1 = after the first upsert only
    val v1 = states(sources.CommitSink.readCommittedVersion(spark, dir, 1L))
    assert((10L until 30L).forall(v1(_) == "u1") && v1(5L) == "base")
    // layering proof: two delete generations live side by side (one per
    // upsert commit — each task staged its own key file, so count by
    // SEQUENCE, not by entry), the second covering both earlier ones
    val m = manifest(dir)
    assert(m.eqDeletes.map(_.seq).distinct.sorted == Seq(1L, 2L))
    assert(m.eqDeletes.groupBy(_.seq).view.mapValues(_.map(_.nkeys).sum).toMap ==
      Map(1L -> 20L, 2L -> 20L))
  }

  test("convertEqDeletes: equality -> positional, answers identical, metadata COUNT restored") {
    val dir = freshDir("eq_convert")
    spark.range(200L).select($"id", ($"id" % 10).as("g"))
      .repartitionByRange(4, $"id")
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    spark.range(50L, 80L).select($"id", lit(-1L).as("g"))
      .write.format("graft-commit").option("path", dir)
      .option("upsertKeys", "id").mode("append").save()
    val beforeRows = sources.CommitSink.readCommitted(spark, dir)
      .as[(Long, Long)].collect().toSet
    val affected = sources.CommitSink.convertEqDeletes(spark, dir)
    assert(affected.nonEmpty)
    val m = manifest(dir)
    assert(m.eqDeletes.isEmpty, "conversion retires every key file")
    // the 30 replaced rows are now vector positions
    assert(m.files.flatMap(m.deletes.get).map(_.ndel).sum == 30L)
    val afterRows = sources.CommitSink.readCommitted(spark, dir)
      .as[(Long, Long)].collect().toSet
    assert(afterRows == beforeRows, "conversion must not change the answer")
    // a second convert is a no-op
    assert(sources.CommitSink.convertEqDeletes(spark, dir).isEmpty)
    // metadata-only COUNT works again (vectors have live-rows arithmetic)
    val scan = spark.read.format("graft-commit").option("path", dir).load()
    assert(scan.count() == 200L)
  }

  test("convertEqDeletes on a PARTITIONED table: vectors land per keyed file, layout intact") {
    val dir = freshDir("eq_convert_part")
    spark.range(90L).select($"id", ($"id" % 3).as("k"), lit("base").as("s"))
      .write.format("graft-commit").option("path", dir)
      .option("partitionBy", "k").mode("overwrite").save()
    spark.range(30L, 60L).select($"id", ($"id" % 3).as("k"), lit("up").as("s"))
      .write.format("graft-commit").option("path", dir)
      .option("partitionBy", "k").option("upsertKeys", "id").mode("append").save()
    val affected = sources.CommitSink.convertEqDeletes(spark, dir)
    assert(affected.nonEmpty)
    val m = manifest(dir)
    assert(m.eqDeletes.isEmpty && m.partCol.contains("k"))
    assert(m.files.flatMap(m.deletes.get).map(_.ndel).sum == 30L)
    // the keyed (SPJ) read path applies the converted vectors per group
    val dsv2 = spark.read.format("graft-commit").option("path", dir).load()
    assert(dsv2.count() == 90L && dsv2.filter($"s" === "up").count() == 30L)
    assert(dsv2.groupBy($"k").count().collect().map(_.getLong(1)).toSet == Set(30L))
  }

  test("equality deletes: changelog and change feed refuse an upsert commit loudly") {
    val dir = freshDir("eq_stream_refuse")
    spark.range(20L).select($"id", ($"id" * 1.0).as("v"))
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    // a consumer is already tailing the table when the upsert lands
    val ck = s"$dir-ck"
    val q1 = spark.readStream.format("graft-commit").option("path", dir).load()
      .writeStream.format("noop").option("checkpointLocation", ck).start()
    try q1.processAllAvailable() finally q1.stop()
    spark.range(5L, 10L).select($"id", lit(0.0).as("v"))
      .write.format("graft-commit").option("path", dir)
      .option("upsertKeys", "id").mode("append").save()
    // batch CDF over the range refuses with the eq-specific message
    val e1 = intercept[Exception] {
      spark.read.format("graft-commit").option("path", dir)
        .option("readChangeFeed", true).option("startingVersion", 0).load()
        .collect()
    }
    assert(e1.getMessage.contains("equality deletes"), e1.getMessage)
    // the tailing consumer's next range straddles the upsert: refuse
    // (rows were removed by value — inexpressible incrementally)
    val e2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q2 = spark.readStream.format("graft-commit").option("path", dir).load()
        .writeStream.format("noop").option("checkpointLocation", ck).start()
      try q2.processAllAvailable() finally q2.stop()
    }
    assert(e2.getCause.getMessage.contains("append-only"), e2.getCause.getMessage)
    // a FRESH checkpoint bootstraps the NET content in one batch — with
    // the equality deletes applied (20 rows, not 25)
    val sink = new java.util.concurrent.atomic.AtomicLong(-1L)
    val q3 = spark.readStream.format("graft-commit").option("path", dir).load()
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        sink.set(b.count()); ()
      }.option("checkpointLocation", s"$dir-ck2").start()
    try q3.processAllAvailable() finally q3.stop()
    assert(sink.get() == 20L,
      "the genesis bootstrap must apply equality deletes")
  }

  test("streaming upsert: per-trigger key replacement with zero scans (the w16 shape)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = freshDir("eq_stream_upsert")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Long]
    // value = generation * 1000 + key: each trigger's rows carry their
    // generation, so last-writer-wins is value-checkable per key
    val q = in.toDF().select(($"value" % 1000).as("id"),
        expr("value div 1000").as("gen"))
      .writeStream.format("graft-commit")
      .option("path", dir).option("upsertKeys", "id")
      .option("checkpointLocation", s"$dir-ck")
      .start()
    try {
      in.addData((0L until 10L).map(_ + 1000L): _*); q.processAllAvailable()
      in.addData((5L until 15L).map(_ + 2000L): _*); q.processAllAvailable()
      in.addData((0L until 3L).map(_ + 3000L): _*); q.processAllAvailable()
    } finally q.stop()
    val m = manifest(dir)
    // three epoch commits; no file was ever rewritten (append-only file
    // history) and no scan ran. Only TWO equality deletes survive: the
    // first trigger's keys had nothing older to cover (empty table), so
    // its entry was retired as dead-on-arrival by the central filter
    assert(m.epochs.size == 3)
    assert(m.eqDeletes.size == 2 && m.deletes.isEmpty)
    val back = sources.CommitSink.readCommitted(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(back.size == 15)
    assert((0L until 3L).forall(back(_) == 3L))   // third trigger wins
    assert((3L until 5L).forall(back(_) == 1L))   // first trigger, never replaced
    assert((5L until 15L).forall(back(_) == 2L))  // second trigger wins
  }

  test("upsert on a PARTITIONED table: per-key roll + key file in one commit; compaction retires entries") {
    val dir = freshDir("eq_partitioned")
    spark.range(120L).select($"id", ($"id" % 3).as("k"), lit("base").as("s"))
      .write.format("graft-commit").option("path", dir)
      .option("partitionBy", "k").mode("overwrite").save()
    val before = manifest(dir)
    spark.range(30L, 45L).select($"id", ($"id" % 3).as("k"), lit("up").as("s"))
      .write.format("graft-commit").option("path", dir)
      .option("partitionBy", "k").option("upsertKeys", "id").mode("append").save()
    val mid = manifest(dir)
    assert(before.files.forall(mid.files.contains) && mid.eqDeletes.nonEmpty)
    // new files keep the one-key-per-file layout (pk recorded)
    val newFiles = mid.files.filterNot(before.files.toSet)
    assert(newFiles.forall(f =>
      sources.CommitSink.FileStat.decode(mid.stats(f)).pk.isDefined))
    val back = sources.CommitSink.readCommitted(spark, dir)
      .as[(Long, Long, String)].collect()
    assert(back.length == 120)
    assert(back.count(_._3 == "up") == 15)
    // keyed DSv2 reads apply the key sets inside the key-group partitions
    val dsv2 = spark.read.format("graft-commit").option("path", dir).load()
    assert(dsv2.filter($"s" === "up").count() == 15L)
    assert(dsv2.groupBy($"k").count().collect().map(_.getLong(1)).sum == 120L)
    // a compaction's scan applies the key sets and its commit retires
    // every no-longer-covering entry centrally
    sources.CommitSink.compact(spark, dir, 2)
    val after = manifest(dir)
    assert(after.eqDeletes.isEmpty, "rewritten files are above every delete's sequence")
    assert(sources.CommitSink.readCommitted(spark, dir)
      .filter($"s" === "up").count() == 15L)
    assert(sources.CommitSink.readCommitted(spark, dir).count() == 120L)
  }

  test("equality deletes + schema evolution: an ALTER carries key files and sequences") {
    val (cat, root) = withCatalog("eq_evolve")
    val path = s"$root/default/t"
    spark.range(40L).select($"id", lit("base").as("s"))
      .write.format("graft-commit").option("path", path).mode("overwrite").save()
    spark.range(10L, 20L).select($"id", lit("up").as("s"))
      .write.format("graft-commit").option("path", path)
      .option("upsertKeys", "id").mode("append").save()
    spark.sql(s"ALTER TABLE $cat.`default`.t ADD COLUMNS (tag STRING)")
    val m = manifest(path)
    assert(m.eqDeletes.nonEmpty, "the ALTER carries equality deletes verbatim")
    val back = sources.CommitSink.readCommitted(spark, path)
    assert(back.schema.fieldNames.toSeq == Seq("id", "s", "tag"))
    assert(back.count() == 40L && back.filter($"s" === "up").count() == 10L)
    // and the widened schema upserts fine on top
    spark.range(15L, 25L).select($"id", lit("u2").as("s"), lit("t2").as("tag"))
      .write.format("graft-commit").option("path", path)
      .option("upsertKeys", "id").mode("append").save()
    val back2 = sources.CommitSink.readCommitted(spark, path)
    assert(back2.count() == 40L)
    assert(back2.filter($"tag" === "t2").count() == 10L)
    assert(back2.filter($"s" === "up").count() == 5L) // 10..14 survive as up
  }

  test("upsert refusals: json payload, overwrite mode, unknown/bad-typed keys") {
    def refused(frag: String)(body: => Unit): Unit = {
      val e = intercept[Exception](body)
      assert(e.getMessage.contains(frag), e.getMessage)
    }
    val pdir = freshDir("eq_refuse_pq")
    spark.range(10L).select($"id", ($"id" * 1.0).as("v"))
      .write.format("graft-commit").option("path", pdir).mode("overwrite").save()
    // parquet is the only payload: an upsert asking for json is refused
    refused("parquet is the only staged-file format") {
      spark.range(5L).select($"id", lit(0.0).as("v"))
        .write.format("graft-commit").option("path", pdir)
        .option("payload", "json").option("upsertKeys", "id").mode("append").save()
    }
    refused("APPEND-mode") {
      spark.range(5L).select($"id", lit(0.0).as("v"))
        .write.format("graft-commit").option("path", pdir)
        .option("upsertKeys", "id").mode("overwrite").save()
    }
    refused("not in the written schema") {
      spark.range(5L).select($"id", lit(0.0).as("v"))
        .write.format("graft-commit").option("path", pdir)
        .option("upsertKeys", "nope").mode("append").save()
    }
    refused("non-keyable") {
      spark.range(5L).select($"id", lit(0.0).as("v"))
        .write.format("graft-commit").option("path", pdir)
        .option("upsertKeys", "v").mode("append").save()
    }
  }

  // --- full-cover tombstones + the rewrite change feed (o33) ---------------

  test("cdf: a fully-covering vector delete emits its drop as delete rows (tombstone)") {
    val (cat, root) = withCatalog("tombstone_cdf")
    val path = s"$root/default/t"
    // two disjoint zones of 50 rows each
    spark.range(100L).select($"id", ($"id" * 1.0).as("v"))
      .repartitionByRange(2, $"id")
      .write.format("graft-commit").option("path", path).mode("overwrite").save()
    withConf("spark.graft.commit.deleteMode" -> "merge-on-read") {
      // kills one zone file ENTIRELY -> the file drops with a tombstone
      spark.sql(s"DELETE FROM $cat.`default`.t WHERE id < 50")
    }
    val m = manifest(path)
    assert(m.files.size == 1, "the fully-covered file is dropped")
    assert(m.deletes.size == 1 && !m.files.contains(m.deletes.head._1),
      "its vector survives as a tombstone (listed without its file)")
    // the batch CDF no longer refuses: the drop reads as 50 delete rows
    val feed = spark.read.format("graft-commit").option("path", path)
      .option("readChangeFeed", true).option("startingVersion", 1).load()
    val dels = feed.filter($"_change_type" === "delete")
      .select($"id").as[Long].collect().sorted
    assert(dels.toSeq == (0L until 50L))
    // a follow-up append retires the tombstone (next commit never carries it)
    spark.range(200L, 210L).select($"id", lit(0.0).as("v"))
      .write.format("graft-commit").option("path", path).mode("append").save()
    val m2 = manifest(path)
    assert(m2.deletes.isEmpty, "tombstones die at the next commit")
  }

  test("changeFeedWithRewrites: COW update diffs only its groups; compaction diffs to nothing") {
    val (cat, root) = withCatalog("rewrite_feed")
    val path = s"$root/default/t"
    spark.range(400L).select($"id", ($"id" * 1.0).as("v"))
      .repartitionByRange(4, $"id")
      .write.format("graft-commit").option("path", path).mode("overwrite").save()
    val m0 = manifest(path)
    // v1: a zone-prunable COW UPDATE — rewrites ONE group of four
    spark.sql(s"UPDATE $cat.`default`.t SET v = -1.0 WHERE id >= 100 AND id < 120")
    val m1 = manifest(path)
    assert(m0.files.count(m1.files.contains) == 3,
      "the COW update carries the three unmatched zone files")
    // v2: compaction — a rewrite whose diff must be EMPTY
    sources.CommitSink.compact(spark, path, 2)
    val feed = sources.CommitSink.changeFeedWithRewrites(spark, path, 0L)
      .select($"id", $"v", $"_change_type", $"_commit_version")
      .as[(Long, Double, String, Long)].collect()
    val v0 = feed.filter(_._4 == 0L)
    assert(v0.length == 400 && v0.forall(_._3 == "insert"))
    val v1 = feed.filter(_._4 == 1L)
    assert(v1.filter(_._3 == "delete").map(_._1).sorted.toSeq == (100L until 120L),
      "pre-images of exactly the updated rows")
    assert(v1.filter(_._3 == "insert").forall(r => r._2 == -1.0 &&
      r._1 >= 100 && r._1 < 120), "post-images of exactly the updated rows")
    assert(feed.count(_._4 == 2L) == 0,
      "a value-preserving compaction diffs to ZERO change rows")
  }

  test("changeFeedWithRewrites: an upsert commit diffs to its key replacements") {
    val dir = freshDir("eq_feed")
    spark.range(60L).select($"id", lit("base").as("s"))
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    spark.range(20L, 30L).select($"id", lit("u1").as("s"))
      .write.format("graft-commit").option("path", dir)
      .option("upsertKeys", "id").mode("append").save()
    val feed = sources.CommitSink.changeFeedWithRewrites(spark, dir, 1L)
      .select($"id", $"s", $"_change_type").as[(Long, String, String)].collect()
    assert(feed.filter(_._3 == "delete").map(_._1).sorted.toSeq == (20L until 30L))
    assert(feed.filter(_._3 == "delete").forall(_._2 == "base"))
    assert(feed.filter(_._3 == "insert").map(_._1).sorted.toSeq == (20L until 30L))
    assert(feed.filter(_._3 == "insert").forall(_._2 == "u1"))
  }

  test("cdf bootstrap over live equality deletes emits the NET content (keys applied)") {
    val dir = freshDir("eq_cdf_bootstrap")
    spark.range(30L).select($"id", lit("base").as("s"))
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    spark.range(10L, 20L).select($"id", lit("up").as("s"))
      .write.format("graft-commit").option("path", dir)
      .option("upsertKeys", "id").mode("append").save()
    // default: a CDF range straddling the upsert still refuses
    val e = intercept[Exception] {
      spark.read.format("graft-commit").option("path", dir)
        .option("readChangeFeed", true).option("startingVersion", 0).load()
        .collect()
    }
    assert(e.getMessage.contains("equality deletes"), e.getMessage)
    // snapshotOnRewrite: the CDF STREAM re-bootstraps the snapshot with
    // the key sets applied — 30 live rows, the 10 replaced ones only in
    // their 'up' version, everything stamped 'insert'
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    val q = spark.readStream.format("graft-commit").option("path", dir)
      .option("readChangeFeed", true).option("snapshotOnRewrite", true).load()
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        rows ++= b.select($"id", $"s", $"_change_type")
          .as[(Long, String, String)].collect(); ()
      }.option("checkpointLocation", s"$dir-ck").start()
    try q.processAllAvailable() finally q.stop()
    assert(rows.size == 30 && rows.forall(_._3 == "insert"))
    assert(rows.count(_._2 == "up") == 10)
    assert(rows.filter(r => r._1 >= 10 && r._1 < 20).forall(_._2 == "up"),
      "replaced keys must surface only in their post-upsert version")
  }

  // --- lakehouse schema evolution (o31) -------------------------------------

  test("alter add column: metadata-only commit, null-fill reads, old version keeps old schema") {
    val (cat, root) = withCatalog("evolve_basic")
    val path = s"$root/default/t"
    spark.range(100L).select($"id", ($"id" * 2.0).as("v"))
      .write.format("graft-commit").option("path", path).mode("overwrite").save()
    val before = manifest(path)
    spark.sql(s"ALTER TABLE $cat.`default`.t ADD COLUMNS (tag STRING, score BIGINT)")
    val after = manifest(path)
    // metadata-only: same files, same stats, vectors/epochs carried
    assert(after.files == before.files && after.stats == before.stats)
    assert(after.commit == before.commit + 1)
    assert(after.tableId == before.tableId, "an ALTER is not a new generation")
    // old rows read NULL for both new columns, via BOTH read paths
    val back = sources.CommitSink.readCommitted(spark, path)
    assert(back.schema.fieldNames.toSeq == Seq("id", "v", "tag", "score"))
    assert(back.filter($"tag".isNull && $"score".isNull).count() == 100L)
    val dsv2 = spark.read.format("graft-commit").option("path", path).load()
    assert(dsv2.filter($"tag".isNull).count() == 100L)
    // widened appends accepted; narrow (pre-ALTER) appends refused
    spark.range(100L, 110L).select($"id", ($"id" * 2.0).as("v"),
        lit("new").as("tag"), ($"id" * 10).as("score"))
      .write.format("graft-commit").option("path", path).mode("append").save()
    val e = intercept[Exception] {
      spark.range(200L, 210L).select($"id", ($"id" * 2.0).as("v"))
        .write.format("graft-commit").option("path", path).mode("append").save()
    }
    assert(e.getMessage.contains("schema mismatch"), e.getMessage)
    val all = sources.CommitSink.readCommitted(spark, path)
    assert(all.count() == 110L && all.filter($"tag" === "new").count() == 10L)
    // time travel: the pre-ALTER version is still the narrow table
    val v0 = sources.CommitSink.readCommittedVersion(spark, path, 0L)
    assert(v0.schema.fieldNames.toSeq == Seq("id", "v") && v0.count() == 100L)
    // metadata-only MIN/MAX on the ADDED column: old files have no
    // recorded range there and hold only NULLs — sound to answer from
    // the post-ALTER files' ranges alone
    val agg = spark.read.format("graft-commit").option("path", path).load()
      .agg(min($"score"), max($"score")).head()
    assert(agg.getLong(0) == 1000L && agg.getLong(1) == 1090L)
  }

  test("alter add column: COW rewrite and MOR vectors survive the ALTER") {
    val (cat, root) = withCatalog("evolve_dml")
    val path = s"$root/default/t"
    spark.range(400L).select($"id", ($"id" * 1.0).as("v"))
      .repartitionByRange(4, $"id")
      .write.format("graft-commit").option("path", path).mode("overwrite").save()
    // MOR vectors BEFORE the ALTER
    withConf("spark.graft.commit.deleteMode" -> "merge-on-read") {
      spark.sql(s"DELETE FROM $cat.`default`.t WHERE id >= 10 AND id < 20")
    }
    assert(manifest(path).deletes.nonEmpty)
    spark.sql(s"ALTER TABLE $cat.`default`.t ADD COLUMNS (tag STRING)")
    // the vectors carried through the ALTER commit and still apply
    assert(manifest(path).deletes.nonEmpty)
    assert(sources.CommitSink.readCommitted(spark, path).count() == 390L)
    // a COW UPDATE on the widened table backfills the new column for
    // matched rows (group-granular: only the matched zone rewrites)
    val preFiles = manifest(path).files.toSet
    spark.sql(s"UPDATE $cat.`default`.t SET tag = 'low' WHERE id < 100")
    val m2 = manifest(path)
    assert(m2.files.exists(preFiles), "unmatched zone files are carried")
    val back = sources.CommitSink.readCommitted(spark, path)
    assert(back.filter($"tag" === "low").count() == 90L) // 100 - 10 deleted
    assert(back.filter($"tag".isNull).count() == 300L)
    // and MOR DML keeps working on the evolved table
    withConf("spark.graft.commit.rowLevelMode" -> "merge-on-read") {
      spark.sql(s"DELETE FROM $cat.`default`.t WHERE id % 100 = 50")
    }
    assert(sources.CommitSink.readCommitted(spark, path).count() == 386L)
  }

  test("alter add column: refusals (nullability, duplicates, position, non-add changes)") {
    val (cat, root) = withCatalog("evolve_refuse")
    val path = s"$root/default/t"
    spark.range(10L).select($"id")
      .write.format("graft-commit").option("path", path).mode("overwrite").save()
    def refused(sql: String, frag: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      assert(e.getMessage.contains(frag), s"$sql -> ${e.getMessage}")
    }
    refused(s"ALTER TABLE $cat.`default`.t ADD COLUMNS (c STRING NOT NULL)",
      "must be nullable")
    refused(s"ALTER TABLE $cat.`default`.t ADD COLUMNS (id BIGINT)",
      "already exists")
    refused(s"ALTER TABLE $cat.`default`.t ADD COLUMNS (c STRING FIRST)",
      "FIRST/AFTER is unsupported")
    // r18: RENAME is supported (o48, Round18Spec); retypes Spark itself
    // refuses upstream (NOT_SUPPORTED_CHANGE_COLUMN) — the catch-all
    // pins on a change shape that DOES reach alterTable (a comment)
    refused(s"ALTER TABLE $cat.`default`.t ALTER COLUMN id COMMENT 'x'",
      "only ADD COLUMN")
    refused(s"ALTER TABLE $cat.`default`.t ADD COLUMNS (m MAP<STRING,STRING>)",
      "unsupported ALTER column type")
    // nothing landed: the table is still at commit 0 with one column
    val m = manifest(path)
    assert(m.commit == 0L && StructType.fromDDL(m.ddl).length == 1)
  }

  test("partitioned mor delete through the row-level op (untranslatable predicate)") {
    val (cat, root) = withCatalog("mor_part_delete")
    val path = s"$root/default/t"
    spark.range(700L).select($"id", ($"id" % 7).as("k"), ($"id" * 0.5).as("v"))
      .write.format("graft-commit").option("path", path)
      .option("partitionBy", "k").mode("overwrite").save()
    val before = manifest(path)
    withConf("spark.graft.commit.rowLevelMode" -> "merge-on-read") {
      // modulo predicate: untranslatable as V1 filters, routes through
      // the DELTA row-level operation — a pure DELETE's delta plan
      // projects no data columns, so clustering stays on _file alone
      spark.sql(s"DELETE FROM $cat.`default`.t WHERE id % 10 = 3")
    }
    val after = manifest(path)
    assert(after.files == before.files, "a MOR DELETE changes no data files")
    assert(after.partCol.contains("k"))
    assert(after.files.flatMap(after.deletes.get).map(_.ndel).sum == 70L)
    val back = sources.CommitSink.readCommitted(spark, path)
    assert(back.count() == 630L)
    assert(back.filter($"id" % 10 === 3).count() == 0L)
  }
}
