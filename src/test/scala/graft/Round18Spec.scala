package graft

import java.nio.file.Paths

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Round-18 wave: RENAME COLUMN via the schema ledger (o48), TIMESTAMP
  * AS OF time travel (o49), column NDV sketches feeding Spark's CBO
  * (o50), the hours(ts) transform (o51), the multi-transform
  * secondary-sort cluster rewrite (the one o46 refusal left), and the
  * round's ADVICE fixes:
  *
  *  - '''o48''': a rename is ONE manifest commit; committed files keep
  *    their physical name and every reader maps per file by
  *    add-sequence ([[graft.sources.CommitSink.physNamesFor]] — chains
  *    and name reuse walk newest-first). Refusal matrix: partition
  *    source, live eq-delete key, existing target; ADD COLUMN refuses
  *    names committed bytes may still carry (dropped columns AND
  *    renames' old names — the r17 ADVICE resurrection hole), and the
  *    refusal LIFTS once a rewrite retires the ledger.
  *  - '''o49''': commit wall times come from an injectable clock;
  *    resolution is newest-≤, staged/branch versions excluded,
  *    pre-table timestamps refuse, metadata tables compose.
  *  - '''multi cluster''': range on (composite keys, sort cols) keeps
  *    one composite key per file with per-key-disjoint secondary
  *    slices — the o39 shape, now on (days × bucket); compactDeletes
  *    pre-shapes the same way (r17 ADVICE: it threw on multi specs).
  *  - '''keyColOf UTC exactness''' (r17 ADVICE): catalyst pre-shape
  *    keys are bit-identical to keyOf under a NON-UTC session zone,
  *    including pre-epoch values and the 2^53 double-mantissa edge.
  *  - '''branch publish invariants''': publish is a metadata-only
  *    fast-forward — one contiguous main commit, zero data-file
  *    rewrites, CDF expresses it, no high-range id ever on main.
  */
class Round18Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = s"/tmp/graft_r18_spec/$tag"
    Tables.deleteRecursively(d)
    d
  }

  private def manifest(path: String) =
    sources.CommitSink.parseManifest(Paths.get(path)).get

  private def scopedCat(tag: String): (String, String) = {
    val root = s"/tmp/graft_r18_spec/cat_$tag"
    Tables.deleteRecursively(root)
    val cat = s"graft_r18_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CommitCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }


  private def msgChain(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  // --- o48: RENAME COLUMN ---------------------------------------------------

  test("o48: rename is metadata-only; old files read, prune and travel correctly") {
    val (cat, root) = scopedCat("rename_basic")
    val path = s"$root/default/t"
    spark.range(1000L).select($"id", ($"id" * 2).as("v"))
      .repartitionByRange(4, $"id")
      .write.format("graft-commit").option("path", path)
      .mode("overwrite").save()
    val m0 = manifest(path)
    spark.sql(s"ALTER TABLE $cat.`default`.t RENAME COLUMN id TO row_id")
    val m1 = manifest(path)
    assert(m1.files == m0.files && m1.commit == m0.commit + 1,
      "rename must carry every file verbatim in one commit")
    assert(m1.schemaLog ==
      Seq(sources.CommitSink.RenameEvt("id", "row_id", m1.commit)))
    def read() = spark.read.format("graft-commit").option("path", path).load()
    // old bytes surface under the new name
    assert(read().agg(sum($"row_id")).head().getLong(0) == (0L until 1000L).sum)
    // zone maps remap: the 4 range files still prune on the new name
    assert(sources.CommitScan.plannedPartitions(read().filter($"row_id" >= 0L && $"row_id" < 100L)).size == 1)
    // column pruning still reaches the renamed chunk (projection-only read)
    assert(read().select($"row_id").filter($"row_id" === 7L).count() == 1L)
    // time travel keeps each version's own shape
    val old = spark.read.format("graft-commit").option("path", path)
      .option("versionAsOf", m0.commit).load()
    assert(old.columns.toSeq == Seq("id", "v"))
    assert(old.agg(sum($"id")).head().getLong(0) == (0L until 1000L).sum)
  }

  test("o48: chains and name reuse resolve newest-first; appends mix shapes") {
    val (cat, root) = scopedCat("rename_chain")
    val path = s"$root/default/t"
    spark.range(100L).select($"id".as("a"), ($"id" + 1000).as("c"))
      .write.format("graft-commit").option("path", path)
      .mode("overwrite").save()
    // a -> b, then c -> a (reusing the freed name): an original file's
    // current 'b' is physical 'a' and current 'a' is physical 'c'
    spark.sql(s"ALTER TABLE $cat.`default`.t RENAME COLUMN a TO b")
    spark.sql(s"ALTER TABLE $cat.`default`.t RENAME COLUMN c TO a")
    val log = manifest(path).schemaLog
    assert(sources.CommitSink.physNamesFor(log, 0L, Seq("a", "b")) ==
      Map("a" -> "c", "b" -> "a"))
    // append under the CURRENT names; both shapes read consistently
    spark.range(100L, 200L).select($"id".as("b"), ($"id" + 1000).as("a"))
      .write.format("graft-commit").option("path", path).mode("append").save()
    val back = spark.read.format("graft-commit").option("path", path).load()
    assert(back.agg(sum($"b")).head().getLong(0) == (0L until 200L).sum)
    assert(back.agg(sum($"a")).head().getLong(0) == (0L until 200L).map(_ + 1000).sum)
  }

  test("o48: DML (UPDATE / DELETE) runs over mixed pre/post-rename files") {
    val (cat, root) = scopedCat("rename_dml")
    val path = s"$root/default/t"
    spark.range(100L).select($"id", ($"id" * 10).as("v"))
      .write.format("graft-commit").option("path", path)
      .mode("overwrite").save()
    spark.sql(s"ALTER TABLE $cat.`default`.t RENAME COLUMN v TO amount")
    spark.range(100L, 200L).select($"id", ($"id" * 10).as("amount"))
      .write.format("graft-commit").option("path", path).mode("append").save()
    // row-level UPDATE across both shapes (modulo predicate: the
    // untranslatable path — the group copy-on-write rewrite)
    spark.sql(s"UPDATE $cat.`default`.t SET amount = amount + 1 WHERE id % 2 = 0")
    val afterUpdate = spark.read.format("graft-commit").option("path", path).load()
    val expected = (0L until 200L).map(i => i * 10 + (if (i % 2 == 0) 1 else 0)).sum
    assert(afterUpdate.agg(sum($"amount")).head().getLong(0) == expected)
    // DELETE names only the renamed column
    spark.sql(s"DELETE FROM $cat.`default`.t WHERE amount > 1500")
    val afterDelete = spark.read.format("graft-commit").option("path", path).load()
    assert(afterDelete.filter($"amount" > 1500).count() == 0L)
    assert(afterDelete.count() ==
      (0L until 200L).count(i => i * 10 + (if (i % 2 == 0) 1 else 0) <= 1500))
  }

  test("o48: a DataFrame analysed before a RENAME reads its analysed version") {
    val (cat, root) = scopedCat("rename_tear")
    val path = s"$root/default/t"
    spark.range(100L).select($"id".as("a"), ($"id" * 2).as("v"))
      .write.format("graft-commit").option("path", path)
      .mode("overwrite").save()
    // analysed against (a, v); the scan is built only at collect()
    val byCatalog = spark.table(s"$cat.`default`.t").select($"a")
    val byPath = spark.read.format("graft-commit").option("path", path)
      .load().select($"a")
    spark.sql(s"ALTER TABLE $cat.`default`.t RENAME COLUMN a TO b")
    // the rename committed between analysis and scan: each DataFrame
    // still reads the version it was analysed against, never a torn mix
    // of the old plan and the new schema
    assert(byCatalog.collect().map(_.getLong(0)).sorted.toSeq == (0L until 100L))
    assert(byPath.collect().map(_.getLong(0)).sorted.toSeq == (0L until 100L))
    // a new load sees the rename
    assert(spark.table(s"$cat.`default`.t").columns.toSeq == Seq("b", "v"))
    assert(spark.table(s"$cat.`default`.t").agg(sum($"b")).head().getLong(0) ==
      (0L until 100L).sum)
  }

  test("a DataFrame reused across an append answers every action from one version") {
    val (cat, root) = scopedCat("reuse")
    val path = s"$root/default/t"
    spark.range(10L).select($"id")
      .write.format("graft-commit").option("path", path)
      .mode("overwrite").save()
    val df = spark.table(s"$cat.`default`.t")
    assert(df.collect().length == 10)
    spark.range(10L, 15L).select($"id")
      .write.format("graft-commit").option("path", path)
      .mode("append").save()
    // count() plans a new query over the same analysed table; collect()
    // reuses the executed plan — both answer from the analysed version
    assert(df.count() == df.collect().length.toLong)
    assert(df.count() == 10L)
    assert(spark.table(s"$cat.`default`.t").count() == 15L)
  }

  test("o48: refusal matrix — live eq-delete key, existing target") {
    val (cat, root) = scopedCat("rename_refuse")
    // (r19 lifted the partition-source refusal: the rename rewrites the
    // spec's source reference in the same commit — Round19Spec pins
    // pruning/grouping/$partitions surviving it. DROP of a spec source
    // still refuses.)
    spark.sql(s"CREATE TABLE $cat.`default`.p (ts TIMESTAMP_NTZ, v BIGINT) " +
      "USING `graft-commit` PARTITIONED BY (days(ts))")
    val e1 = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.`default`.p DROP COLUMN ts"))
    assert(msgChain(e1).contains("partition spec's source"), msgChain(e1))
    // live equality delete keyed on the column
    val path = s"$root/default/u"
    spark.range(100L).select($"id".as("k"), $"id".as("v"))
      .write.format("graft-commit").option("path", path)
      .mode("overwrite").save()
    spark.range(10L).select($"id".as("k"), ($"id" + 500).as("v"))
      .write.format("graft-commit").option("path", path)
      .option("upsertKeys", "k").mode("append").save()
    assert(manifest(path).eqDeletes.nonEmpty)
    val e2 = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.`default`.u RENAME COLUMN k TO key2"))
    assert(msgChain(e2).contains("equality deletes"), msgChain(e2))
    val e3 = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.`default`.u RENAME COLUMN k TO v"))
    assert(msgChain(e3).contains("already exists"), msgChain(e3))
  }

  test("o48/advice: ADD refuses names committed bytes may carry; rewrite lifts it") {
    val (cat, root) = scopedCat("add_tombstone")
    val path = s"$root/default/t"
    spark.range(100L).select($"id", ($"id" * 2).as("dead"), ($"id" * 3).as("old"))
      .write.format("graft-commit").option("path", path)
      .mode("overwrite").save()
    spark.sql(s"ALTER TABLE $cat.`default`.t DROP COLUMN dead")
    spark.sql(s"ALTER TABLE $cat.`default`.t RENAME COLUMN old TO renamed")
    // the r17 ADVICE hole: a by-name re-add of 'dead' would silently
    // resurrect the dropped values from committed files — refuse
    val e1 = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.`default`.t ADD COLUMNS (dead BIGINT)"))
    assert(msgChain(e1).contains("resurrect"), msgChain(e1))
    // same hole through a rename's old name
    val e2 = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.`default`.t ADD COLUMNS (old BIGINT)"))
    assert(msgChain(e2).contains("resurrect"), msgChain(e2))
    // a full rewrite replaces every pre-evolution file: the ledger
    // auto-retires (writeManifest's liveness rule) and the ADD lifts
    sources.CommitSink.compact(spark, path, 2)
    assert(manifest(path).schemaLog.isEmpty,
      "no listed file predates the evolutions — the ledger must retire")
    spark.sql(s"ALTER TABLE $cat.`default`.t ADD COLUMNS (dead BIGINT)")
    val back = spark.read.format("graft-commit").option("path", path).load()
    assert(back.filter($"dead".isNotNull).count() == 0L,
      "the re-added column is fresh: NULL everywhere, never old bytes")
  }

  test("o48: the change feed decodes pre-rename files under current names") {
    val (cat, root) = scopedCat("rename_cdf")
    val path = s"$root/default/t"
    spark.range(10L).select($"id", ($"id" * 2).as("v"))
      .write.format("graft-commit").option("path", path)
      .mode("overwrite").save()
    spark.sql(s"ALTER TABLE $cat.`default`.t RENAME COLUMN v TO w")
    spark.range(10L, 20L).select($"id", ($"id" * 2).as("w"))
      .write.format("graft-commit").option("path", path).mode("append").save()
    val feed = spark.read.format("graft-commit").option("path", path)
      .option("readChangeFeed", true).option("startingVersion", 0).load()
    // commit-0 rows (pre-rename bytes) must carry their values under
    // the CURRENT name, not silent nulls
    assert(feed.filter($"_commit_version" === 0 && $"w".isNull).count() == 0L)
    assert(feed.filter($"_change_type" === "insert")
      .agg(sum($"w")).head().getLong(0) == (0L until 20L).map(_ * 2).sum)
  }

  // --- o49: TIMESTAMP AS OF -------------------------------------------------

  test("o49: newest-at-or-before resolution; staged and branch versions excluded") {
    import sources.CommitSink
    val path = freshDir("ts_travel")
    CommitSink.withClock(() => 10000L) {
      spark.range(10L).select($"id").write.format("graft-commit")
        .option("path", path)
        .mode("overwrite").save()
    }
    CommitSink.withClock(() => 20000L) {
      spark.range(10L, 30L).select($"id").write.format("graft-commit")
        .option("path", path).mode("append").save()
    }
    // a STAGED (WAP) version and a BRANCH commit land with later clocks:
    // neither is main history, so neither resolves
    CommitSink.withClock(() => 30000L) {
      spark.range(900L, 910L).select($"id").write.format("graft-commit")
        .option("path", path).option("stageOnly", true).mode("append").save()
      CommitSink.createBranch(path, "exp", 1L)
      spark.range(800L, 810L).select($"id").write.format("graft-commit")
        .option("path", path).option("branch", "exp").mode("append").save()
    }
    def rowsAt(t: String): Long = spark.read.format("graft-commit")
      .option("path", path).option("timestampAsOf", t).load().count()
    assert(rowsAt("10000") == 10L)      // boundary-exact (<=)
    assert(rowsAt("15000") == 10L)      // between commits -> earlier
    assert(rowsAt("20000") == 30L)
    assert(rowsAt("999999999") == 30L)  // far future: staged/branch invisible
    assert(rowsAt("1970-01-01T00:00:15") == 10L) // ISO form
    val e = intercept[IllegalArgumentException](rowsAt("5000"))
    assert(e.getMessage.contains("committed at or before"))
    // mutual exclusion with versionAsOf
    val e2 = intercept[Exception](spark.read.format("graft-commit")
      .option("path", path).option("versionAsOf", 0)
      .option("timestampAsOf", "15000").load())
    assert(msgChain(e2).nonEmpty)
  }

  test("o49: metadata tables compose with timestampAsOf; catalog SQL resolves") {
    import sources.CommitSink
    val (cat, root) = scopedCat("ts_meta")
    val path = s"$root/default/t"
    CommitSink.withClock(() => 1000L) {
      spark.range(5L).select($"id").createOrReplaceTempView("r18_ts_src1")
      spark.sql(s"CREATE TABLE $cat.`default`.t (id BIGINT) USING `graft-commit`")
      spark.sql(s"INSERT INTO $cat.`default`.t SELECT * FROM r18_ts_src1")
    }
    CommitSink.withClock(() => 2000L) {
      spark.range(5L, 20L).select($"id").createOrReplaceTempView("r18_ts_src2")
      spark.sql(s"INSERT INTO $cat.`default`.t SELECT * FROM r18_ts_src2")
    }
    // SQL surface (session tz is UTC): micros through the analyzer
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`default`.t " +
      "TIMESTAMP AS OF TIMESTAMP'1970-01-01 00:00:01.5'").head().getLong(0) == 5L)
    // the $files inventory of the as-of version
    val metaRows = spark.read.format("graft-commit").option("path", path)
      .option("metaTable", "files").option("timestampAsOf", "1500").load()
      .agg(sum($"rows")).head().getLong(0)
    assert(metaRows == 5L)
  }

  test("o49: the change feed bounds by wall time (starting/endingTimestamp)") {
    import sources.CommitSink
    val path = freshDir("ts_cdf")
    CommitSink.withClock(() => 1000L) {
      spark.range(10L).select($"id").write.format("graft-commit")
        .option("path", path)
        .mode("overwrite").save()
    }
    CommitSink.withClock(() => 2000L) {
      spark.range(10L, 30L).select($"id").write.format("graft-commit")
        .option("path", path).mode("append").save()
    }
    CommitSink.withClock(() => 3000L) {
      spark.range(30L, 60L).select($"id").write.format("graft-commit")
        .option("path", path).mode("append").save()
    }
    def feed(opts: (String, String)*): org.apache.spark.sql.DataFrame = {
      val r = spark.read.format("graft-commit").option("path", path)
        .option("readChangeFeed", true)
      opts.foldLeft(r)((b, kv) => b.option(kv._1, kv._2)).load()
    }
    // "changes since t=1500": first commit at-or-after = v1 -> 20+30 rows
    assert(feed("startingTimestamp" -> "1500").count() == 50L)
    // bounded both ends by time: exactly the middle commit
    assert(feed("startingTimestamp" -> "1500",
      "endingTimestamp" -> "2500").count() == 20L)
    // a start past the newest commit refuses — nothing to stream
    val e = intercept[IllegalArgumentException](
      feed("startingTimestamp" -> "99999").count())
    assert(e.getMessage.contains("at or after"))
    // one form per bound
    val e2 = intercept[IllegalArgumentException](
      feed("startingVersion" -> "1", "startingTimestamp" -> "1500").count())
    assert(e2.getMessage.contains("mutually exclusive"))
  }

  test("o49: age-based snapshot expiry drops stale main versions, honors roots") {
    import sources.CommitSink
    val path = freshDir("ts_expire")
    CommitSink.withClock(() => 1000L) {
      spark.range(10L).select($"id").write.format("graft-commit")
        .option("path", path)
        .mode("overwrite").save()
    }
    CommitSink.withClock(() => 2000L) {
      spark.range(10L, 20L).select($"id").write.format("graft-commit")
        .option("path", path).mode("append").save()
    }
    CommitSink.withClock(() => 3000L) {
      spark.range(20L, 30L).select($"id").write.format("graft-commit")
        .option("path", path).mode("append").save()
    }
    CommitSink.createTag(path, "audit", 0L) // a tag is a retention root
    val (dropped, _) = CommitSink.expireVersionsOlderThan(path, 2500L)
    // v0 tagged (kept despite age 1000), v1 stale (2000 < 2500) and
    // unprotected -> dropped, v2 young (3000) kept
    assert(dropped == Seq(1L), s"dropped: $dropped")
    assert(CommitSink.listVersions(Paths.get(path)) == Seq(0L, 2L))
    // the table still reads whole; the stale version is gone
    assert(CommitSink.readCommitted(spark, path).count() == 30L)
    intercept[IllegalArgumentException] {
      spark.read.format("graft-commit").option("path", path)
        .option("versionAsOf", 1).load().count()
    }
    // keepLast floors the expiry: even "everything is stale" keeps the tail
    val (dropped2, _) = CommitSink.expireVersionsOlderThan(path, 999999L, keepLast = 1)
    assert(CommitSink.listVersions(Paths.get(path)).contains(2L), s"d2: $dropped2")
  }

  test("o50: zone-map min/max surface as attribute stats under full coverage") {
    val path = freshDir("ndv_minmax")
    spark.range(100L, 600L).select($"id", ($"id" % 7).as("k"),
        ($"id" / 10.0).as("x"))
      .write.format("graft-commit").option("path", path)
      .option("ndvColumns", "k")
      .mode("overwrite").save()
    withConf("spark.sql.cbo.enabled", "true") {
      val stats = spark.read.format("graft-commit").option("path", path).load()
        .queryExecution.optimizedPlan.stats.attributeStats
      def statOf(c: String) = stats.collectFirst {
        case (a, s) if a.name == c => s
      }.getOrElse(fail(s"no attribute stats for $c: $stats"))
      // min/max come straight from the zone maps, typed as the column
      val id = statOf("id")
      assert(id.min.contains(100L) && id.max.contains(599L), id.toString)
      assert(id.distinctCount.isEmpty, "id was not sketched: ndv must stay absent")
      val k = statOf("k")
      assert(k.min.contains(0L) && k.max.contains(6L) &&
        k.distinctCount.exists(_.toLong == 7L), k.toString)
      val x = statOf("x")
      assert(x.min.contains(10.0) && x.max.contains(59.9), x.toString)
    }
  }

  // --- multi-transform cluster rewrite + compactDeletes ----------------------

  /** (days × bucket) fixture: 2 days × 4 raw keys (2 buckets), v dense. */
  private def multiTable(tag: String): (String, String, String) = {
    val (cat, root) = scopedCat(tag)
    val path = s"$root/default/t"
    spark.sql(s"CREATE TABLE $cat.`default`.t (ts TIMESTAMP_NTZ, k BIGINT, v BIGINT) " +
      "USING `graft-commit` PARTITIONED BY (days(ts), bucket(2, k))")
    spark.range(2000L).select(
        (lit(java.time.LocalDateTime.of(2003, 3, 1, 0, 0)) +
          expr("make_interval(0, 0, 0, 0, 0, 0, id * 80)")).as("ts"),
        ($"id" % 4).as("k"), $"id".as("v"))
      .createOrReplaceTempView(s"r18_${tag}_src")
    spark.sql(s"INSERT INTO $cat.`default`.t SELECT * FROM r18_${tag}_src")
    (cat, root, path)
  }

  test("multi cluster rewrite: one composite key per file, disjoint secondary slices") {
    val (_, _, path) = multiTable("multi_cluster")
    val rewritten = sources.CommitSink.compactAndCluster(spark, path, 12, Seq("v"))
    assert(rewritten.nonEmpty)
    val m = manifest(path)
    def stat(f: String) = sources.CommitSink.FileStat.decode(m.stats(f))
    // every file: full composite key vector (SPJ grouping survives)
    assert(m.files.nonEmpty && m.files.forall(f => stat(f).pks.size == 2))
    // within each composite key: v slices pairwise disjoint AND at
    // least one key split into several files (the o39 split shape)
    val byKey = m.files.groupBy(f => stat(f).pks)
    assert(byKey.exists(_._2.size >= 2), s"no key split: ${byKey.view.mapValues(_.size).toMap}")
    byKey.values.foreach { fs =>
      val ranges = fs.map(stat).flatMap(_.cols.get("v"))
        .map(r => (r.min.toLong, r.max.toLong)).sortBy(_._1)
      ranges.sliding(2).foreach {
        case Seq((_, hi), (lo, _)) => assert(hi < lo, s"overlap: $ranges")
        case _ => ()
      }
    }
    // the secondary slices PRUNE within a (day, key) point — the whole
    // point of the rewrite: day + k point + narrow v range opens 1 file
    // (multi layouts plan one PARTITION per composite key, so count the
    // FILES inside the planned partitions, not the partitions)
    def plannedDataFiles(df: org.apache.spark.sql.DataFrame): Int =
      sources.CommitScan.plannedPartitions(df).map {
        case p: sources.CommitFilesPartition => p.files.size
        case p: sources.CommitKeyedFilesPartition => p.files.size
        case _ => 0
      }.sum
    def read() = spark.read.format("graft-commit").option("path", path).load()
    val day = java.time.LocalDateTime.of(2003, 3, 1, 0, 0)
    val target = read().filter($"ts" >= lit(day) &&
      $"ts" < lit(day.plusDays(1)) && $"k" === 0L)
    val allKeyFiles = plannedDataFiles(target)
    val narrow = plannedDataFiles(target.filter($"v" >= 0L && $"v" < 40L))
    assert(allKeyFiles >= 2 && narrow == 1,
      s"v-slice must prune within the composite key ($allKeyFiles -> $narrow)")
    // content untouched
    assert(read().agg(sum($"v")).head().getLong(0) == (0L until 2000L).sum)
  }

  test("advice fix: compactDeletes pre-shapes multi-transform layouts") {
    val (cat, _, path) = multiTable("multi_cdel")
    withConf("spark.graft.commit.deleteMode", "merge-on-read") {
      // kill most of day 1 (ids 0..1079 = ts < day2): vector-dense files
      spark.sql(s"DELETE FROM $cat.`default`.t WHERE v < 1000")
    }
    val before = manifest(path)
    assert(before.deletes.nonEmpty, "the fixture needs live vectors")
    val rewritten = sources.CommitSink.compactDeletes(spark, path, 0.5)
    assert(rewritten.nonEmpty, "dense vectors must qualify for rewrite")
    val after = manifest(path)
    def stat(f: String) = sources.CommitSink.FileStat.decode(after.stats(f))
    // the rewrite preserved the composite layout: every file keyed
    assert(after.files.forall(f => stat(f).pks.size == 2))
    val back = sources.CommitSink.readCommitted(spark, path)
    assert(back.count() == 1000L)
    assert(back.agg(sum($"v")).head().getLong(0) == (1000L until 2000L).sum)
  }

  // --- keyColOf UTC exactness (r17 ADVICE) -----------------------------------

  test("advice fix: catalyst pre-shape keys are bit-identical to keyOf in any session zone") {
    import sources.CommitSink._
    import org.apache.spark.sql.types._
    // hostile instants: just past/before UTC midnight (a non-UTC
    // session's to_date/year/month would shift them), pre-epoch, and
    // past the double mantissa (FLOOR(x / w) would round)
    val micros = Seq(
      1L,                       // 1970-01-01T00:00:00.000001Z
      -1L,                      // 1969-12-31T23:59:59.999999Z
      86399999999L,             // last micro of day 0
      86400000000L,             // first micro of day 1
      1704067200000001L,        // 2024-01-01T00:00:00.000001Z
      1703980799999999L,        // 2023-12-31T23:59:59.999999Z
      -62135596800000000L)      // year 1
    withConf("spark.sql.session.timeZone", "America/Los_Angeles") {
      val dfLtz = micros.toDF("us").select(timestamp_micros($"us").as("c"), $"us")
      val schemaLtz = StructType.fromDDL("c TIMESTAMP")
      for (spec <- Seq(DaysSpec("c"), HoursSpec("c"), MonthsSpec("c"), YearsSpec("c"))) {
        val got = dfLtz.select(keyColOf(spec, schemaLtz).cast("long"), $"us")
          .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
        micros.foreach(u => assert(got(u) == spec.keyOf(u, TimestampType),
          s"${spec.encode} LTZ mismatch at $u: ${got(u)} vs ${spec.keyOf(u, TimestampType)}"))
      }
      // NTZ: wall-clock micros are the raw value — timezone-free
      val ntzVals = micros.map(u =>
        java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(u, 1000000L),
          (Math.floorMod(u, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC))
      val dfNtz = ntzVals.zip(micros).toDF("c", "us")
      val schemaNtz = StructType.fromDDL("c TIMESTAMP_NTZ")
      for (spec <- Seq(DaysSpec("c"), HoursSpec("c"), MonthsSpec("c"), YearsSpec("c"))) {
        val got = dfNtz.select(keyColOf(spec, schemaNtz).cast("long"), $"us")
          .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
        micros.foreach(u => assert(got(u) == spec.keyOf(u, TimestampNTZType),
          s"${spec.encode} NTZ mismatch at $u"))
      }
      // DATE: epoch days straight through, negatives included
      val days = Seq(-1, 0, 1, 19723)
      val dfDate = days.map(d => java.time.LocalDate.ofEpochDay(d.toLong))
        .zip(days).toDF("c", "d")
      val schemaDate = StructType.fromDDL("c DATE")
      for (spec <- Seq(DaysSpec("c"), MonthsSpec("c"), YearsSpec("c"))) {
        val got = dfDate.select(keyColOf(spec, schemaDate).cast("long"), $"d")
          .collect().map(r => r.getInt(1) -> r.getLong(0)).toMap
        days.foreach(d => assert(got(d) == spec.keyOf(d.toLong, DateType),
          s"${spec.encode} DATE mismatch at $d"))
      }
      // truncate: exact integer floordiv — negatives and the 2^53 edge
      val vals = Seq(-5L, -3L, -1L, 0L, 5L, 9007199254740995L)
      val dfT = vals.toDF("c")
      val schemaT = StructType.fromDDL("c BIGINT")
      for (w <- Seq(2L, 3L)) {
        val spec = TruncateSpec(w, "c")
        val got = dfT.select($"c", keyColOf(spec, schemaT).cast("long"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        vals.foreach(v => assert(got(v) == spec.keyOf(v, LongType),
          s"truncate($w) mismatch at $v: ${got(v)} vs ${spec.keyOf(v, LongType)}"))
      }
    }
  }

  // --- o51: hours transform ---------------------------------------------------

  test("o51: hours ordinal parity, projection algebra, and the DATE refusal") {
    import sources.CommitSink._
    import org.apache.spark.sql.types._
    val spec = HoursSpec("ts")
    assert(spec.keyOf(3600000000L, TimestampType) == 1L)
    assert(spec.keyOf(3599999999L, TimestampType) == 0L)
    assert(spec.keyOf(-1L, TimestampType) == -1L) // pre-epoch floors down
    // monotone projection: range predicates project onto hour intervals
    import org.apache.spark.sql.sources._
    val t0 = java.time.Instant.parse("2024-01-01T12:30:00Z")
    val k = spec.keyOf(t0.getEpochSecond * 1000000L, TimestampType)
    assert(keyIntervalOf(spec, EqualTo("ts", java.sql.Timestamp.from(t0)))
      .contains((k, k)))
    assert(keyIntervalOf(spec, GreaterThan("ts", java.sql.Timestamp.from(t0)))
      .contains((k, Long.MaxValue)))
    // the bound function agrees with keyOf (the o46 composite-SPJ contract)
    val bound = sources.TransformFunctions.hours.bind(
      StructType.fromDDL("ts TIMESTAMP"))
    assert(bound.asInstanceOf[
        org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer]]
      .produceResult(org.apache.spark.sql.catalyst.InternalRow(7200000001L)) == 2)
    // DATE refuses at CREATE (an hour of a DATE is meaningless)
    val (cat, _) = scopedCat("hours_refuse")
    val e = intercept[Exception](
      spark.sql(s"CREATE TABLE $cat.`default`.bad (d DATE, v BIGINT) " +
        "USING `graft-commit` PARTITIONED BY (hours(d))"))
    assert(msgChain(e).contains("TIMESTAMP"), msgChain(e))
  }

  test("o51: hours composes in a multi-transform spec with bucket") {
    val (cat, root) = scopedCat("hours_multi")
    spark.sql(s"CREATE TABLE $cat.`default`.t (ts TIMESTAMP_NTZ, k BIGINT, v BIGINT) " +
      "USING `graft-commit` PARTITIONED BY (hours(ts), bucket(2, k))")
    spark.range(600L).select(
        (lit(java.time.LocalDateTime.of(2004, 7, 1, 0, 0)) +
          expr("make_interval(0, 0, 0, 0, 0, 0, id * 30)")).as("ts"),
        ($"id" % 4).as("k"), $"id".as("v"))
      .createOrReplaceTempView("r18_hours_multi_src")
    spark.sql(s"INSERT INTO $cat.`default`.t SELECT * FROM r18_hours_multi_src")
    val m = manifest(s"$root/default/t")
    def stat(f: String) = sources.CommitSink.FileStat.decode(m.stats(f))
    // 600 rows * 30s = 5 hours x 2 buckets: composite keys on every file
    assert(m.files.forall(f => stat(f).pks.size == 2))
    assert(m.files.map(f => stat(f).pks.head).distinct.sorted ==
      (0L until 5L).map(_ + 302400L), "hour ordinals of 2004-07-01T00..05Z")
    val back = spark.read.format("graft-commit").option("path", s"$root/default/t").load()
    assert(back.count() == 600L)
  }

  // --- branch publish invariants (verdict item 7) ----------------------------

  test("o44 pin: publish is a metadata-only fast-forward — contiguous main, zero re-land, CDF-expressible") {
    import sources.CommitSink
    val path = freshDir("branch_ff")
    spark.range(100L).select($"id").write.format("graft-commit")
      .option("path", path)
      .mode("overwrite").save()
    CommitSink.createBranch(path, "exp", 0L)
    spark.range(100L, 150L).select($"id").write.format("graft-commit")
      .option("path", path).option("branch", "exp").mode("append").save()
    val branchHeadFiles = CommitSink.parseManifestVersion(Paths.get(path),
      CommitSink.branchHead(Paths.get(path), "exp")).files.toSet
    val dataFilesBefore = Paths.get(path).toFile.list().count(_.startsWith("part-"))
    CommitSink.publishBranch(path, "exp")
    // ONE new main commit, contiguous — never a high-range id on main
    val mainVersions = CommitSink.listVersions(Paths.get(path))
      .filter(_ < CommitSink.BRANCH_BASE)
    assert(mainVersions == Seq(0L, 1L), s"main lineage: $mainVersions")
    // zero data movement: the published manifest lists EXACTLY the
    // branch head's file names; no new data file appeared on disk
    val published = CommitSink.parseManifestVersion(Paths.get(path), 1L)
    assert(published.files.toSet == branchHeadFiles)
    val dataFilesAfter = Paths.get(path).toFile.list().count(_.startsWith("part-"))
    assert(dataFilesAfter == dataFilesBefore, "publish must not re-land bytes")
    // the change feed expresses the publish as ordinary inserts
    val feed = spark.read.format("graft-commit").option("path", path)
      .option("readChangeFeed", true)
      .option("startingVersion", 1).option("endingVersion", 1).load()
    assert(feed.filter($"_change_type" === "insert").count() == 50L)
    assert(feed.agg(sum($"id")).head().getLong(0) == (100L until 150L).sum)
  }

  // --- $partitions with stat-less files (r17 ADVICE) -------------------------

  test("advice fix: $partitions counts stat-less files under '(unknown)'") {
    import sources.CommitSink
    val path = freshDir("partitions_unknown")
    spark.range(100L).select(($"id" % 2).as("k"), $"id".as("v"))
      .repartition(2, $"k")
      .write.format("graft-commit").option("path", path)
      .option("partitionBy", "k")
      .mode("overwrite").save()
    val m = manifest(path)
    // strip one file's stats (a legacy/degraded manifest shape)
    val victim = m.files.head
    CommitSink.writeManifest(Paths.get(path), m.ddl, m.files, m.commit + 1,
      m.epochs, expectedPrev = m.commit, partCol = m.partCol,
      stats = m.stats - victim, tableId = m.tableId,
      fileSeq = m.fileSeq)
    val parts = spark.read.format("graft-commit").option("path", path)
      .option("metaTable", "partitions").load().collect()
    assert(parts.map(_.getLong(1)).sum == m.files.size.toLong,
      s"n_files must cover EVERY listed file: ${parts.mkString(", ")}")
    val unknown = parts.find(_.getString(0) == "(unknown)").getOrElse(
      fail(s"no (unknown) row: ${parts.mkString(", ")}"))
    assert(unknown.isNullAt(2) && unknown.isNullAt(3),
      "stat-less rows/bytes are UNKNOWN, not zero")
  }

  // --- o50: NDV sketches -> CBO ----------------------------------------------

  test("o50: the scan reports distinctCount only under FULL sketch coverage") {
    val path = freshDir("ndv_coverage")
    spark.range(1000L).select($"id", ($"id" % 7).as("k"))
      .write.format("graft-commit").option("path", path)
      .option("ndvColumns", "id,k")
      .mode("overwrite").save()
    def attrNdv(c: String): Option[Long] = withConf("spark.sql.cbo.enabled", "true") {
      spark.read.format("graft-commit").option("path", path).load()
        .queryExecution.optimizedPlan.stats.attributeStats.collectFirst {
          case (a, s) if a.name == c && s.distinctCount.isDefined =>
            s.distinctCount.get.toLong
        }
    }
    assert(attrNdv("id").contains(1000L), "HLL exact below the coupon threshold")
    assert(attrNdv("k").contains(7L))
    // an un-sketched append breaks full coverage: the column must STOP
    // reporting (a partial union would underestimate)
    spark.range(1000L, 1100L).select($"id", ($"id" % 7).as("k"))
      .write.format("graft-commit").option("path", path).mode("append").save()
    assert(attrNdv("id").isEmpty && attrNdv("k").isEmpty)
    // re-analyze covers the new file; the estimate reflects ALL files
    sources.CommitSink.analyzeNdv(spark, path, Seq("id", "k"))
    assert(attrNdv("id").contains(1100L))
    assert(attrNdv("k").contains(7L))
  }

  test("o50: the broadcast decision flips with the sketches present vs absent") {
    // the 100 TB shape size alone gets wrong: a point predicate on a
    // high-cardinality key selects ~1/NDV of the fact table, so the
    // filtered side is broadcastable — but only a cardinality estimate
    // can SAY so at planning. With the manifest's NDV sketch under CBO,
    // FilterEstimation prices `k1 = c` at rows/NDV ≈ 1 row and the join
    // broadcasts the filtered fact; with the sketch absent the same
    // query (same confs) keeps the unfiltered size and sort-merges.
    // The probe side is row-count-heavy so CBO's default row widths
    // cannot sneak it under the threshold either way.
    val base = freshDir("ndv_bcast")
    def write(path: String, df: org.apache.spark.sql.DataFrame,
              ndv: Seq[String]): Unit = {
      val w = df.write.format("graft-commit").option("path", path)
      (if (ndv.nonEmpty) w.option("ndvColumns", ndv.mkString(",")) else w)
        .mode("overwrite").save()
    }
    var lastPlan = ""
    def broadcasts(tag: String, ndv: Boolean): Boolean = {
      val fact = s"$base/fact_$tag"; val b = s"$base/b_$tag"
      // row counts sized so CBO's rowCount × default-width re-pricing
      // keeps every UNfiltered side above the threshold (zone maps
      // already prune the point scan to one file — the flip must come
      // from the 1/NDV row estimate, not from file skipping)
      write(fact, spark.range(200000L).select($"id".as("k1"), ($"id" % 5).as("k2"),
        ($"id" * 3).as("v")), if (ndv) Seq("k1") else Seq.empty)
      write(b, spark.range(50000L).select(($"id" % 5).as("k2"), $"id".as("w")),
        Seq.empty)
      def t(p: String) = spark.read.format("graft-commit").option("path", p).load()
      withConf("spark.sql.cbo.enabled", "true") {
        withConf("spark.sql.autoBroadcastJoinThreshold", (300 * 1024).toString) {
          withConf("spark.sql.adaptive.enabled", "false") { // static planning only
            val q = t(fact).filter($"k1" === 777L).join(t(b), "k2")
            lastPlan = q.queryExecution.executedPlan.toString
            lastPlan.contains("BroadcastHashJoin")
          }
        }
      }
    }
    assert(broadcasts("with", ndv = true),
      s"the 1/NDV-priced point filter must broadcast the fact side\n$lastPlan")
    assert(!broadcasts("without", ndv = false),
      s"without the sketch the filter is opaque: sort-merge\n$lastPlan")
  }
}
