package graft

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 hardening wave on the commit sink — the contracts this round
  * added or tightened:
  *
  *  - '''Group-granular copy-on-write''' (the r11 scale-killer closed):
  *    a row-level rewrite replaces ONLY the files its scan planned and
  *    carries every untouched file forward in the manifest — so zone-map
  *    pruning of the pushed DML condition is safe by construction, and a
  *    selective UPDATE on a 4-file table rewrites exactly 1 file.
  *  - '''Planning-time CAS''': the rewrite commit compares against the
  *    manifest its SCAN was planned on, so a commit landing mid-job
  *    hard-fails the swap instead of being silently truncated away
  *    (compaction included).
  *  - '''Append CAS-retry''': two concurrent appenders BOTH land — the
  *    loser re-reads the winner's manifest and re-swaps on top of it
  *    (attempt-unique promoted names make the retry file-touch-free).
  *  - '''Generation hard error''': a checkpointed offset with no
  *    generation on a generation-tracked table is refused, not waived.
  *  - '''Catalog path containment''': identifier segments that are path
  *    syntax ('/', '..') are rejected before resolving under root.
  */
class Round12Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = s"/tmp/graft_r12_spec/$tag"
    Tables.deleteRecursively(d)
    d
  }

  private def fixture(n: Int): DataFrame =
    spark.range(n.toLong).select(
      $"id",
      (($"id" * 7 % 1000) / 10.0).as("score"))

  private def manifest(path: String) =
    sources.CommitSink.parseManifest(Paths.get(path)).get

  private def withCatalog(tag: String): (String, String) = {
    val root = freshDir(s"catalog_$tag")
    val cat = s"graft_r12_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CommitCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  // --- group-granular DML rewrite -----------------------------------------

  test("a selective UPDATE rewrites exactly the matching file and carries the rest") {
    val (cat, root) = withCatalog("cow_update")
    val path = s"$root/default/t"
    fixture(1000)
      .repartitionByRange(4, $"id") // 4 files with DISJOINT id ranges
      .write.format("graft-commit").option("path", path).mode("overwrite").save()
    val before = manifest(path)
    assert(before.files.size == 4)
    spark.sql(s"UPDATE $cat.`default`.t SET score = score + 1000.0 WHERE id < 40")
    val after = manifest(path)
    val carried = after.files.toSet.intersect(before.files.toSet)
    assert(carried.size == 3,
      s"3 of the 4 zone-mapped files must be CARRIED untouched, got " +
        s"${carried.size} (before=${before.files}, after=${after.files})")
    assert((after.files.toSet -- before.files.toSet).size == 1,
      "the one matching file is replaced by exactly one rewritten file")
    // carried files keep their stats verbatim
    carried.foreach(f => assert(after.stats(f) == before.stats(f)))
    // and values are exact: 40 updated rows, 960 untouched
    val back = sources.CommitSink.readCommitted(spark, path)
    assert(back.count() == 1000L)
    assert(back.filter($"score" >= 1000.0).count() == 40L)
    assert(back.filter($"id" >= 40L && $"score" >= 1000.0).count() == 0L)
  }

  test("a selective UPDATE on a PARTITIONED table carries the other keys' files") {
    val (cat, root) = withCatalog("cow_part")
    val path = s"$root/default/t"
    spark.range(1000L).select($"id", ($"id" % 8).as("k"),
        (($"id" * 7 % 1000) / 10.0).as("score"))
      .write.format("graft-commit").option("path", path)
      .option("partitionBy", "k").mode("overwrite").save()
    val before = manifest(path)
    assert(before.partCol.contains("k") && before.files.size >= 8)
    spark.sql(s"UPDATE $cat.`default`.t SET score = score + 1000.0 WHERE k = 3")
    val after = manifest(path)
    assert(after.partCol.contains("k"), "DML preserves the partition layout")
    // every key != 3 file is carried; only key 3's file(s) are replaced
    val k3Before = before.files.filter(f =>
      sources.CommitSink.FileStat.decode(before.stats(f)).pk.contains(3L)).toSet
    assert(k3Before.nonEmpty)
    assert(before.files.toSet -- after.files.toSet == k3Before,
      "exactly the matched partition key's files are replaced")
    val back = sources.CommitSink.readCommitted(spark, path)
    assert(back.count() == 1000L)
    assert(back.filter($"score" >= 1000.0).count() == 125L)
    assert(back.filter($"k" =!= 3L && $"score" >= 1000.0).count() == 0L)
  }

  test("metadata DELETE carries files the zone maps prove unmatched") {
    val (cat, root) = withCatalog("cow_delete")
    val path = s"$root/default/t"
    fixture(1000).repartitionByRange(4, $"id")
      .write.format("graft-commit").option("path", path).mode("overwrite").save()
    val before = manifest(path)
    spark.sql(s"DELETE FROM $cat.`default`.t WHERE id < 40")
    val after = manifest(path)
    assert(after.files.toSet.intersect(before.files.toSet).size == 3,
      "the delete must carry the 3 files whose id ranges cannot match")
    assert(sources.CommitSink.readCommitted(spark, path).count() == 960L)
    // a provably-unmatched delete is a NO-OP: no new version at all
    val v = after.commit
    spark.sql(s"DELETE FROM $cat.`default`.t WHERE id < 0")
    assert(manifest(path).commit == v,
      "a delete the zone maps prove matches nothing must not commit")
  }

  test("the rewrite CARRIES the streaming-epoch ledger (truncate resets it)") {
    val dir = freshDir("epochs")
    val ck = freshDir("epochs_ck")
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Long]
    in.addData(1L, 2L, 3L)
    val q = in.toDF().select($"value".as("id"), ($"value" * 1.0).as("score"))
      .writeStream.format("graft-commit").option("path", dir)
      .option("checkpointLocation", ck).start()
    q.processAllAvailable(); q.stop()
    val epochsBefore = manifest(dir).epochs
    assert(epochsBefore.nonEmpty, "the stream must have recorded its epoch")
    sources.CommitSink.compact(spark, dir, 1)
    assert(manifest(dir).epochs == epochsBefore,
      "a group rewrite must carry the epoch ledger — content lineage is " +
        "continuous, so a re-delivered micro-batch must still be dropped")
    fixture(5).write.format("graft-commit").option("path", dir)
      .mode("overwrite").save()
    assert(manifest(dir).epochs.isEmpty, "truncate starts a new lineage")
  }

  // --- planning-time CAS ----------------------------------------------------

  test("a commit landing mid-compaction fails the compaction's swap") {
    val dir = freshDir("compact_race")
    fixture(100).repartition(3)
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    val m = manifest(dir)
    // simulate "a commit landed while the compaction job ran": register
    // the rewrite against the CURRENT manifest, then land another commit
    // before the rewrite write executes
    val token = sources.CommitSink.registerRewrite(
      sources.CommitSink.DmlRewrite(m, () => m.files.toSet))
    fixture(150).filter($"id" >= 100L)
      .write.format("graft-commit").option("path", dir).mode("append").save()
    val e = intercept[Exception] {
      sources.CommitSink.readManifestFiles(spark, dir, m)
        .write.format("graft-commit").option("path", dir)
        .option("rewriteToken", token).mode("overwrite").save()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("concurrent writer")),
      s"the stale rewrite must fail the CAS, got: ${e.getMessage}")
    // the interleaved append's rows are intact
    assert(sources.CommitSink.readCommitted(spark, dir).count() == 150L,
      "the mid-job commit's rows must never be truncated away")
  }

  // --- append CAS-retry -------------------------------------------------------

  test("two concurrent appenders both land (loser retries on the winner's manifest)") {
    val dir = freshDir("append_race")
    fixture(10).write.format("graft-commit").option("path", dir)
      .mode("overwrite").save()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 3).map { i =>
      new Thread(() => {
        try fixture(40 * (i + 2)).filter($"id" >= (40 * (i + 1)).toLong)
          .write.format("graft-commit").option("path", dir).mode("append").save()
        catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"every appender must land: ${errs.asScala().map(_.getMessage)}")
    val back = sources.CommitSink.readCommitted(spark, dir)
    // 10 base + 3 disjoint appends of 40 each
    assert(back.count() == 130L, "all three appends' rows must be present")
    assert(back.select($"id").distinct().count() == 130L)
    // one commit per writer: the ledger advanced three times past the base
    assert(manifest(dir).commit == 3L)
  }

  // --- o21: the _file metadata column + MERGE runtime group filtering ---------

  test("o21: _file maps every row to its committed file, exactly per manifest stats") {
    val dir = freshDir("file_meta")
    fixture(1000).repartitionByRange(4, $"id")
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    val m = manifest(dir)
    val perFile = spark.read.format("graft-commit").option("path", dir).load()
      .groupBy(col("_file")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = m.files.map(f =>
      f -> sources.CommitSink.FileStat.decode(m.stats(f)).rows).toMap
    assert(perFile == expected,
      "per-_file row counts must equal the manifest's per-file stats")
    // SELECT * must NOT include the metadata column
    assert(!spark.read.format("graft-commit").option("path", dir).load()
      .columns.contains("_file"))
  }

  test("o21: MERGE runtime group filtering replaces only the matched files") {
    val (cat, root) = withCatalog("merge_prune")
    val path = s"$root/default/t"
    fixture(1000).repartitionByRange(4, $"id")
      .write.format("graft-commit").option("path", path).mode("overwrite").save()
    val before = manifest(path)
    assert(before.files.size == 4)
    // the MERGE's ON condition references the SOURCE, so no STATIC prune
    // is possible — only the runtime matching-groups subquery (keyed on
    // the _file metadata column) can discover that all matched ids live
    // in one file
    spark.range(10L).select($"id").createOrReplaceTempView("mp_src")
    spark.sql(s"""MERGE INTO $cat.`default`.t t USING mp_src s ON t.id = s.id
                  WHEN MATCHED THEN UPDATE SET score = t.score + 5000.0""")
    val after = manifest(path)
    assert(after.files.toSet.intersect(before.files.toSet).size == 3,
      s"the 3 unmatched files must be CARRIED (runtime group filtering); " +
        s"before=${before.files}, after=${after.files}")
    val back = sources.CommitSink.readCommitted(spark, path)
    assert(back.count() == 1000L, "no rows lost")
    assert(back.filter($"score" >= 5000.0).count() == 10L)
    assert(back.filter($"id" >= 10L && $"score" >= 5000.0).count() == 0L)
  }

  // --- d33: recovery after a mid-stream rewrite --------------------------------

  test("d33: refusal + snapshot re-bootstrap + idempotent write equals d22 exactly") {
    val recovered = ext.Dedup.d33StreamDedupRecovery(spark, TestSpark.sf0001)
    val oneShot = ext.Dedup.d22IncrementalScale(spark, TestSpark.sf0001)
    assert(recovered.count() == oneShot.count() && recovered.count() > 0)
    assert(recovered.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(recovered).count() == 0,
      "recovery after a mid-stream compaction must lose nothing and " +
        "duplicate nothing: the decision set is d22's one-shot answer")
    // the decisions landed in exactly 2 commits: wave 1 before the lag,
    // the recovery batch after (the stale-checkpoint attempt lands NONE).
    // Since r13 the entry sweeps its scratch tables before returning, so
    // the commit-count proof is a require INSIDE d33StreamDedupRecovery
    // (checked before the sweep) — reaching this line means it held.
  }

  test("truncate leaves unreferenced data files alone (concurrent-append safety)") {
    // a data file referenced by NO manifest may be another writer's
    // promoted-but-not-yet-committed output (appends promote BEFORE the
    // CAS) — a commit-time sweep would delete it out from under that
    // writer's CAS-retry; cleanup belongs to snapshot expiry
    val dir = freshDir("no_sweep")
    fixture(100).write.format("graft-commit").option("path", dir)
      .mode("overwrite").save()
    val stray = Paths.get(dir, "part-c00099-deadbeef-00000.json")
    java.nio.file.Files.writeString(stray, "{\"id\":1,\"score\":2.0}\n")
    fixture(50).write.format("graft-commit").option("path", dir)
      .mode("overwrite").save()
    assert(java.nio.file.Files.exists(stray),
      "truncate must not delete files it cannot prove are garbage")
    // reads never see it (the manifest defines the table) ...
    assert(sources.CommitSink.readCommitted(spark, dir).count() == 50L)
    // ... snapshot EXPIRY leaves it too (it may be an in-flight writer's
    // output — expiry deletes only dropped-version-referenced files) ...
    sources.CommitSink.expireVersions(dir, keepLast = 1)
    assert(java.nio.file.Files.exists(stray),
      "expiry must not delete never-referenced files")
    // ... within the orphan grace window it is still protected ...
    assert(sources.CommitSink.removeOrphanFiles(dir).isEmpty)
    assert(java.nio.file.Files.exists(stray))
    // ... and past the grace, orphan cleanup GC's it
    assert(sources.CommitSink.removeOrphanFiles(dir, graceMs = 0L) ==
      Seq(stray.getFileName.toString))
    assert(!java.nio.file.Files.exists(stray))
  }

  test("eight concurrent appenders across two tables: every row lands exactly once") {
    // the full concurrent-append contract under real contention: unique
    // nonce names + per-write staging + atomic CAS + bounded retry must
    // compose to zero loss and zero duplication, for any interleaving
    val dirA = freshDir("stress_a"); val dirB = freshDir("stress_b")
    fixture(0).write.format("graft-commit").option("path", dirA).mode("overwrite").save()
    fixture(0).write.format("graft-commit").option("path", dirB).mode("overwrite").save()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 8).map { i =>
      val dir = if (i % 2 == 0) dirA else dirB
      new Thread(() => {
        try spark.range(i * 100L, i * 100L + 100L)
          .select($"id", (($"id" * 7 % 1000) / 10.0).as("score"))
          .write.format("graft-commit").option("path", dir).mode("append").save()
        catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty,
      s"every appender must land within the retry budget: ${errs.asScala().map(_.getMessage)}")
    val a = sources.CommitSink.readCommitted(spark, dirA)
    val b = sources.CommitSink.readCommitted(spark, dirB)
    assert(a.count() == 400L && b.count() == 400L, "zero loss")
    assert(a.select($"id").distinct().count() == 400L &&
      b.select($"id").distinct().count() == 400L, "zero duplication")
    assert(manifest(dirA).commit == 4L && manifest(dirB).commit == 4L,
      "one commit per writer on each table")
    // every version of the interleaving is time-travel readable and its
    // row count is monotone (appends only ever grow the table)
    val counts = (0L to 4L).map(v =>
      sources.CommitSink.readCommittedVersion(spark, dirA, v).count())
    assert(counts == counts.sorted && counts.last == 400L)
  }

  // --- generation hard error ---------------------------------------------------

  test("a generation-less checkpointed offset on a generation-tracked table is refused") {
    val dir = freshDir("gen_guard")
    fixture(10).write.format("graft-commit").option("path", dir)
      .mode("overwrite").save()
    val scan = new sources.CommitScanBuilder(dir,
      sources.CommitSink.loadRoot(Paths.get(dir))).build()
      .asInstanceOf[sources.CommitScan]
    val stream = scan.toMicroBatchStream(s"$dir-ck")
    // a legacy offset with no '@generation' suffix must be refused — the
    // table HAS a generation, so the checkpoint may predate a
    // drop-and-recreate and silently skipping is the data-loss case
    val off = stream.deserializeOffset("0")
    val e = intercept[IllegalArgumentException] {
      stream.planInputPartitions(off, stream.deserializeOffset("1"))
    }
    assert(e.getMessage.contains("no table generation"))
  }

  // --- catalog path containment ---------------------------------------------------

  test("catalog identifiers with path syntax are rejected") {
    val (cat, root) = withCatalog("traversal")
    // an escaping identifier must fail BEFORE resolving outside root
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.`default`.`../../escape` (id BIGINT) " +
        "USING `graft-commit`")
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("invalid identifier segment")),
      s"got: ${e.getMessage}")
    assert(!java.nio.file.Files.exists(Paths.get(root).getParent.resolve("escape")),
      "nothing may be created outside the catalog root")
    // and a legitimate dotted name still works
    spark.sql(s"CREATE TABLE $cat.`default`.`t.v1` (id BIGINT) USING `graft-commit`")
    assert(java.nio.file.Files.exists(Paths.get(root, "default", "t.v1", "_MANIFEST.json")))
  }

  private implicit class QueueOps(q: java.util.concurrent.ConcurrentLinkedQueue[Throwable]) {
    def asScala(): Seq[Throwable] = {
      val b = Seq.newBuilder[Throwable]
      q.forEach(t => b += t)
      b.result()
    }
  }
}
