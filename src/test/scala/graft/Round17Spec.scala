package graft

import java.nio.file.Paths

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-17 wave: metadata inspection tables (o43), writable branches
  * (o44), years/months transforms + temporal predicate projection
  * (o45), the streaming-upsert-into-buckets composition, and the
  * round's hardening fixes (truncate preserves a catalog table's
  * partition spec; a failed group-manifest write leaks nothing;
  * compactAndCluster works on truncate/days layouts).
  *
  *  - '''o43''': `option("metaTable", files|history|manifests)` and the
  *    catalog's `` `t$files` `` suffix serve the version ledger,
  *    per-file stats, and delete inventory as DataFrames — reconciled
  *    here against the manifest itself, on a TWO-LEVEL table, and after
  *    DML (deletion vectors, equality deletes) so the inventory shows
  *    real maintenance state.
  *  - '''o44''': a branch commit advances only the branch head (main
  *    isolated), publish fast-forwards main and re-bases the branch,
  *    a diverged publish refuses, a branch head is a retention root
  *    for expireVersions, and `VERSION AS OF 'branch'` reads the head
  *    through the catalog.
  *  - '''o45''': months/years ordinals match Iceberg's spec values;
  *    point AND range predicates project onto recorded partition keys
  *    ([[graft.sources.CommitSink.keyIntervalOf]]) — proven with NO
  *    zone entries anywhere, at file level and at GROUP-manifest level
  *    (read-counted through a delegating CommitIO, never timed).
  */
class Round17Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = s"/tmp/graft_r17_spec/$tag"
    Tables.deleteRecursively(d)
    d
  }

  private def manifest(path: String) =
    sources.CommitSink.parseManifest(Paths.get(path)).get

  private def scopedCat(tag: String): (String, String) = {
    val root = s"/tmp/graft_r17_spec/cat_$tag"
    Tables.deleteRecursively(root)
    val cat = s"graft_r17_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CommitCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }


  private def meta(path: String, kind: String) =
    spark.read.format("graft-commit").option("path", path)
      .option("metaTable", kind).load()

  private def withGroupSize[A](n: Int)(body: => A): A = {
    val prev = System.getProperty("graft.manifest.group.size")
    System.setProperty("graft.manifest.group.size", n.toString)
    try body
    finally {
      if (prev == null) System.clearProperty("graft.manifest.group.size")
      else System.setProperty("graft.manifest.group.size", prev)
    }
  }

  // --- o43: metadata inspection tables ----------------------------------

  test("o43: files/history/manifests reconcile with the manifest on a two-level table") {
    val dir = freshDir("o43_meta")
    withGroupSize(3) {
      spark.range(100).select(($"id" % 4).as("k"), $"id".as("v"))
        .write.format("graft-commit").option("path", dir)
        .option("partitionBy", "k").mode("overwrite").save()
      spark.range(100, 150).select(($"id" % 4).as("k"), $"id".as("v"))
        .write.format("graft-commit").option("path", dir)
        .option("partitionBy", "k").mode("append").save()
    }
    val m = manifest(dir)
    // $files: one row per listed file, stats verbatim
    val files = meta(dir, "files").collect()
    assert(files.map(_.getString(0)).sorted.toSeq == m.files.sorted)
    files.foreach { r =>
      val st = sources.CommitSink.FileStat.decode(m.stats(r.getString(0)))
      assert(st.pk.contains(r.getLong(1)), "part_key mirrors the recorded pk")
      assert(st.rows == r.getLong(2) && st.bytes == r.getLong(3))
      assert(m.seqOf(r.getString(0)) == r.getLong(4))
    }
    assert(files.map(_.getLong(2)).sum == 150)
    // $history: v0 (4 files, 100 rows) then v1 current (8 files, 150)
    val hist = meta(dir, "history").collect().sortBy(_.getLong(0))
    assert(hist.length == 2)
    assert(hist(0).getLong(1) == 4 && hist(0).getLong(2) == 100 &&
      !hist(0).getBoolean(6))
    assert(hist(1).getLong(1) == 8 && hist(1).getLong(2) == 150 &&
      hist(1).getBoolean(6), "v1 is current")
    // $manifests: a root row + ceil(8/3)=3 groups, never resolved rows
    val mans = meta(dir, "manifests").collect()
    val root = mans.filter(_.getString(1) == "root")
    val groups = mans.filter(_.getString(1) == "group")
    assert(root.length == 1 && groups.length == 3)
    assert(root(0).getLong(2) == 8 && groups.map(_.getLong(2)).sum == 8)
    assert(groups.map(_.getLong(3)).sum == 150 &&
      root(0).getLong(3) == 150)
    // versionAsOf composes: the PAST version's inventory
    val v0files = spark.read.format("graft-commit").option("path", dir)
      .option("metaTable", "files").option("versionAsOf", m.commit - 1)
      .load().collect()
    assert(v0files.length == 4 && v0files.map(_.getLong(2)).sum == 100)
    // unknown kind refuses loudly
    val e = intercept[Exception](meta(dir, "bogus").collect())
    assert(e.getMessage.contains("metaTable"))
  }

  test("o43: post-DML inventory — deletion vectors and equality deletes surface") {
    val (cat, root) = scopedCat("dml")
    val dir = s"$root/default/t"
    spark.range(100).select($"id", ($"id" % 10).as("k"))
      .write.format("graft-commit").option("path", dir)
      .mode("overwrite").save()
    // MOR delete: vectors recorded, files kept
    withConf("spark.graft.commit.deleteMode" -> "merge-on-read") {
      spark.sql(s"DELETE FROM $cat.`default`.t WHERE id < 10")
    }
    val afterDv = meta(dir, "files").collect()
    assert(afterDv.map(_.getLong(5)).sum == 10,
      s"dv_deleted must total the 10 deleted rows")
    // upsert append: the eq delete shows in history and per-file coverage
    spark.range(5).select($"id", lit(99L).as("k"))
      .write.format("graft-commit").option("path", dir)
      .option("upsertKeys", "id").mode("append").save()
    val hist = meta(dir, "history").collect().sortBy(_.getLong(0))
    assert(hist.last.getLong(4) >= 1, "history records live equality deletes")
    val covered = meta(dir, "files").collect()
      .filter(r => r.getLong(6) > 0)
    assert(covered.nonEmpty, "older files show the eq deletes covering them")
  }

  test("o43: the catalog serves the $files/$history suffix tables") {
    val (cat, root) = scopedCat("meta")
    spark.sql(s"CREATE TABLE $cat.`default`.t (id BIGINT) USING `graft-commit`")
    spark.sql(s"INSERT INTO $cat.`default`.t SELECT id FROM range(40)")
    spark.sql(s"INSERT INTO $cat.`default`.t SELECT id FROM range(40, 50)")
    val viaSql = spark.sql(s"SELECT * FROM $cat.`default`.`t$$files`").collect()
    assert(viaSql.map(_.getLong(2)).sum == 50)
    // CREATE TABLE writes the empty v0 manifest, then the two inserts
    val hist = spark.sql(s"SELECT * FROM $cat.`default`.`t$$history`").collect()
    assert(hist.length == 3)
    // an unknown base still reports the clean missing-table error
    intercept[Exception](
      spark.sql(s"SELECT * FROM $cat.`default`.`nope$$files`").collect())
  }

  test("o43: the $partitions table rolls files up per partition-key vector") {
    val dir = freshDir("o43_partitions")
    spark.range(120).select(($"id" % 3).as("k"), $"id".as("v"))
      .write.format("graft-commit").option("path", dir)
      .option("partitionBy", "k").mode("overwrite").save()
    spark.range(120, 150).select(($"id" % 3).as("k"), $"id".as("v"))
      .write.format("graft-commit").option("path", dir)
      .option("partitionBy", "k").mode("append").save()
    val parts = meta(dir, "partitions").collect().sortBy(_.getString(0))
    assert(parts.length == 3, "one row per partition key")
    assert(parts.forall(_.getLong(1) == 2), "base + append file per key")
    assert(parts.map(_.getLong(2)).sum == 150)
    // an unpartitioned table rolls into the one '(unpartitioned)' row
    val dir2 = freshDir("o43_partitions_flat")
    spark.range(10).select($"id")
      .write.format("graft-commit").option("path", dir2).mode("overwrite").save()
    val flat = meta(dir2, "partitions").collect()
    assert(flat.length == 1 && flat(0).getString(0) == "(unpartitioned)" &&
      flat(0).getLong(2) == 10)
    // multi-transform composites render as dotted key vectors
    val (cat, root) = scopedCat("partitions_multi")
    spark.sql(s"CREATE TABLE $cat.`default`.t (ts TIMESTAMP_NTZ, k BIGINT, v BIGINT) " +
      "USING `graft-commit` PARTITIONED BY (days(ts), bucket(2, k))")
    spark.range(100).select(
        lit(java.time.LocalDateTime.of(2001, 1, 1, 0, 0)).as("ts"),
        ($"id" % 4).as("k"), $"id".as("v"))
      .createOrReplaceTempView("r17_parts_src")
    spark.sql(s"INSERT INTO $cat.`default`.t SELECT * FROM r17_parts_src")
    val multi = spark.sql(s"SELECT * FROM $cat.`default`.`t$$partitions`").collect()
    val day = java.time.LocalDate.of(2001, 1, 1).toEpochDay
    assert(multi.forall(_.getString(0).startsWith(s"$day.")))
    assert(multi.map(_.getLong(2)).sum == 100)
  }

  // --- o47: ALTER TABLE DROP COLUMNS --------------------------------------

  test("o47: DROP COLUMN is metadata-only — old files stop being asked for the field") {
    val (cat, root) = scopedCat("drop")
    val path = s"$root/default/t"
    spark.range(100).select($"id", ($"id" % 5).as("k"),
        concat(lit("s"), $"id").as("s"))
      .write.format("graft-commit").option("path", path)
      .mode("overwrite").save()
    val v0 = manifest(path).commit
    spark.sql(s"ALTER TABLE $cat.`default`.t DROP COLUMN s")
    val m = manifest(path)
    // metadata-only: files carried verbatim, schema narrowed
    assert(m.files == manifest(path).files && m.commit == v0 + 1)
    assert(!spark.table(s"$cat.`default`.t").columns.contains("s"))
    assert(spark.table(s"$cat.`default`.t").count() == 100)
    // time travel keeps the pre-DROP shape
    val old = spark.sql(s"SELECT * FROM $cat.`default`.t VERSION AS OF $v0")
    assert(old.columns.contains("s") && old.filter($"s" === "s7").count() == 1)
    // appends carry the narrowed schema; the old-widths append refuses
    spark.range(100, 120).select($"id", ($"id" % 5).as("k"))
      .write.format("graft-commit").option("path", path).mode("append").save()
    assert(spark.table(s"$cat.`default`.t").count() == 120)
    val e = intercept[Exception](
      spark.range(200, 210).select($"id", ($"id" % 5).as("k"), lit("x").as("s"))
        .write.format("graft-commit").option("path", path).mode("append").save())
    def chain(t: Throwable) = Iterator.iterate(t)(_.getCause)
      .takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse("")).mkString("|")
    assert(chain(e).contains("schema mismatch"), chain(e))
    // DML over the mixed pre/post-DROP files works on the narrowed shape
    spark.sql(s"UPDATE $cat.`default`.t SET k = 99 WHERE id < 10")
    assert(spark.sql(s"SELECT count(*) FROM $cat.`default`.t WHERE k = 99")
      .head().getLong(0) == 10)
  }

  test("o47: DROP COLUMN refusal matrix — partition source, eq-delete key, last column") {
    val (cat, root) = scopedCat("drop_refuse")
    val path = s"$root/default/t"
    spark.sql(s"CREATE TABLE $cat.`default`.t (id BIGINT, k BIGINT) " +
      "USING `graft-commit` PARTITIONED BY (bucket(4, k))")
    spark.sql(s"INSERT INTO $cat.`default`.t SELECT id, id % 9 FROM range(50)")
    def refused(sql: String, frag: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      assert(e.getMessage.contains(frag), s"$sql -> ${e.getMessage}")
    }
    refused(s"ALTER TABLE $cat.`default`.t DROP COLUMN k",
      "partition spec's source column")
    refused(s"ALTER TABLE $cat.`default`.t DROP COLUMN nope",
      "UNRESOLVED_COLUMN") // the analyzer refuses before the catalog sees it
    // live equality delete keyed on the column blocks the drop
    val (cat2, root2) = scopedCat("drop_refuse_eq")
    val path2 = s"$root2/default/t"
    spark.range(50).select($"id", ($"id" % 5).as("k"))
      .write.format("graft-commit").option("path", path2)
      .mode("overwrite").save()
    spark.range(3).select($"id", lit(7L).as("k"))
      .write.format("graft-commit").option("path", path2)
      .option("upsertKeys", "id").mode("append").save()
    refused(s"ALTER TABLE $cat2.`default`.t DROP COLUMN id",
      "live equality deletes")
    // the only column can never drop
    val (cat3, root3) = scopedCat("drop_refuse_last")
    spark.range(5).select($"id")
      .write.format("graft-commit").option("path", s"$root3/default/t")
      .mode("overwrite").save()
    refused(s"ALTER TABLE $cat3.`default`.t DROP COLUMN id", "only column")
  }

  // --- o44: writable branches -------------------------------------------

  test("o44: branch commits isolate from main; publish fast-forwards and re-bases") {
    val dir = freshDir("o44_basic")
    spark.range(50).select($"id").write.format("graft-commit")
      .option("path", dir).mode("overwrite").save()
    sources.CommitSink.createBranch(dir, "exp", 0L)
    spark.range(50, 80).select($"id").write.format("graft-commit")
      .option("path", dir).option("branch", "exp").mode("append").save()
    // main untouched; the branch sees its own lineage
    assert(sources.CommitSink.readCommitted(spark, dir).count() == 50)
    val branchRead = spark.read.format("graft-commit").option("path", dir)
      .option("branch", "exp").load()
    assert(branchRead.count() == 80)
    // refs: the head advanced into the disjoint branch id range (main's
    // contiguous lineage can never collide), base still at the fork
    val B = sources.CommitSink.BRANCH_BASE
    val (head, base) = sources.CommitSink.listBranches(Paths.get(dir))("exp")
    assert(head == B && base == 0L)
    // a second branch commit advances again
    spark.range(80, 90).select($"id").write.format("graft-commit")
      .option("path", dir).option("branch", "exp").mode("append").save()
    assert(sources.CommitSink.listBranches(Paths.get(dir))("exp")._1 == B + 1)
    sources.CommitSink.publishBranch(dir, "exp")
    assert(sources.CommitSink.readCommitted(spark, dir).count() == 90)
    // the publish re-landed the content as main's next CONTIGUOUS commit
    assert(manifest(dir).commit == 1L,
      "publish must keep main's ledger contiguous (no high-range id)")
    val (h2, b2) = sources.CommitSink.listBranches(Paths.get(dir))("exp")
    assert(h2 == 1L && b2 == 1L, "publish re-bases the branch at the published commit")
    // a published branch keeps working: the next commit forks from main
    spark.range(90, 95).select($"id").write.format("graft-commit")
      .option("path", dir).option("branch", "exp").mode("append").save()
    sources.CommitSink.publishBranch(dir, "exp")
    assert(sources.CommitSink.readCommitted(spark, dir).count() == 95)
  }

  test("o44: a diverged publish refuses; dropBranch forgets the lineage") {
    val dir = freshDir("o44_diverge")
    spark.range(10).select($"id").write.format("graft-commit")
      .option("path", dir).mode("overwrite").save()
    sources.CommitSink.createBranch(dir, "exp", 0L)
    spark.range(10, 20).select($"id").write.format("graft-commit")
      .option("path", dir).option("branch", "exp").mode("append").save()
    // main moves past the fork
    spark.range(20, 25).select($"id").write.format("graft-commit")
      .option("path", dir).mode("append").save()
    val e = intercept[Exception](sources.CommitSink.publishBranch(dir, "exp"))
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("cannot fast-forward")),
      s"diverged publish must refuse: ${chain(e)}")
    // main unaffected by the refusal
    assert(sources.CommitSink.readCommitted(spark, dir).count() == 15)
    assert(sources.CommitSink.dropBranch(dir, "exp"))
    assert(!sources.CommitSink.listBranches(Paths.get(dir)).contains("exp"))
    intercept[Exception](
      spark.read.format("graft-commit").option("path", dir)
        .option("branch", "exp").load().collect())
  }

  test("o44: a branch head is a retention root for expireVersions") {
    val dir = freshDir("o44_gc")
    spark.range(10).select($"id").write.format("graft-commit")
      .option("path", dir).mode("overwrite").save()
    sources.CommitSink.createBranch(dir, "keepme", 0L)
    spark.range(10, 20).select($"id").write.format("graft-commit")
      .option("path", dir).option("branch", "keepme").mode("append").save()
    // main advances twice so keepLast=1 would drop everything older
    spark.range(20, 30).select($"id").write.format("graft-commit")
      .option("path", dir).mode("append").save()
    spark.range(30, 40).select($"id").write.format("graft-commit")
      .option("path", dir).mode("append").save()
    val B = sources.CommitSink.BRANCH_BASE
    val (dropped, _) = sources.CommitSink.expireVersions(dir, keepLast = 1)
    // the branch head must survive and stay readable
    assert(!dropped.contains(B), s"branch head expired: $dropped")
    assert(spark.read.format("graft-commit").option("path", dir)
      .option("branch", "keepme").load().count() == 20)
    // dropping the branch releases the root; the next expiry reclaims
    sources.CommitSink.dropBranch(dir, "keepme")
    val (dropped2, _) = sources.CommitSink.expireVersions(dir, keepLast = 1)
    assert(dropped2.contains(B), "dropped branch head becomes expirable")
  }

  test("o44: VERSION AS OF resolves a branch name through the catalog") {
    val (cat, root) = scopedCat("branch")
    spark.sql(s"CREATE TABLE $cat.`default`.t (id BIGINT) USING `graft-commit`")
    spark.sql(s"INSERT INTO $cat.`default`.t SELECT id FROM range(10)")
    val path = s"$root/default/t"
    sources.CommitSink.createBranch(path, "exp", manifest(path).commit)
    spark.range(10, 30).select($"id").write.format("graft-commit")
      .option("path", path).option("branch", "exp").mode("append").save()
    val viaSql = spark.sql(
      s"SELECT count(*) FROM $cat.`default`.t VERSION AS OF 'exp'").head().getLong(0)
    assert(viaSql == 30)
    assert(spark.sql(s"SELECT count(*) FROM $cat.`default`.t").head().getLong(0) == 10)
  }

  test("o44: branch refuses DML, streaming, stage composition, and name collisions") {
    val dir = freshDir("o44_refuse")
    spark.range(10).select($"id").write.format("graft-commit")
      .option("path", dir).mode("overwrite").save()
    sources.CommitSink.createTag(dir, "taken", 0L)
    // tag/branch share one namespace
    intercept[IllegalArgumentException](
      sources.CommitSink.createBranch(dir, "taken", 0L))
    sources.CommitSink.createBranch(dir, "exp", 0L)
    intercept[IllegalArgumentException](sources.CommitSink.createTag(dir, "exp", 0L)
      ) // createTag's duplicate check is name-based; branch name stays distinct
    // stageOnly + branch refuse together
    val e = intercept[Exception](
      spark.range(5).select($"id").write.format("graft-commit")
        .option("path", dir).option("branch", "exp")
        .option("stageOnly", "true").mode("append").save())
    assert(e.getMessage.contains("mutually exclusive") ||
      Option(e.getCause).exists(_.getMessage.contains("mutually exclusive")))
  }

  // --- o45: years/months + temporal predicate projection ----------------

  test("o45: months/years ordinals match Iceberg's spec values") {
    import sources.CommitSink.{MonthsSpec, YearsSpec, DaysSpec}
    import org.apache.spark.sql.types.{DateType, TimestampNTZType}
    // Iceberg spec examples: months('1997-03-01') = 326, years = 27
    val d19970301 = java.time.LocalDate.of(1997, 3, 1).toEpochDay
    assert(MonthsSpec("c").keyOf(d19970301, DateType) == 326L)
    assert(YearsSpec("c").keyOf(d19970301, DateType) == 27L)
    // micros input routes through epoch days (mid-month, mid-day)
    val micros = java.time.LocalDateTime.of(1997, 3, 15, 13, 45)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
    assert(MonthsSpec("c").keyOf(micros, TimestampNTZType) == 326L)
    assert(YearsSpec("c").keyOf(micros, TimestampNTZType) == 27L)
    // pre-1970 dates take negative ordinals (floorDiv semantics)
    val d1969 = java.time.LocalDate.of(1969, 12, 31).toEpochDay
    assert(MonthsSpec("c").keyOf(d1969, DateType) == -1L)
    assert(YearsSpec("c").keyOf(d1969, DateType) == -1L)
    assert(DaysSpec("c").keyOf(-1L, DateType) == -1L)
  }

  test("o45: keyIntervalOf projects point and range shapes, conservatively") {
    import sources.CommitSink.{keyIntervalOf, MonthsSpec, BucketSpec, TruncateSpec}
    import org.apache.spark.sql.sources._
    val m = MonthsSpec("ts")
    val mar1 = java.time.LocalDateTime.of(1997, 3, 1, 0, 0)
    val mar31 = java.time.LocalDateTime.of(1997, 3, 31, 23, 59)
    assert(keyIntervalOf(m, EqualTo("ts", mar1)) == Some((326L, 326L)))
    assert(keyIntervalOf(m, GreaterThanOrEqual("ts", mar1)) ==
      Some((326L, Long.MaxValue)))
    assert(keyIntervalOf(m, LessThanOrEqual("ts", mar31)) ==
      Some((Long.MinValue, 326L)))
    assert(keyIntervalOf(m,
      And(GreaterThanOrEqual("ts", mar1), LessThanOrEqual("ts", mar31))) ==
      Some((326L, 326L)))
    // other columns never project
    assert(keyIntervalOf(m, EqualTo("other", mar1)).isEmpty)
    // bucket: equality projects to the id, ranges never do
    val b = BucketSpec(8, "k")
    val k34 = sources.BucketFunction.bucketId(8, 34L).toLong
    assert(keyIntervalOf(b, EqualTo("k", 34L)) == Some((k34, k34)))
    assert(keyIntervalOf(b, GreaterThan("k", 34L)).isEmpty)
    // truncate: a band point
    assert(keyIntervalOf(TruncateSpec(1000, "id"), EqualTo("id", 4242L)) ==
      Some((4000L, 4000L)))
  }

  test("o45: key projection prunes files AND group manifests with NO zone entries") {
    // hand-written manifest (the r16 120k device): month-keyed files with
    // pk but ZERO per-column ranges — only the o45 key projection can
    // prune; forced group size 4 so the root carries real group refs
    val dir = freshDir("o45_groups")
    java.nio.file.Files.createDirectories(Paths.get(dir))
    val n = 24 // months 300..323, one file each, groups of 4
    val files = (0 until n).map(i => f"part-c00001-cafe-$i%06d.parquet")
    val stats = files.zipWithIndex.map { case (f, i) =>
      f -> sources.CommitSink.FileStat(10L, 1000L, Some(300L + i), Map.empty).encode
    }.toMap
    withGroupSize(4) {
      sources.CommitSink.writeManifest(Paths.get(dir), "ts TIMESTAMP_NTZ",
        files, 1L, stats = stats, partCol = Some("months(ts)"))
    }
    assert(sources.CommitSink.loadRoot(Paths.get(dir)).get.groups.size == 6)
    // BETWEEN over months 308..309 (= 1995-09/1995-10): 2 files, 1 group
    val lo = java.time.LocalDateTime.of(1995, 9, 1, 0, 0)
    val hi = java.time.LocalDateTime.of(1995, 10, 31, 23, 59)
    val counting = new CountingIo
    val planned = sources.CommitSink.withIo(counting) {
      val b = new sources.CommitScanBuilder(dir,
        sources.CommitSink.loadRoot(Paths.get(dir)))
      b.pushFilters(Array(
        org.apache.spark.sql.sources.GreaterThanOrEqual("ts", lo),
        org.apache.spark.sql.sources.LessThanOrEqual("ts", hi)))
      b.build().asInstanceOf[org.apache.spark.sql.connector.read.Batch]
        .planInputPartitions().length
    }
    assert(planned == 2, s"two month files in range, planned $planned")
    assert(counting.groupReads.get() == 1,
      s"the range touches ONE group's key span, read ${counting.groupReads.get()}")
  }

  /** Group-manifest read counter (the r16 sublinearity instrument). */
  private class CountingIo extends sources.CommitIO {
    val groupReads = new java.util.concurrent.atomic.AtomicInteger(0)
    private val d = sources.NioCommitIO
    override def inputFile(p: java.nio.file.Path) = d.inputFile(p)
    override def outputFile(p: java.nio.file.Path) = d.outputFile(p)
    override def newInputStream(p: java.nio.file.Path) = d.newInputStream(p)
    override def newOutputStream(p: java.nio.file.Path) = d.newOutputStream(p)
    override def readString(p: java.nio.file.Path): String = {
      if (p.getFileName.toString.startsWith("_MANIFEST-g")) groupReads.incrementAndGet()
      d.readString(p)
    }
    override def writeString(p: java.nio.file.Path, s: String): Unit = d.writeString(p, s)
    override def atomicReplace(t: java.nio.file.Path, g: java.nio.file.Path): Unit = d.atomicReplace(t, g)
    override def promote(s: java.nio.file.Path, t: java.nio.file.Path): Unit = d.promote(s, t)
    override def exists(p: java.nio.file.Path): Boolean = d.exists(p)
    override def isDirectory(p: java.nio.file.Path): Boolean = d.isDirectory(p)
    override def deleteIfExists(p: java.nio.file.Path): Boolean = d.deleteIfExists(p)
    override def createDirectories(p: java.nio.file.Path): Unit = d.createDirectories(p)
    override def list(p: java.nio.file.Path): Seq[String] = d.list(p)
    override def size(p: java.nio.file.Path): Long = d.size(p)
    override def lastModifiedMs(p: java.nio.file.Path): Long = d.lastModifiedMs(p)
  }

  /** An IO binding that fails the Nth group-manifest write — the
    * disk-full fault for the r17 cleanup pin. */
  private class FailingGroupWriteIo(failAt: Int) extends sources.CommitIO {
    private val d = sources.NioCommitIO
    private val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    override def inputFile(p: java.nio.file.Path) = d.inputFile(p)
    override def outputFile(p: java.nio.file.Path) = d.outputFile(p)
    override def newInputStream(p: java.nio.file.Path) = d.newInputStream(p)
    override def newOutputStream(p: java.nio.file.Path) = d.newOutputStream(p)
    override def readString(p: java.nio.file.Path): String = d.readString(p)
    override def writeString(p: java.nio.file.Path, s: String): Unit = {
      if (p.getFileName.toString.startsWith("_MANIFEST-g") &&
          seen.incrementAndGet() == failAt)
        throw new java.io.IOException("planted disk-full")
      d.writeString(p, s)
    }
    override def atomicReplace(t: java.nio.file.Path, g: java.nio.file.Path): Unit = d.atomicReplace(t, g)
    override def promote(s: java.nio.file.Path, t: java.nio.file.Path): Unit = d.promote(s, t)
    override def exists(p: java.nio.file.Path): Boolean = d.exists(p)
    override def isDirectory(p: java.nio.file.Path): Boolean = d.isDirectory(p)
    override def deleteIfExists(p: java.nio.file.Path): Boolean = d.deleteIfExists(p)
    override def createDirectories(p: java.nio.file.Path): Unit = d.createDirectories(p)
    override def list(p: java.nio.file.Path): Seq[String] = d.list(p)
    override def size(p: java.nio.file.Path): Long = d.size(p)
    override def lastModifiedMs(p: java.nio.file.Path): Long = d.lastModifiedMs(p)
  }

  test("r17 fix: a failed group-manifest write sweeps the groups already landed") {
    val dir = freshDir("o45_groupfail")
    java.nio.file.Files.createDirectories(Paths.get(dir))
    val files = (0 until 12).map(i => f"part-c00001-feed-$i%06d.parquet")
    val stats = files.map(f =>
      f -> sources.CommitSink.FileStat(1L, 10L, None, Map.empty).encode).toMap
    withGroupSize(4) {
      intercept[java.io.IOException] {
        sources.CommitSink.withIo(new FailingGroupWriteIo(failAt = 2)) {
          sources.CommitSink.writeManifest(Paths.get(dir), "id BIGINT",
            files, 1L, stats = stats)
        }
      }
    }
    val leaked = java.nio.file.Files.list(Paths.get(dir)).iterator()
    var bad = List.empty[String]
    while (leaked.hasNext) {
      val nme = leaked.next().getFileName.toString
      if (nme.startsWith("_MANIFEST")) bad ::= nme
    }
    assert(bad.isEmpty, s"a failed commit must leave no manifest debris: $bad")
  }

  test("r17 fix: compactAndCluster works on truncate and days layouts") {
    val dir = freshDir("o45_compact")
    spark.range(4000).select($"id", ($"id" % 17).as("v"))
      .write.format("graft-commit").option("path", dir)
      .option("partitionBy", "truncate(1000, id)").mode("overwrite").save()
    // pre-r17 this threw a MatchError; now the source column is a
    // legitimate secondary sort key within each band
    val rewritten = sources.CommitSink.compactAndCluster(spark, dir, 4, Seq("id"))
    assert(rewritten.nonEmpty)
    assert(sources.CommitSink.readCommitted(spark, dir).count() == 4000)
    val m = manifest(dir)
    assert(m.files.forall(f =>
      sources.CommitSink.FileStat.decode(m.stats(f)).pk.isDefined),
      "the band layout survives the rewrite")
  }

  test("advice fix: INSERT OVERWRITE preserves a catalog table's partition spec") {
    val (cat, root) = scopedCat("ow")
    spark.sql(s"CREATE TABLE $cat.`default`.t (k BIGINT, v BIGINT) " +
      "USING `graft-commit` PARTITIONED BY (bucket(4, k))")
    val path = s"$root/default/t"
    spark.sql(s"INSERT INTO $cat.`default`.t SELECT id % 50, id FROM range(400)")
    assert(manifest(path).partCol.contains("bucket(4,k)"))
    // the overwrite must keep the spec (Iceberg: spec is table metadata)
    spark.sql(s"INSERT OVERWRITE $cat.`default`.t SELECT id % 50, id FROM range(200)")
    assert(manifest(path).partCol.contains("bucket(4,k)"),
      "un-optioned INSERT OVERWRITE silently wiped the partition spec")
    // and the layout contract holds for the overwrite's own files + appends
    spark.sql(s"INSERT INTO $cat.`default`.t SELECT id % 50, id FROM range(200, 300)")
    val m = manifest(path)
    assert(m.files.nonEmpty && m.files.forall(f =>
      sources.CommitSink.FileStat.decode(m.stats(f)).pk.isDefined),
      "every file written under the preserved spec records its bucket id")
    assert(spark.sql(s"SELECT count(*) FROM $cat.`default`.t").head().getLong(0) == 300)
  }

  // --- o46: multi-transform partition specs -------------------------------

  test("o46: days x bucket layout — composite keys, per-group planning, 2-D key-only pruning") {
    val (cat, root) = scopedCat("multi")
    spark.sql(s"CREATE TABLE $cat.`default`.t (ts TIMESTAMP_NTZ, k BIGINT, v BIGINT) " +
      "USING `graft-commit` PARTITIONED BY (days(ts), bucket(2, k))")
    val path = s"$root/default/t"
    // 4 days x keys hashing to both buckets
    spark.range(4000).select(
        (lit(java.time.LocalDateTime.of(2001, 1, 1, 0, 0)) +
          expr("make_interval(0, 0, 0, 0, 0, 0, id * 80)")).as("ts"),
        ($"id" % 10).as("k"), $"id".as("v"))
      .createOrReplaceTempView("r17_multi_src")
    spark.sql(s"INSERT INTO $cat.`default`.t SELECT * FROM r17_multi_src")
    val m = manifest(path)
    val stats = m.files.map(f => sources.CommitSink.FileStat.decode(m.stats(f)))
    // every file records (day, bucket) and holds ONE composite key
    assert(stats.nonEmpty && stats.forall(_.pks.size == 2))
    assert(stats.forall(st => st.pks(1) >= 0 && st.pks(1) < 2))
    val composites = stats.map(_.pks).distinct
    assert(m.files.size == composites.size,
      "the rolling writer lands one file per composite key here (one insert)")
    val nDays = stats.map(_.pks.head).distinct.size
    assert(nDays >= 4 && m.files.size <= nDays * 2)
    // planning granularity: one partition per composite group
    def read() = spark.read.format("graft-commit").option("path", path).load()
    assert(sources.CommitScan.plannedPartitions(read()).size == composites.size)
    // STRIP every zone entry — both dimensions must prune by key alone
    val stripped = m.stats.map { case (f, e) =>
      val st = sources.CommitSink.FileStat.decode(e)
      f -> st.copy(cols = Map.empty).encode
    }
    sources.CommitSink.writeManifest(Paths.get(path), m.ddl, m.files,
      m.commit + 1, m.epochs, expectedPrev = m.commit, partCol = m.partCol,
      stats = stripped, tableId = m.tableId,
      fileSeq = m.fileSeq)
    // INCLUSIVE in-day bounds: `< day3 00:00` would conservatively
    // project onto day3's key too (the interval projection keeps
    // key <= days(day3)) — the o45 months proof makes the same choice
    val day2 = java.time.LocalDateTime.of(2001, 1, 2, 0, 0)
    val day2End = java.time.LocalDateTime.of(2001, 1, 2, 23, 59, 59)
    val day2Key = day2.toLocalDate.toEpochDay
    val day2Files = stats.count(_.pks.head == day2Key)
    assert(sources.CommitScan.plannedPartitions(read().filter($"ts" >= lit(day2) && $"ts" <= lit(day2End))).size
      == day2Files, "a one-day range plans that day's bucket files by KEY alone")
    val b7 = sources.BucketFunction.bucketId(2, 7L).toLong
    val pointFiles = stats.count(st => st.pks.head == day2Key && st.pks(1) == b7)
    assert(sources.CommitScan.plannedPartitions(read().filter($"ts" >= lit(day2) && $"ts" <= lit(day2End) &&
        $"k" === 7L)).size == pointFiles && pointFiles == 1,
      "day range + key point plans exactly the (day, bucket) file")
    // content intact through the composite layout
    assert(spark.sql(s"SELECT sum(v) FROM $cat.`default`.t").head().getLong(0)
      == (0L until 4000L).sum)
  }

  test("o46: DML and compact work on multi-transform layouts") {
    val (cat, root) = scopedCat("multi_dml")
    spark.sql(s"CREATE TABLE $cat.`default`.t (ts TIMESTAMP_NTZ, k BIGINT, v BIGINT) " +
      "USING `graft-commit` PARTITIONED BY (days(ts), bucket(2, k))")
    val path = s"$root/default/t"
    spark.range(2000).select(
        (lit(java.time.LocalDateTime.of(2001, 1, 1, 0, 0)) +
          expr("make_interval(0, 0, 0, 0, 0, 0, id * 80)")).as("ts"),
        ($"id" % 10).as("k"), $"id".as("v"))
      .createOrReplaceTempView("r17_multi_dml_src")
    spark.sql(s"INSERT INTO $cat.`default`.t SELECT * FROM r17_multi_dml_src")
    // UPDATE (group copy-on-write through the catalog — the composite
    // clustered distribution resolves via the FunctionCatalog)
    spark.sql(s"UPDATE $cat.`default`.t SET v = v + 1000000 WHERE k = 3")
    assert(spark.sql(s"SELECT count(*) FROM $cat.`default`.t WHERE v >= 1000000")
      .head().getLong(0) == 200)
    // the rewrite preserved the composite layout
    val m1 = manifest(path)
    assert(m1.files.forall(f =>
      sources.CommitSink.FileStat.decode(m1.stats(f)).pks.size == 2),
      "DML rewrite must land files under the composite spec")
    // metadata DELETE (translatable predicate) keeps the layout too
    spark.sql(s"DELETE FROM $cat.`default`.t WHERE k = 7")
    assert(spark.sql(s"SELECT count(*) FROM $cat.`default`.t WHERE k = 7")
      .head().getLong(0) == 0)
    val m2 = manifest(path)
    assert(m2.files.forall(f =>
      sources.CommitSink.FileStat.decode(m2.stats(f)).pks.size == 2))
    // compact: one file per live composite key, content intact
    sources.CommitSink.compact(spark, path, 4)
    val m3 = manifest(path)
    val composites = m3.files
      .map(f => sources.CommitSink.FileStat.decode(m3.stats(f)).pks)
    assert(composites.forall(_.size == 2) &&
      composites.distinct.size == composites.size,
      "compacted multi layout holds one file per live composite key")
    assert(spark.sql(s"SELECT count(*) FROM $cat.`default`.t").head()
      .getLong(0) == 1800) // 2000 - the 200 deleted k=7 rows
  }

  test("o46: refusal matrix — z-order refuses multi; duplicate columns refuse") {
    val (cat, root) = scopedCat("multi_refuse")
    spark.sql(s"CREATE TABLE $cat.`default`.t (ts TIMESTAMP_NTZ, k BIGINT, v BIGINT) " +
      "USING `graft-commit` PARTITIONED BY (days(ts), bucket(2, k))")
    val path = s"$root/default/t"
    spark.range(100).select(
        lit(java.time.LocalDateTime.of(2001, 1, 1, 0, 0)).as("ts"),
        ($"id" % 5).as("k"), $"id".as("v"))
      .createOrReplaceTempView("r17_multi_refuse_src")
    spark.sql(s"INSERT INTO $cat.`default`.t SELECT * FROM r17_multi_refuse_src")
    def msgChain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    // r18 lifted the lexicographic multi-layout refusal (Round18Spec
    // pins the rewrite); z-order within ANY partitioned layout — multi
    // included — still refuses (the interleave has no per-key form)
    val e2 = intercept[Exception](
      sources.CommitSink.compactAndCluster(spark, path, 2, Seq("v"), zOrder = true))
    assert(msgChain(e2).contains("z-order"), msgChain(e2))
    // one source column under two transforms is ambiguous
    val e5 = intercept[Exception](
      spark.sql(s"CREATE TABLE $cat.`default`.bad (ts TIMESTAMP_NTZ, v BIGINT) " +
        "USING `graft-commit` PARTITIONED BY (days(ts), months(ts))"))
    assert(msgChain(e5).contains("twice"), msgChain(e5))
    // FileStat multi-key roundtrip (the pkr segment)
    val st = sources.CommitSink.FileStat(10L, 100L, Some(5L),
      Map("a" -> sources.CommitSink.ColRange('l', "1", "9")), Seq(-3L, 7L))
    assert(sources.CommitSink.FileStat.decode(st.encode) == st)
  }

  test("o46: two (days, bucket) tables join exchange-free (composite SPJ)") {
    val (cat, root) = scopedCat("multi_spj")
    Seq("fact", "dim").foreach { t =>
      spark.sql(s"CREATE TABLE $cat.`default`.$t (ts TIMESTAMP_NTZ, k BIGINT, " +
        s"v BIGINT) USING `graft-commit` PARTITIONED BY (days(ts), bucket(2, k))")
    }
    spark.range(3000).select(
        (lit(java.time.LocalDateTime.of(2002, 5, 1, 0, 0)) +
          expr("make_interval(0, 0, 0, 0, 0, 0, id * 100)")).as("ts"),
        ($"id" % 7).as("k"), $"id".as("v"))
      .createOrReplaceTempView("r17_spj_src")
    spark.sql(s"INSERT INTO $cat.`default`.fact SELECT * FROM r17_spj_src")
    spark.sql(s"INSERT INTO $cat.`default`.dim SELECT ts, k, v * 2 FROM r17_spj_src")
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.sql(
        s"SELECT f.ts, f.k, f.v, d.v AS dv FROM $cat.`default`.fact f " +
          s"JOIN $cat.`default`.dim d ON f.ts = d.ts AND f.k = d.k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"(days(ts), bucket(2,k)) on both sides must storage-partition the join:\n$plan")
      assert(joined.count() == 3000L)
      // value parity with the shuffled join
      val shuffled = spark.sql(
        s"SELECT sum(f.v + d.v) FROM $cat.`default`.fact f " +
          s"JOIN $cat.`default`.dim d " +
          "ON f.ts = d.ts AND f.k = d.k").head().getLong(0)
      assert(shuffled == (0L until 3000L).map(i => i * 3).sum)
    }
  }

  // --- streaming upsert into a bucket-partitioned table ------------------

  test("streaming upserts into bucket(8, sensor) keep one-bucket files and grouped planning") {
    val (cat, root) = scopedCat("stream_bucket")
    spark.sql(s"CREATE TABLE $cat.`default`.state (sensor BIGINT, n BIGINT, s BIGINT) " +
      "USING `graft-commit` PARTITIONED BY (bucket(8, sensor))")
    val path = s"$root/default/state"
    val ck = s"$root/ck"
    val q = spark.readStream.format("graft-sensors")
      .option("rows", 8000).option("slices", 4)
      .option("streamBatchRows", 2000).load()
      .select($"id", $"sensor".cast("bigint").as("sensor"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // key-unique per batch (the upsert contract), then the o32
        // upsert-append through the CATALOG so the bucket transform
        // resolves and the write shuffles into buckets
        batch.groupBy(col("sensor"))
          .agg(count(lit(1)).as("n"), sum(col("id")).as("s"))
          .writeTo(s"$cat.`default`.state")
          .option("upsertKeys", "sensor")
          .append()
        ()
      }
      .option("checkpointLocation", ck)
      .start()
    q.processAllAvailable()
    q.stop()
    val m = manifest(path)
    // multiple triggers landed files; every file holds exactly one bucket
    val dataFiles = m.files
    assert(dataFiles.size > 8, s"expected several triggers' files, got ${dataFiles.size}")
    assert(dataFiles.forall { f =>
      sources.CommitSink.FileStat.decode(m.stats(f)).pk.exists(pk => pk >= 0 && pk < 8)
    }, "every upsert file records one bucket id in [0,8)")
    // the equality deletes made it an upsert: one live row per sensor
    val snap = spark.sql(s"SELECT sensor, count(*) c FROM $cat.`default`.state " +
      "GROUP BY sensor HAVING count(*) > 1").collect()
    assert(snap.isEmpty, s"upsert must keep one row per key: ${snap.mkString(",")}")
    // grouped planning survives: the scan plans bucket GROUPS, not files
    val planned = sources.CommitScan.plannedPartitions(spark.sql(s"SELECT * FROM $cat.`default`.state")).size
    assert(planned <= 8,
      s"bucket table must plan at most 8 key groups, planned $planned")
  }
}
