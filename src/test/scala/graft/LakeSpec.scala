package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-11 lakehouse wave on the commit sink — the four remaining
  * scale contracts of the DSv2 matrix:
  *
  *  - '''o14 zone-map file skipping''': per-file numeric ranges recorded
  *    during the write prune whole files at planning; pruning is
  *    advisory (surviving files are still filtered row by row — by the
  *    reader for the predicates a plain read absorbs, by Spark above the
  *    scan for the rest) so a wrong prune can only be caught, never
  *    silently produce rows.
  *  - '''o15 statistics reporting''': exact manifest row/byte totals
  *    flow into the optimizer — a small committed table auto-broadcasts
  *    where the V2 default ("assume infinite") would shuffle.
  *  - '''o16 storage-partitioned join''': identity-partitioned writes
  *    (clustered + sorted by key, one key per file) report
  *    KeyGroupedPartitioning; a co-partitioned equi-join runs with NO
  *    exchange on either side.
  *  - '''o17 time travel''': every commit lands an immutable
  *    `_MANIFEST-v<n>.json`; `VERSION AS OF n` reads it, and truncate
  *    keeps version-referenced data files alive.
  */
class LakeSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = s"/tmp/graft_lake_spec/$tag"
    Tables.deleteRecursively(d)
    d
  }

  private def fixture(n: Int): DataFrame =
    spark.range(n.toLong).select(
      $"id",
      ($"id" % 16).as("k"),
      ($"id" % 100).cast("int").as("grade"),
      (($"id" * 7 % 1000) / 10.0).as("score"),
      concat(lit("doc-"), $"id").as("tag"))

  // --- o14: stats collection + file skipping ------------------------------

  test("o14: the write records per-file rows/bytes/ranges in the manifest") {
    val dir = freshDir("stats")
    fixture(1000).repartitionByRange(4, $"id")
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    val m = sources.CommitSink.parseManifest(java.nio.file.Paths.get(dir)).get
    assert(m.files.size == 4 && m.stats.keySet == m.files.toSet,
      "every committed file must carry stats")
    val decoded = m.stats.values.map(sources.CommitSink.FileStat.decode).toSeq
    assert(decoded.map(_.rows).sum == 1000L)
    assert(decoded.forall(_.bytes > 0L))
    // the id ranges of the 4 range-partitioned files must tile 0..999
    val idRanges = decoded.map(_.cols("id")).map(r => (r.min.toLong, r.max.toLong))
      .sortBy(_._1)
    assert(idRanges.head._1 == 0L && idRanges.last._2 == 999L)
    idRanges.sliding(2).foreach { case Seq((_, aMax), (bMin, _)) =>
      assert(aMax < bMin, "range files must not overlap on the sort key")
    case _ => }
    // doubles and ints are statted; strings are not
    assert(decoded.forall(s => s.cols.contains("score") && s.cols.contains("grade")))
    assert(decoded.forall(s => !s.cols.contains("tag")))
  }

  test("o14: a selective range predicate prunes files at planning, result intact") {
    val dir = freshDir("skip")
    fixture(1000).repartitionByRange(4, $"id")
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    val read = spark.read.format("graft-commit").option("path", dir).load()
    val pruned = read.filter($"id" >= 0L && $"id" < 100L)
    assert(sources.CommitScan.plannedPartitions(pruned).size == 1,
      "a 100-id prefix must plan exactly the first of 4 range files")
    assert(pruned.count() == 100L)
    // equality and IN prune too
    assert(sources.CommitScan.plannedPartitions(read.filter($"id" === 999L)).size == 1)
    assert(read.filter($"id" === 999L).count() == 1L)
    assert(sources.CommitScan.plannedPartitions(read.filter($"id".isin(1L, 2L, 998L))).size == 2)
    assert(read.filter($"id".isin(1L, 2L, 998L)).count() == 3L)
    // a double-range predicate prunes nothing here (score spans all files)
    // but must not over-prune
    assert(read.filter($"score" < 5.0).count() ==
      sources.CommitSink.readCommitted(spark, dir).filter($"score" < 5.0).count())
  }

  test("o14: OR keeps both sides' files; skipping never loses rows") {
    val dir = freshDir("or")
    fixture(1000).repartitionByRange(4, $"id")
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    val read = spark.read.format("graft-commit").option("path", dir).load()
    val both = read.filter($"id" < 50L || $"id" >= 950L)
    assert(sources.CommitScan.plannedPartitions(both).size == 2,
      "an OR of the two extremes must keep exactly the first and last file")
    assert(both.count() == 100L)
    // a filter the stats can't decide (string) must not prune at all
    assert(sources.CommitScan.plannedPartitions(read.filter($"tag" === "doc-7")).size == 4)
    assert(read.filter($"tag" === "doc-7").count() == 1L)
  }

  test("o14: pruning is advisory — Spark still applies the full predicate") {
    val dir = freshDir("residual")
    fixture(100).repartitionByRange(2, $"id")
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    val read = spark.read.format("graft-commit").option("path", dir).load()
    // the surviving file contains ids 0..49; the predicate must still
    // filter WITHIN it (a scan that trusted pruning as exact would
    // return all 50 rows of the file). This plain read absorbs both
    // conjuncts, so the reader applies them row by row
    assert(read.filter($"id" >= 10L && $"id" < 20L).count() == 10L)
  }

  // --- o15: statistics reporting → automatic broadcast ---------------------

  test("o15: committed-table stats drive automatic broadcast selection") {
    val dir = freshDir("bcast")
    // a 16-row dimension through the sink
    fixture(1000).groupBy($"k").agg(count(lit(1)).as("k_n"))
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    val dim = spark.read.format("graft-commit").option("path", dir).load()
    val facts = spark.range(100000L).select($"id", ($"id" % 16).as("k"))
    val joined = facts.join(dim, "k") // NO broadcast hint
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"16-row committed dim must auto-broadcast via reported stats:\n$plan")
    assert(joined.count() == 100000L)
    // the reported numbers are the manifest's exact totals
    val st = sources.CommitScan.of(dim).asInstanceOf[sources.CommitScan]
      .estimateStatistics()
    assert(st.numRows().getAsLong == 16L)
    assert(st.sizeInBytes().getAsLong > 0L)
  }

  test("o15: statistics reflect pruned files (post-pushdown estimate)") {
    val dir = freshDir("prunedstats")
    fixture(1000).repartitionByRange(4, $"id")
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    val read = spark.read.format("graft-commit").option("path", dir).load()
    val scan = sources.CommitScan.of(read.filter($"id" < 100L)).asInstanceOf[sources.CommitScan]
    assert(scan.estimateStatistics().numRows().getAsLong == 250L,
      "the estimate must count only the one surviving file's rows")
  }

  // --- o16: storage-partitioned join ---------------------------------------

  test("o16: partitionBy writes one key per file and round-trips exactly") {
    val dir = freshDir("partwrite")
    val in = fixture(1000).select($"id", $"k", $"score")
    in.write.format("graft-commit").option("path", dir)
      .option("partitionBy", "k").mode("overwrite").save()
    val m = sources.CommitSink.parseManifest(java.nio.file.Paths.get(dir)).get
    assert(m.partCol.contains("k"))
    val decoded = m.files.map(f => sources.CommitSink.FileStat.decode(m.stats(f)))
    assert(decoded.forall(_.pk.isDefined), "every partitioned file knows its key")
    assert(decoded.flatMap(_.pk).toSet == (0L until 16L).toSet)
    decoded.foreach { s =>
      val r = s.cols("k")
      assert(r.min.toLong == s.pk.get && r.max.toLong == s.pk.get,
        "a partitioned file holds exactly one key")
    }
    val back = sources.CommitSink.readCommitted(spark, dir)
    assert(back.exceptAll(in).count() == 0 && in.exceptAll(back).count() == 0)
  }

  test("o16: co-partitioned committed tables join with ZERO exchanges") {
    val dirA = freshDir("spj_a"); val dirB = freshDir("spj_b")
    fixture(1000).select($"id", $"k", $"score")
      .write.format("graft-commit").option("path", dirA)
      .option("partitionBy", "k").mode("overwrite").save()
    fixture(1000).groupBy($"k")
      .agg(count(lit(1)).as("k_n"), sum($"id").as("k_sum"))
      .write.format("graft-commit").option("path", dirB)
      .option("partitionBy", "k").mode("overwrite").save()
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") { // force the SPJ path
      val a = spark.read.format("graft-commit").option("path", dirA).load()
      val b = spark.read.format("graft-commit").option("path", dirB).load()
      val joined = a.join(b, "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"the storage-partitioned join must run with no exchange on either side:\n$plan")
      assert(joined.count() == 1000L)
      // value parity with the plain (shuffled) join
      val plainA = sources.CommitSink.readCommitted(spark, dirA)
      val plainB = sources.CommitSink.readCommitted(spark, dirB)
      val expect = plainA.join(plainB, "k")
      assert(joined.exceptAll(expect).count() == 0 &&
        expect.exceptAll(joined).count() == 0)
    }
  }

  test("o16: a filter on the partition key statically prunes whole key groups") {
    val dir = freshDir("partprune")
    fixture(640).select($"id", $"k", $"score")
      .write.format("graft-commit").option("path", dir)
      .option("partitionBy", "k").mode("overwrite").save()
    val read = spark.read.format("graft-commit").option("path", dir).load()
    // every partitioned file records pk as its k-range (min = max = key),
    // so the zone-map skip IS partition pruning here — no extra machinery
    val one = read.filter($"k" === 3L)
    assert(sources.CommitScan.plannedPartitions(one).size == 1,
      "a single-key filter must plan exactly that key's group")
    assert(one.count() == 40L)
    val three = read.filter($"k".isin(1L, 5L, 9L))
    assert(sources.CommitScan.plannedPartitions(three).size == 3)
    assert(three.count() == 120L)
  }

  test("o16: DML preserves the partition layout (copy-on-write keeps partitionBy)") {
    val dir = freshDir("partdml")
    fixture(320).select($"id", $"k", $"score")
      .write.format("graft-commit").option("path", dir)
      .option("partitionBy", "k").mode("overwrite").save()
    // metadata-path DELETE (translatable condition)
    val tbl = new sources.CommitSinkTable(dir)
    import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual}
    tbl.deleteWhere(Array[Filter](GreaterThanOrEqual("id", 160L)))
    val m = sources.CommitSink.parseManifest(java.nio.file.Paths.get(dir)).get
    assert(m.partCol.contains("k"), "DELETE must keep the table partitioned")
    assert(sources.CommitSink.readCommitted(spark, dir).count() == 160L)
    val decoded = m.files.map(f => sources.CommitSink.FileStat.decode(m.stats(f)))
    assert(decoded.forall(_.pk.isDefined), "post-DML files keep one key per file")
  }

  test("o16: an append onto an EMPTY partitioned target records the write's own layout") {
    val dir = freshDir("partempty")
    fixture(100).select($"id", $"k").limit(0)
      .write.format("graft-commit").option("path", dir)
      .option("partitionBy", "k").mode("overwrite").save()
    assert(sources.CommitSink.parseManifest(java.nio.file.Paths.get(dir))
      .get.partCol.contains("k"))
    // the target holds zero files, so an UNpartitioned append is legal —
    // and the manifest must then describe the files actually written,
    // not the stale empty version's layout (a wrong partCol would make
    // the scan advertise a KeyGroupedPartitioning the files don't have)
    fixture(100).select($"id", $"k")
      .write.format("graft-commit").option("path", dir).mode("append").save()
    val m = sources.CommitSink.parseManifest(java.nio.file.Paths.get(dir)).get
    assert(m.partCol.isEmpty, "the write's own (un)partitioning must win")
    assert(sources.CommitSink.readCommitted(spark, dir).count() == 100L)
  }

  test("o17: versionAsOf is case-insensitive like every Spark option") {
    val dir = freshDir("travel_case")
    fixture(100).select($"id").write.format("graft-commit")
      .option("path", dir).mode("overwrite").save()
    fixture(10).select($"id").write.format("graft-commit")
      .option("path", dir).mode("overwrite").save()
    val pinned = spark.read.format("graft-commit").option("path", dir)
      .option("versionasof", "0").load() // lower-case key
    assert(pinned.count() == 100L,
      "a case-variant option key must still pin the version, not silently read current")
  }

  test("o19: expiry on a never-versioned directory is a no-op") {
    val dir = freshDir("expire_empty")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    assert(sources.CommitSink.expireVersions(dir, keepLast = 1) ==
      ((Seq.empty, Seq.empty)))
  }

  test("o16: appending with a different layout is refused") {
    val dir = freshDir("partmix")
    fixture(100).select($"id", $"k")
      .write.format("graft-commit").option("path", dir)
      .option("partitionBy", "k").mode("overwrite").save()
    val e = intercept[Exception] {
      fixture(100).select($"id", $"k")
        .write.format("graft-commit").option("path", dir)
        .mode("append").save()
    }
    assert(e.getMessage != null && e.getMessage.contains("partition-layout mismatch")
      || e.getCause != null && e.getCause.getMessage.contains("partition-layout mismatch"))
    // the refused append left the table intact
    assert(sources.CommitSink.readCommitted(spark, dir).count() == 100L)
  }

  /** BatchScanExec hides its scan behind lazy fields until execution —
    * disable AQE around plan assertions (mirrors Dsv2Spec). */
  private def withoutAqe[A](body: => A): A =
    withConf("spark.sql.adaptive.enabled" -> "false")(body)

  test("o14: RUNTIME file skipping — a selective broadcast dim prunes fact files at execution") { withoutAqe {
    val dir = freshDir("dpp")
    fixture(1000).select($"id", $"score").repartitionByRange(4, $"id")
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    val fact = spark.read.format("graft-commit").option("path", dir).load()
    // selective predicate on the build side — the DPP rule's benefit gate
    val keys = spark.range(1000L).filter($"id" >= 10L && $"id" < 40L)
    val joined = fact.join(broadcast(keys), "id")
      .agg(count(lit(1)).as("n"), min($"id").as("min_id"), max($"id").as("max_id"))
    val row = joined.collect()(0)
    assert(row.getLong(0) == 30L && row.getLong(1) == 10L && row.getLong(2) == 39L)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("RuntimeFilters: [dynamicpruning"), plan.take(2000))
    val scan = joined.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec if b.scan.isInstanceOf[sources.CommitScan] => b
    }.getOrElse(fail("no commit BatchScanExec in executed plan"))
    val parts = scan.scan.asInstanceOf[org.apache.spark.sql.connector.read.Batch]
      .planInputPartitions()
    assert(parts.length == 1,
      s"the key set [10, 40) must runtime-prune to the first of 4 files, got ${parts.length}")
  } }

  // --- o18: column pruning + metadata-only aggregates ----------------------

  test("o18: column pruning reaches the commit-sink reader") {
    val dir = freshDir("prune_cols")
    fixture(100).write.format("graft-commit").option("path", dir)
      .mode("overwrite").save()
    val read = spark.read.format("graft-commit").option("path", dir).load()
    val two = read.select($"id", $"tag")
    val scan = sources.CommitScan.of(two).asInstanceOf[sources.CommitScan]
    assert(scan.readSchema().fieldNames.toSeq == Seq("id", "tag"),
      "the scan must read only the projected columns")
    assert(two.count() == 100L)
    assert(two.filter($"tag" === "doc-7").head().getLong(0) == 7L)
    // a projection needing ZERO source columns (a literal blocks the
    // CountStar pushdown) must prune to an EMPTY read schema and still
    // count rows — the empty-DDL reader path
    val none = read.select(lit(1).as("one"))
    assert(sources.CommitScan.of(none).asInstanceOf[sources.CommitScan]
      .readSchema().isEmpty, "literal-only projection prunes every column")
    assert(none.count() == 100L)
  }

  test("o18: unfiltered COUNT/MIN/MAX are answered from the manifest alone") {
    val dir = freshDir("meta_agg")
    fixture(1000).select($"id", $"k", $"grade", $"score")
      .repartitionByRange(4, $"id")
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    // the brutal proof that no data file is opened: DELETE them all
    // (keep only the manifests) and aggregate anyway
    val p = java.nio.file.Paths.get(dir)
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.list(p)
    try s.iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .foreach(java.nio.file.Files.delete)
    finally s.close()
    val read = spark.read.format("graft-commit").option("path", dir).load()
    val agg = read.agg(count(lit(1)).as("n"), min($"id").as("min_id"),
      max($"id").as("max_id"), min($"grade").as("min_grade"),
      max($"grade").as("max_grade"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("META-ONLY"), s"expected the metadata-agg scan:\n$plan")
    val r = agg.head()
    assert(r.getLong(0) == 1000L && r.getLong(1) == 0L && r.getLong(2) == 999L)
    assert(r.getInt(3) == 0 && r.getInt(4) == 99, "int columns keep their type")
  }

  test("o18: a WHERE clause or a double column declines the metadata path") {
    val dir = freshDir("meta_decline")
    fixture(1000).select($"id", $"score")
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    val read = spark.read.format("graft-commit").option("path", dir).load()
    // filtered: must read real data (the count reflects the filter)
    val filtered = read.filter($"id" < 100L).agg(count(lit(1)))
    assert(!filtered.queryExecution.executedPlan.toString.contains("META-ONLY"))
    assert(filtered.head().getLong(0) == 100L)
    // MAX over a double is NaN-unsafe from ranges: declined, computed honestly
    val dmax = read.agg(max($"score"))
    assert(!dmax.queryExecution.executedPlan.toString.contains("META-ONLY"))
    assert(dmax.head().getDouble(0) == 99.9)
  }

  // --- absorbed predicates: the reader evaluates the exact subset ----------

  /** Every absorbable column type, with a NULL in each column on every
    * tenth row, written as 3 range files. */
  private def typedFixture(dir: String): Unit =
    spark.range(300L).selectExpr(
      "id",
      "IF(id % 10 = 0, NULL, CAST(id % 50 AS INT)) AS i",
      "IF(id % 10 = 0, NULL, CAST(id % 40 AS SMALLINT)) AS s",
      "IF(id % 10 = 0, NULL, CAST(id % 30 AS TINYINT)) AS b",
      "IF(id % 10 = 0, NULL, id % 3 = 0) AS flag",
      "IF(id % 10 = 0, NULL, concat('v-', id % 20)) AS str",
      "IF(id % 10 = 0, NULL, date_add(DATE'2024-01-01', CAST(id % 25 AS INT))) AS d",
      "IF(id % 10 = 0, NULL, TIMESTAMP'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id % 35)) AS ts",
      "IF(id % 10 = 0, NULL, CAST(TIMESTAMP'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id % 15) AS TIMESTAMP_NTZ)) AS ntz",
      "CAST(id % 9 AS DOUBLE) / 2 AS score")
      .repartitionByRange(3, $"id")
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()

  private def absorbedFilters(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan
    plan.collect { case f: org.apache.spark.sql.execution.FilterExec => f }.isEmpty &&
      sources.CommitScan.of(df).description().contains("filters: ")
  }

  test("absorb: each supported type filters in the reader exactly as Spark does over the files") {
    val dir = freshDir("absorb_types")
    typedFixture(dir)
    val read = spark.read.format("graft-commit").option("path", dir).load()
    val ref = sources.CommitSink.readCommitted(spark, dir)
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    val absorbed = Seq(
      "id = 7", "id <=> 7", "id < 5", "id <= 5", "id > 295", "id >= 295",
      "id IN (1, 2, 299)", "i = 3", "i IN (1, NULL)", "i <=> NULL", "i IS NULL",
      "i IS NOT NULL AND i > 45", "s >= 38", "b < 2", "flag = true",
      "flag <=> NULL", "str = 'v-7'", "str > 'v-8'", "str IN ('v-1', NULL)",
      "d >= DATE'2024-01-23'", "ts < TIMESTAMP'2024-01-01 00:00:02'",
      "ntz = TIMESTAMP_NTZ'2024-01-01 00:00:05'", "id < 100 AND str <= 'v-11'")
    absorbed.foreach { p =>
      val got = read.where(p)
      withClue(s"$p:\n${got.queryExecution.executedPlan}") {
        assert(absorbedFilters(got), "the predicate must be absorbed")
        assert(rows(got) == rows(ref.where(p)))
      }
    }
    // a filter column outside the SELECT list is still decoded and tested
    val narrow = read.where("i = 3 AND str IS NOT NULL").select($"score")
    assert(absorbedFilters(narrow))
    assert(rows(narrow) == rows(ref.where("i = 3 AND str IS NOT NULL").select($"score")))
    // doubles, OR and functions stay with Spark, same answer
    Seq("score > 2.0", "id = 1 OR id = 2", "length(str) = 3").foreach { p =>
      val got = read.where(p)
      withClue(p) {
        assert(!absorbedFilters(got))
        assert(rows(got) == rows(ref.where(p)))
      }
    }
  }

  test("absorb: COUNT(*) under an absorbed WHERE counts real rows, never META-ONLY") {
    val dir = freshDir("absorb_count")
    typedFixture(dir)
    val read = spark.read.format("graft-commit").option("path", dir).load()
    val ref = sources.CommitSink.readCommitted(spark, dir)
    Seq("i = 3", "str IS NULL", "id >= 120 AND id < 130").foreach { p =>
      val n = read.where(p).agg(count(lit(1)))
      val plan = n.queryExecution.executedPlan.toString
      withClue(s"$p:\n$plan") {
        assert(!plan.contains("META-ONLY"))
        assert(!plan.contains("Filter "))
        assert(n.head().getLong(0) == ref.where(p).count())
      }
    }
  }

  test("absorb: _pos under a filter equals the unfiltered positions") {
    val dir = freshDir("absorb_pos")
    typedFixture(dir)
    val read = spark.read.format("graft-commit").option("path", dir).load()
    val meta = read.select($"_file", $"_pos", $"id")
    val filtered = meta.where($"id" >= 150L && $"id" < 160L)
    assert(absorbedFilters(filtered))
    val all = meta.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(filtered.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
      all.filter(t => t._3 >= 150L && t._3 < 160L).toSet)
    assert(all.exists(t => t._3 >= 150L && t._3 < 160L && t._2 > 0L),
      "the lookup's rows sit past position 0 of their file")
  }

  test("absorb: copy-on-write and merge-on-read DML keep every non-matching row") {
    // DML scans never absorb: the copy-on-write rewrite carries each
    // scanned file's non-matching rows, and the merge-on-read scan is
    // pinned like a version read — both must see every row
    val root = freshDir("absorb_dml")
    spark.conf.set("spark.sql.catalog.graft_lake_ab", "graft.sources.CommitCatalog")
    spark.conf.set("spark.sql.catalog.graft_lake_ab.root", root)
    val base = fixture(1000).select($"id", $"score", $"tag")
    Seq("cow", "mor").foreach { t =>
      base.repartitionByRange(4, $"id") // 4 files with DISJOINT id ranges
        .write.format("graft-commit").option("path", s"$root/default/$t")
        .mode("overwrite").save()
    }
    spark.range(500L, 510L).union(spark.range(2000L, 2003L))
      .select($"id", lit(-1.0).as("score")).createOrReplaceTempView("ab_src")
    def dml(t: String): Unit = {
      spark.sql(s"UPDATE graft_lake_ab.`default`.$t SET score = score + 1000.0 " +
        "WHERE id >= 250 AND id < 260")
      spark.sql(s"DELETE FROM graft_lake_ab.`default`.$t WHERE id < 300 AND id % 7 = 0")
      spark.sql(s"""MERGE INTO graft_lake_ab.`default`.$t t USING ab_src s ON t.id = s.id
                   WHEN MATCHED THEN UPDATE SET score = s.score
                   WHEN NOT MATCHED THEN INSERT (id, score, tag) VALUES (s.id, s.score, 'new')""")
    }
    dml("cow")
    withConf("spark.graft.commit.rowLevelMode" -> "merge-on-read")(dml("mor"))
    val mor = sources.CommitSink.parseManifest(java.nio.file.Paths.get(s"$root/default/mor")).get
    assert(mor.deletes.nonEmpty, "the merge-on-read table took deletion vectors")
    val expected = base
      .where(!($"id" < 300L && $"id" % 7 === 0L))
      .select($"id",
        when($"id" >= 500L && $"id" < 510L, lit(-1.0))
          .when($"id" >= 250L && $"id" < 260L, $"score" + 1000.0)
          .otherwise($"score").as("score"), $"tag")
      .union(spark.range(2000L, 2003L).select($"id", lit(-1.0).as("score"), lit("new").as("tag")))
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    val want = rows(expected)
    assert(want.size == 1000 - 43 + 3)
    assert(rows(sources.CommitSink.readCommitted(spark, s"$root/default/cow")) == want)
    assert(rows(spark.read.format("graft-commit").option("path", s"$root/default/mor").load()) == want)
  }

  // --- driver-local reads: a small filtered read runs no Spark job ---------

  private def scans(df: DataFrame): (Int, Int) = {
    val plan = df.queryExecution.executedPlan
    (plan.collect { case l: org.apache.spark.sql.execution.LocalTableScanExec => l }.size,
      plan.collect { case b: BatchScanExec => b }.size)
  }
  private def isLocal(df: DataFrame): Boolean = scans(df) == (1, 0)
  private def isBatch(df: DataFrame): Boolean = scans(df) == (0, 1)

  /** A catalog over a fresh root, for the DML and ALTER the fixtures need. */
  private def localCatalog(tag: String): (String, String) = {
    val root = freshDir(tag)
    val cat = s"graft_lake_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CommitCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (s"$cat.`default`", s"$root/default")
  }

  private def manifest(path: String) =
    sources.CommitSink.parseManifest(java.nio.file.Paths.get(path)).get

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** The local read of `path` under `p` returns exactly what Spark's own
    * parquet scan of the committed files returns under `p`. */
  private def assertLocalEqualsCommitted(path: String, p: String): Unit = {
    val got = spark.read.format("graft-commit").option("path", path).load().where(p)
    withClue(s"$p:\n${got.queryExecution.executedPlan}") {
      assert(isLocal(got), "the read must be served locally")
      assert(sortedRows(got) ==
        sortedRows(sources.CommitSink.readCommitted(spark, path).where(p)))
    }
  }

  test("local read: deletion vectors, _file/_pos and empty results match readCommitted") {
    val (cat, dir) = localCatalog("local_dv")
    fixture(1000).select($"id", $"score", $"tag").repartitionByRange(4, $"id")
      .write.format("graft-commit").option("path", s"$dir/t").mode("overwrite").save()
    withConf("spark.graft.commit.deleteMode" -> "merge-on-read") {
      spark.sql(s"DELETE FROM $cat.t WHERE id >= 100 AND id < 110")
    }
    val path = s"$dir/t"
    assert(manifest(path).deletes.nonEmpty, "the DELETE must land as a vector")
    Seq(s"id IN (${(95 until 120).mkString(", ")})", "id = 105", "id = 5000",
      "tag = 'doc-7'", "id <=> 3 AND tag IS NOT NULL")
      .foreach(assertLocalEqualsCommitted(path, _))
    val read = spark.read.format("graft-commit").option("path", path).load()
    assert(read.where("id = 105").collect().isEmpty && read.where("id = 5000").collect().isEmpty)
    // _file/_pos: the local rows carry the positions the batch scan of the
    // whole table stamps, vectors skipped
    val meta = read.select($"_file", $"_pos", $"id")
    val local = meta.where($"id".isin(95L until 120L: _*))
    assert(isLocal(local))
    val all = meta.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(isBatch(meta))
    val want = all.filter(t => t._3 >= 95L && t._3 < 120L).toSet
    assert(want.size == 15)
    assert(local.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet == want)
  }

  test("local read: equality deletes and pre-rename files match readCommitted") {
    val (cat, dir) = localCatalog("local_eq")
    val path = s"$dir/t"
    fixture(1000).select($"id", $"score", $"tag").repartitionByRange(4, $"id")
      .write.format("graft-commit").option("path", path).mode("overwrite").save()
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN tag TO label")
    spark.range(100L, 110L).select($"id", lit(-1.0).as("score"), lit("up").as("label"))
      .write.format("graft-commit").option("path", path)
      .option("upsertKeys", "id").mode("append").save()
    val m = manifest(path)
    assert(m.eqDeletes.nonEmpty && m.schemaLog.nonEmpty,
      "the upsert must land as an equality delete over pre-rename files")
    Seq(s"id IN (${(95 until 120).mkString(", ")})", "id IN (3, 7, 11)", "id = 105",
      "label = 'doc-7'", "label = 'up'", "label IN ('doc-98', 'up') AND id < 500")
      .foreach(assertLocalEqualsCommitted(path, _))
  }

  test("local read: over the byte bound, unfiltered, range, change-feed and CBO reads stay batch") {
    val dir = freshDir("local_bound")
    // two range files of ~0.6 MiB of incompressible text: one fits the
    // bound, both together are just over it
    spark.range(10000L).select($"id", sha2($"id".cast("string"), 512).as("h"))
      .repartitionByRange(2, $"id")
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    val bytes = manifest(dir).stats.values.map(sources.CommitSink.FileStat.decode(_).bytes)
    val bound = sources.CommitLocalScan.MaxBytes
    assert(bytes.size == 2 && bytes.forall(_ <= bound) && bytes.sum > bound &&
      bytes.sum < 2 * bound, s"file bytes $bytes against the bound $bound")
    val read = spark.read.format("graft-commit").option("path", dir).load()
    val one = read.where($"id".isin(1L, 2L, 3L))
    assert(isLocal(one) && one.collect().length == 3)
    val both = read.where($"id".isin(1L, 9999L))
    assert(isBatch(both) && both.collect().length == 2)
    // unfiltered: the read that feeds joins, runtime filtering and SPJ
    val small = freshDir("local_unfiltered")
    fixture(100).write.format("graft-commit").option("path", small).mode("overwrite").save()
    val whole = spark.read.format("graft-commit").option("path", small).load()
    assert(isBatch(whole) && whole.collect().length == 100)
    // a range filter: what Spark infers on a join input from the other side
    val range = whole.where($"id" >= 10L && $"id" < 20L)
    assert(isBatch(range) && range.collect().length == 10)
    // the change feed never absorbs
    val feed = spark.read.format("graft-commit").option("path", small)
      .option("readChangeFeed", true).load().where($"id" === 7L)
    assert(isBatch(feed) && feed.collect().length == 1)
    // a CBO session absorbs nothing: its Filter is what CBO prices
    withConf("spark.sql.cbo.enabled" -> "true") {
      val cbo = spark.read.format("graft-commit").option("path", small).load()
        .where($"id" === 7L)
      assert(isBatch(cbo) && cbo.collect().length == 1)
    }
  }

  test("local read: DML and stream scans stay batch and micro-batch scans") {
    import org.apache.spark.sql.execution.{CommandResultExec, LocalTableScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p.flatMap {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case c: CommandResultExec => nodes(c.commandPhysicalPlan)
      case x => Seq(x)
    }
    val (cat, dir) = localCatalog("local_dml")
    val path = s"$dir/t"
    fixture(100).select($"id", $"score").write.format("graft-commit")
      .option("path", path).mode("overwrite").save()
    val upd = spark.sql(s"UPDATE $cat.t SET score = -1.0 WHERE id = 5")
    val plan = nodes(upd.queryExecution.executedPlan)
    assert(plan.exists {
      case b: BatchScanExec => b.scan.isInstanceOf[sources.CommitScan]
      case _ => false
    }, plan.mkString("\n"))
    assert(!plan.exists(_.isInstanceOf[LocalTableScanExec]), plan.mkString("\n"))
    assert(sources.CommitSink.readCommitted(spark, path).where($"score" === -1.0)
      .collect().map(_.getLong(0)).toSeq == Seq(5L))
    // a filtered stream reads through the micro-batch scan
    val q = spark.readStream.format("graft-commit").option("path", path).load()
      .where($"id".isin(1L, 2L, 3L)).writeStream.format("memory").queryName("lake_local_stream")
      .option("checkpointLocation", freshDir("local_stream_ck")).start()
    try {
      q.processAllAvailable()
      val exec = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      assert(exec.collect {
        case m: org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec => m
      }.size == 1, exec)
      assert(exec.collect { case l: LocalTableScanExec => l }.isEmpty, exec)
    } finally q.stop()
    assert(spark.table("lake_local_stream").count() == 3L)
  }

  // --- o19: compaction + snapshot expiry ------------------------------------

  test("o19: compaction rewrites small files as one new version, values untouched") {
    val dir = freshDir("compact")
    val in = fixture(1000).select($"id", $"k", $"score")
    in.filter($"id" < 500L).repartition(8)
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    in.filter($"id" >= 500L).repartition(8)
      .write.format("graft-commit").option("path", dir).mode("append").save()
    val p = java.nio.file.Paths.get(dir)
    assert(sources.CommitSink.parseManifest(p).get.files.size == 16)
    sources.CommitSink.compact(spark, dir, 4)
    val m = sources.CommitSink.parseManifest(p).get
    assert(m.files.size == 4, "16 small files must compact to 4")
    val back = sources.CommitSink.readCommitted(spark, dir)
    assert(back.exceptAll(in).count() == 0 && in.exceptAll(back).count() == 0,
      "compaction must be value-invisible (bit-exact doubles)")
    // pre-compaction versions still time-travel readable
    assert(sources.CommitSink.readCommittedVersion(spark, dir, 1L).count() == 1000L)
    assert(sources.CommitSink.readCommittedVersion(spark, dir, 0L).count() == 500L)
  }

  test("o19: compaction of a partitioned table keeps the one-key-per-file layout") {
    val dir = freshDir("compact_part")
    val in = fixture(640).select($"id", $"k", $"score")
    in.write.format("graft-commit").option("path", dir)
      .option("partitionBy", "k").mode("overwrite").save()
    sources.CommitSink.compact(spark, dir, 4)
    val m = sources.CommitSink.parseManifest(java.nio.file.Paths.get(dir)).get
    assert(m.partCol.contains("k"), "compaction must keep the partition column")
    val decoded = m.files.map(f => sources.CommitSink.FileStat.decode(m.stats(f)))
    assert(decoded.forall(_.pk.isDefined) &&
      decoded.flatMap(_.pk).toSet == (0L until 16L).toSet,
      "every compacted file still holds exactly one partition key")
    val back = sources.CommitSink.readCommitted(spark, dir)
    assert(back.exceptAll(in).count() == 0 && in.exceptAll(back).count() == 0)
  }

  test("o19: expiry drops old versions and exactly their orphaned files") {
    val dir = freshDir("expire")
    val in = fixture(600).select($"id", $"score")
    in.filter($"id" < 300L).repartition(3)
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    in.filter($"id" >= 300L).repartition(3)
      .write.format("graft-commit").option("path", dir).mode("append").save()
    sources.CommitSink.compact(spark, dir, 2) // version 2
    val p = java.nio.file.Paths.get(dir)
    import scala.jdk.CollectionConverters._
    def dataFiles: Set[String] = {
      val s = java.nio.file.Files.list(p)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("part-")).toSet
      finally s.close()
    }
    assert(dataFiles.size == 8, "6 original + 2 compacted before expiry")
    val (expired, removed) = sources.CommitSink.expireVersions(dir, keepLast = 1)
    assert(expired == Seq(0L, 1L))
    assert(removed.size == 6, "exactly the pre-compaction files are GC'd")
    assert(dataFiles.size == 2)
    assert(sources.CommitSink.listVersions(p) == Seq(2L))
    // the current version is untouched
    val back = sources.CommitSink.readCommitted(spark, dir)
    assert(back.exceptAll(in).count() == 0 && in.exceptAll(back).count() == 0)
    // keepLast must retain at least the current version
    intercept[IllegalArgumentException] {
      sources.CommitSink.expireVersions(dir, keepLast = 0)
    }
  }

  test("o19: expiry keeps files a retained version still references") {
    val dir = freshDir("expire_shared")
    // v0 writes files; v1 APPENDS — v1's manifest references v0's files,
    // so expiring v0 must delete NOTHING
    fixture(100).select($"id").repartition(2)
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    fixture(200).filter($"id" >= 100L).select($"id").repartition(2)
      .write.format("graft-commit").option("path", dir).mode("append").save()
    val (expired, removed) = sources.CommitSink.expireVersions(dir, keepLast = 1)
    assert(expired == Seq(0L) && removed.isEmpty,
      "v0's files live on inside v1 — expiry must not touch them")
    assert(sources.CommitSink.readCommitted(spark, dir).count() == 200L)
  }

  test("DML on a multi-file zone-mapped table must not lose unmatched files' rows") {
    // regression for the runtime-group-filtering data-loss hazard: the
    // row-level rewrite replaces the WHOLE table, so its scan must read
    // every file — if Spark's row-level runtime group filtering were
    // allowed to hand this scan the matched keys, files with disjoint id
    // ranges (zone maps!) would prune and their rows would vanish
    val root = freshDir("dml_dataloss")
    spark.conf.set("spark.sql.catalog.graft_lake_dl", "graft.sources.CommitCatalog")
    spark.conf.set("spark.sql.catalog.graft_lake_dl.root", root)
    val path = s"$root/default/t"
    fixture(1000).select($"id", $"score")
      .repartitionByRange(4, $"id") // 4 files with DISJOINT id ranges
      .write.format("graft-commit").option("path", path).mode("overwrite").save()
    spark.sql("UPDATE graft_lake_dl.`default`.t SET score = score + 1000.0 WHERE id < 40")
    val back = sources.CommitSink.readCommitted(spark, path)
    assert(back.count() == 1000L,
      "an UPDATE matching one file must never drop the other files' rows")
    assert(back.filter($"score" >= 1000.0).count() == 40L)
    assert(back.filter($"id" >= 40L && $"score" >= 1000.0).count() == 0L)
    // same shape through MERGE's DELETE branch
    spark.range(10L).select($"id").createOrReplaceTempView("dl_src")
    spark.sql("""MERGE INTO graft_lake_dl.`default`.t t USING dl_src s
                 ON t.id = s.id WHEN MATCHED THEN DELETE""")
    assert(sources.CommitSink.readCommitted(spark, path).count() == 990L,
      "a MERGE DELETE of 10 ids must keep the other 990 rows")
  }

  // --- o20: the table as a stream -------------------------------------------

  test("o20: commit-granular triggers, incremental pickup, rewrite refusal") {
    val dir = freshDir("tablestream")
    val ck = freshDir("tablestream_ck")
    spark.catalog.dropTempView("o20_spec")
    fixture(300).filter($"id" < 100L).select($"id", $"score")
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    fixture(300).filter($"id" >= 100L && $"id" < 200L).select($"id", $"score")
      .write.format("graft-commit").option("path", dir).mode("append").save()
    val q = spark.readStream.format("graft-commit")
      .option("path", dir).option("maxCommitsPerTrigger", "1").load()
      .groupBy().agg(count(lit(1)).as("n"), sum($"id").as("sum_id"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("o20_spec").option("checkpointLocation", ck).start()
    q.processAllAvailable()
    assert(spark.table("o20_spec").head().getLong(0) == 200L,
      "the two existing commits must both be consumed")
    val trigAfter2 = q.recentProgress.count(_.numInputRows > 0)
    assert(trigAfter2 == 2,
      s"maxCommitsPerTrigger=1 over 2 commits must run 2 data triggers, got $trigAfter2")
    // a commit made WHILE the stream runs is picked up incrementally
    fixture(300).filter($"id" >= 200L).select($"id", $"score")
      .write.format("graft-commit").option("path", dir).mode("append").save()
    q.processAllAvailable()
    val r = spark.table("o20_spec").head()
    assert(r.getLong(0) == 300L && r.getLong(1) == (0L until 300L).sum,
      "the live append must arrive as its own batch")
    q.stop()
    // a REWRRITE inside the unconsumed range must fail loudly, not
    // silently re-deliver: truncate the table, restart from the same
    // checkpoint — the next range (consumed..current) removed files
    fixture(10).select($"id", $"score")
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    val q2 = spark.readStream.format("graft-commit")
      .option("path", dir).load()
      .groupBy().agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("o20_spec2").option("checkpointLocation", ck).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("append-only")), s"got: ${msgs(e)}")
    q2.stop()
  }

  test("o20: a FRESH stream on a rewritten-history table bootstraps from the snapshot") {
    // regression: per-commit admission over a history containing a
    // rewrite used to crash-loop a fresh consumer (no fresh checkpoint
    // could ever clear the historical range); the genesis consumer must
    // instead take the current snapshot in one batch
    val dir = freshDir("ts_rewrit"); val ck = freshDir("ts_rewrit_ck")
    spark.catalog.dropTempView("o20_boot")
    fixture(100).select($"id").write.format("graft-commit")
      .option("path", dir).mode("overwrite").save()              // v0
    fixture(50).select($"id").write.format("graft-commit")
      .option("path", dir).mode("overwrite").save()              // v1 REWRITE
    fixture(200).filter($"id" >= 50L).select($"id")
      .write.format("graft-commit").option("path", dir).mode("append").save() // v2
    val q = spark.readStream.format("graft-commit")
      .option("path", dir).option("maxCommitsPerTrigger", "1").load()
      .groupBy().agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("o20_boot").option("checkpointLocation", ck).start()
    q.processAllAvailable()
    q.stop()
    assert(spark.table("o20_boot").head().getLong(0) == 200L,
      "the fresh consumer must read the whole current snapshot")
  }

  test("o20: expired intermediate versions do not break a fresh consumer") {
    val dir = freshDir("ts_expired"); val ck = freshDir("ts_expired_ck")
    spark.catalog.dropTempView("o20_exp")
    fixture(100).select($"id").write.format("graft-commit")
      .option("path", dir).mode("overwrite").save()
    fixture(200).filter($"id" >= 100L).select($"id")
      .write.format("graft-commit").option("path", dir).mode("append").save()
    fixture(300).filter($"id" >= 200L).select($"id")
      .write.format("graft-commit").option("path", dir).mode("append").save()
    // GC the early version manifests — admission must step only through
    // versions that still exist
    sources.CommitSink.expireVersions(dir, keepLast = 1)
    val q = spark.readStream.format("graft-commit")
      .option("path", dir).option("maxCommitsPerTrigger", "1").load()
      .groupBy().agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("o20_exp").option("checkpointLocation", ck).start()
    q.processAllAvailable()
    q.stop()
    assert(spark.table("o20_exp").head().getLong(0) == 300L)
  }

  test("o20: a dropped-and-recreated table is detected, never silently skipped") {
    val dir = freshDir("ts_gen"); val ck = freshDir("ts_gen_ck")
    spark.catalog.dropTempView("o20_gen")
    fixture(100).select($"id").write.format("graft-commit")
      .option("path", dir).mode("overwrite").save()
    fixture(200).filter($"id" >= 100L).select($"id")
      .write.format("graft-commit").option("path", dir).mode("append").save()
    val q = spark.readStream.format("graft-commit").option("path", dir).load()
      .groupBy().agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("o20_gen").option("checkpointLocation", ck).start()
    q.processAllAvailable()
    q.stop()
    assert(spark.table("o20_gen").head().getLong(0) == 200L)
    // DROP the table (directory) and re-create a new generation with
    // MORE commits than the checkpointed offset
    Tables.deleteRecursively(dir)
    fixture(10).select($"id").write.format("graft-commit")
      .option("path", dir).mode("overwrite").save()
    fixture(20).filter($"id" >= 10L).select($"id")
      .write.format("graft-commit").option("path", dir).mode("append").save()
    val q2 = spark.readStream.format("graft-commit").option("path", dir).load()
      .groupBy().agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("o20_gen2").option("checkpointLocation", ck).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("dropped and re-created")), s"got: ${msgs(e)}")
    q2.stop()
  }

  test("o20: a malformed maxCommitsPerTrigger names the option in its error") {
    val dir = freshDir("ts_badopt")
    fixture(10).select($"id").write.format("graft-commit")
      .option("path", dir).mode("overwrite").save()
    val e = intercept[Exception] {
      spark.read.format("graft-commit").option("path", dir)
        .option("maxCommitsPerTrigger", "all").load().count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("maxCommitsPerTrigger")), s"got: ${msgs(e)}")
  }

  // --- d32: streaming incremental dedup over the changelog ------------------

  test("d32: the streamed admit decisions equal d22's one-shot run row-for-row") {
    val streamed = ext.Dedup.d32StreamDedup(spark, sf0001)
    val oneShot = ext.Dedup.d22IncrementalScale(spark, sf0001)
    assert(streamed.count() == oneShot.count() && streamed.count() > 0)
    assert(streamed.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(streamed).count() == 0,
      "batch tiling must be invisible: per-doc signatures make the near " +
        "probe's banding independent of batch composition")
    // the decisions landed through the transactional sink in 2 commits —
    // one per incoming changelog batch (the multi-batch proof shape).
    // Since r13 the entry sweeps its scratch tables before returning, so
    // the commit-count proof is a require INSIDE d32StreamDedup (checked
    // before the sweep) — reaching this line means it held.
  }

  // --- w17: bounded-state streaming dedup -----------------------------------

  test("w17: within-watermark dedup suppresses near re-arrivals and RE-ADMITS after eviction") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val ck = freshDir("w17_spec_ck")
    spark.catalog.dropTempView("w17_spec")
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val q = mem.toDF().toDF("k", "ts")
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("k")
      .writeStream.outputMode("append").format("memory")
      .queryName("w17_spec").option("checkpointLocation", ck).start()
    // batch 1: key 1 arrives, then re-arrives 5 s later — WITHIN the
    // 10 s horizon, so the duplicate is suppressed
    mem.addData((1L, ts(0)), (1L, ts(5)))
    q.processAllAvailable()
    // batch 2: a far-future key advances the watermark to 990 s, which
    // passes key 1's eventTime + delay → its dedup state is EVICTED
    mem.addData((99L, ts(1000)))
    q.processAllAvailable()
    // batch 3: key 1 re-arrives AFTER eviction — admitted again. This
    // is the bounded-state contract: unlike w04's unbounded
    // dropDuplicates (one state row per key forever), state size here
    // is proportional to the duplicate-arrival horizon, not key count
    mem.addData((1L, ts(1001)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("w17_spec").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000L)).toSeq
    // WHICH of two same-batch duplicates survives is arrival-order
    // dependent (post-shuffle order) — assert the deterministic claims:
    // one batch-1 survivor for key 1, the re-arrival admitted, 99 once
    assert(got.size == 3, s"expected 3 admitted rows, got $got")
    assert(got.count(_._1 == 1L) == 2, s"key 1 must admit twice, got $got")
    assert(got.contains((99L, 1000L)) && got.contains((1L, 1001L)), s"got $got")
    assert(got.exists(r => r._1 == 1L && (r._2 == 0L || r._2 == 5L)),
      s"batch-1 survivor must be one of the two duplicates, got $got")
  }

  // --- o17: time travel -----------------------------------------------------

  test("o17: every commit lands an immutable version manifest; VERSION AS OF reads it") {
    val dir = freshDir("travel")
    val v0 = fixture(100).select($"id", $"score")
    v0.write.format("graft-commit").option("path", dir).mode("overwrite").save()
    fixture(200).filter($"id" >= 100L).select($"id", $"score")
      .write.format("graft-commit").option("path", dir).mode("append").save()
    // a truncate on top — old data files must SURVIVE for time travel
    fixture(10).select($"id", $"score")
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    assert(sources.CommitSink.listVersions(java.nio.file.Paths.get(dir)) ==
      Seq(0L, 1L, 2L))
    assert(sources.CommitSink.readCommittedVersion(spark, dir, 0L).count() == 100L)
    assert(sources.CommitSink.readCommittedVersion(spark, dir, 1L).count() == 200L)
    assert(sources.CommitSink.readCommitted(spark, dir).count() == 10L)
    // the DSv2 read path with versionAsOf
    val pinned = spark.read.format("graft-commit").option("path", dir)
      .option("versionAsOf", "1").load()
    assert(pinned.count() == 200L)
    assert(pinned.filter($"id" < 100L).count() == 100L)
    // version 0's content is bit-identical to what was written
    val back0 = spark.read.format("graft-commit").option("path", dir)
      .option("versionAsOf", "0").load()
    assert(back0.exceptAll(v0).count() == 0 && v0.exceptAll(back0).count() == 0)
  }

  test("o17: SQL VERSION AS OF through the catalog; pinned versions are read-only") {
    val root = freshDir("travel_sql")
    spark.conf.set("spark.sql.catalog.graft_lake_tt", "graft.sources.CommitCatalog")
    spark.conf.set("spark.sql.catalog.graft_lake_tt.root", root)
    val path = s"$root/default/t"
    fixture(100).select($"id", $"score")
      .write.format("graft-commit").option("path", path).mode("overwrite").save()
    spark.sql("DELETE FROM graft_lake_tt.`default`.t WHERE id >= 50")
    assert(spark.sql("SELECT COUNT(*) FROM graft_lake_tt.`default`.t").head().getLong(0) == 50L)
    assert(spark.sql(
      "SELECT COUNT(*) FROM graft_lake_tt.`default`.t VERSION AS OF 0").head().getLong(0) == 100L)
    assert(spark.sql(
      "SELECT COUNT(*) FROM graft_lake_tt.`default`.t VERSION AS OF 1").head().getLong(0) == 50L)
    // a write against a version pin must be refused
    val e = intercept[Exception] {
      fixture(5).select($"id", $"score")
        .write.format("graft-commit").option("path", path)
        .option("versionAsOf", "0").mode("append").save()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // the version-pinned table withdraws BATCH_WRITE, so the writer is
    // refused before any data moves (Spark words it as a CTAS refusal)
    assert(msgs(e).exists(m => m.contains("read-only") ||
        m.contains("does not support") || m.contains("does not allow")),
      s"unexpected: ${msgs(e)}")
  }

  // --- w16: streaming MERGE topology ----------------------------------------

  test("w16: each micro-batch MERGE lands one table version, state exact") {
    val got = sources.Sources.w16StreamMergeUpsert(spark, sf0001)
    val expect = spark.range(20000L)
      .select(($"id" % 97).cast("int").as("sensor"), $"id")
      .groupBy($"sensor")
      .agg(count(lit(1)).as("n"), sum($"id").as("sum_id"))
    assert(got.exceptAll(expect).count() == 0 && expect.exceptAll(got).count() == 0,
      "4 per-batch MERGEs must fold to the one-shot aggregate exactly")
    // version ledger: CREATE (v0) + one copy-on-write MERGE per trigger
    val path = java.nio.file.Paths.get("/tmp/graft_w16/sf0_001/default/sensor_state")
    assert(sources.CommitSink.listVersions(path) == Seq(0L, 1L, 2L, 3L, 4L),
      "each of the 4 micro-batches commits exactly one table version")
  }

  test("o17: a version that never committed fails loudly") {
    val dir = freshDir("travel_missing")
    fixture(10).select($"id").write.format("graft-commit")
      .option("path", dir).mode("overwrite").save()
    val e = intercept[Exception] {
      sources.CommitSink.readCommittedVersion(spark, dir, 7L)
    }
    assert(e.getMessage.contains("no version 7"))
  }
}
