package graft

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-19 wave — the r18 ADVICE fixes first (all five), then the
  * engine-relative backlog (width-aware column stats, partition-source
  * rename, maintenance-pass coverage, streaming partitionBy — separate sections
  * below as they land):
  *
  *  - '''CDF binding ledger''' (ADVICE high): a bounded change-feed
  *    read decodes with the BINDING schema's names, so a rename
  *    committed AFTER `endingVersion` must still reach the per-file
  *    map — the range-union alone read the renamed column of every
  *    pre-rename file as silent NULL.
  *  - '''CDF re-bootstrap renames''' (ADVICE medium): the
  *    snapshotOnRewrite bootstrap ships each file's current→physical
  *    map exactly like the incremental planner and the non-CDF part()
  *    helper.
  *  - '''analyzeNdv temporal parity''' (ADVICE medium): hll_sketch_agg
  *    accepts INT/BIGINT/STRING/BINARY only — temporal and narrow-int
  *    columns are cast to EXACTLY the physical longs the write-path
  *    sketches update with (micros / epoch days / widened), keeping
  *    the two sketch sources mergeable and estimate-identical.
  *  - '''upsert ndvColumns''' (ADVICE low): the o32 upsert writer
  *    threads `ndvColumns` to its data-file delegate instead of
  *    silently dropping it; the streaming sink records per-epoch
  *    sketches the same way.
  *  - '''date-only timestampAsOf''' (ADVICE low): '2026-08-16' reads
  *    as midnight UTC (Delta's accepted form); an unparseable value
  *    names the accepted forms instead of a raw DateTimeParseException.
  */
class Round19Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = s"/tmp/graft_r19_spec/$tag"
    Tables.deleteRecursively(d)
    d
  }

  private def manifest(path: String) =
    sources.CommitSink.parseManifest(Paths.get(path)).get

  private def scopedCat(tag: String): (String, String) = {
    val root = s"/tmp/graft_r19_spec/cat_$tag"
    Tables.deleteRecursively(root)
    val cat = s"graft_r19_$tag"
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

  private def attrNdv(path: String, c: String): Option[Long] =
    withConf("spark.sql.cbo.enabled", "true") {
      spark.read.format("graft-commit").option("path", path).load()
        .queryExecution.optimizedPlan.stats.attributeStats.collectFirst {
          case (a, s) if a.name == c && s.distinctCount.isDefined =>
            s.distinctCount.get.toLong
        }
    }

  // --- CDF binding ledger (ADVICE high) --------------------------------------

  test("cdf: a bounded read before a later rename still maps pre-rename files") {
    val (cat, root) = scopedCat("cdf_bounded_rename")
    val path = s"$root/default/t"
    // v0 + v1: files physically carry 'a'; v2: RENAME a -> b
    spark.range(10L).select($"id".as("a"))
      .write.format("graft-commit").option("path", path)
      .mode("overwrite").save()
    spark.range(10L, 20L).select($"id".as("a"))
      .write.format("graft-commit").option("path", path).mode("append").save()
    spark.sql(s"ALTER TABLE $cat.`default`.t RENAME COLUMN a TO b")
    assert(manifest(path).schemaLog.nonEmpty)
    def feed(opts: (String, Any)*): DataFrame = {
      val r = spark.read.format("graft-commit").option("path", path)
        .option("readChangeFeed", true)
      opts.foldLeft(r)((b, kv) => b.option(kv._1, kv._2.toString)).load()
    }
    // the bug: endingVersion=1 excludes the rename commit from the
    // range union, yet the feed decodes under the current name 'b' —
    // without the binding ledger every 'b' came back NULL
    val bounded = feed("startingVersion" -> 0, "endingVersion" -> 1)
    assert(bounded.columns.contains("b"))
    assert(bounded.filter($"b".isNull).count() == 0L,
      "pre-rename files must map the renamed column, not NULL it")
    assert(bounded.agg(sum($"b")).head().getLong(0) == (0L until 20L).sum)
    // endingTimestamp form binds the same way (both bounds are r18-new)
    val m = manifest(path)
    val v1ts = sources.CommitSink.parseManifestVersion(Paths.get(path), 1L).commitTs
    val byTime = feed("endingTimestamp" -> v1ts)
    assert(byTime.filter($"b".isNull).count() == 0L &&
      byTime.agg(sum($"b")).head().getLong(0) == (0L until 20L).sum)
    // unbounded reads were already correct; unchanged
    val full = feed("startingVersion" -> 0)
    assert(full.filter($"b".isNull).count() == 0L)
    assert(m.commit == 2L)
  }

  test("cdf stream: a trailing trigger window behind a rename maps per file") {
    val (cat, root) = scopedCat("cdf_stream_rename")
    val path = s"$root/default/t"
    spark.range(10L).select($"id".as("a"))
      .write.format("graft-commit").option("path", path)
      .mode("overwrite").save()
    spark.range(10L, 20L).select($"id".as("a"))
      .write.format("graft-commit").option("path", path).mode("append").save()
    spark.sql(s"ALTER TABLE $cat.`default`.t RENAME COLUMN a TO b")
    // maxCommitsPerTrigger=1: the stream BINDS post-rename but its first
    // batches cover pre-rename ranges — the binding ledger must map them
    val got = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    var nulls = 0L
    val q = spark.readStream.format("graft-commit").option("path", path)
      .option("readChangeFeed", true).option("maxCommitsPerTrigger", 1).load()
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        nulls += b.filter($"b".isNull).count()
        b.select($"b").as[Long].collect().foreach(v => got.add(v)); ()
      }
      .option("checkpointLocation", freshDir("cdf_stream_rename_ck")).start()
    try q.processAllAvailable() finally q.stop()
    q.exception.foreach(e => throw e)
    import scala.jdk.CollectionConverters._
    assert(nulls == 0L, "trailing batches must map the renamed column")
    assert(got.asScala.map(_.toLong).sum == (0L until 20L).sum)
  }

  // --- CDF re-bootstrap renames (ADVICE medium) ------------------------------

  test("cdf: snapshotOnRewrite re-bootstrap maps renamed columns of old files") {
    val (cat, root) = scopedCat("cdf_boot_rename")
    val path = s"$root/default/t"
    // v0: 100 rows, physical names (k, x); v1: RENAME x -> y (un-retired:
    // v0's files still carry 'x'); v2: an UPSERT (equality delete) —
    // inexpressible per commit, so a genesis CDF stream must bootstrap
    spark.range(100L).select($"id".as("k"), ($"id" * 2).as("x"))
      .write.format("graft-commit").option("path", path)
      .mode("overwrite").save()
    spark.sql(s"ALTER TABLE $cat.`default`.t RENAME COLUMN x TO y")
    spark.range(10L).select($"id".as("k"), ($"id" + 1000L).as("y"))
      .write.format("graft-commit").option("path", path)
      .option("upsertKeys", "k")
      .mode("append").save()
    assert(manifest(path).schemaLog.nonEmpty && manifest(path).eqDeletes.nonEmpty)
    var nulls = 0L
    var total = 0L
    var sumY = 0L
    val q = spark.readStream.format("graft-commit").option("path", path)
      .option("readChangeFeed", true).option("snapshotOnRewrite", true).load()
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        nulls += b.filter($"y".isNull).count()
        total += b.count()
        sumY += b.agg(coalesce(sum($"y"), lit(0L))).head().getLong(0); ()
      }
      .option("checkpointLocation", freshDir("cdf_boot_rename_ck")).start()
    try q.processAllAvailable() finally q.stop()
    q.exception.foreach(e => throw e)
    // snapshot = 90 surviving v0 rows (keys 10..99) + 10 upserted rows
    assert(total == 100L, s"snapshot row count: $total")
    assert(nulls == 0L, "the re-bootstrap must map pre-rename files' columns")
    assert(sumY == (10L until 100L).map(_ * 2).sum + (0L until 10L).map(_ + 1000L).sum)
  }

  // --- analyzeNdv temporal parity (ADVICE medium) ----------------------------

  test("analyzeNdv: temporal/narrow columns sketch write-path-identically") {
    import sources.CommitSink
    val base = spark.range(500L).select(
      $"id",
      timestamp_micros($"id" * 1000000L + 123L).as("ts"),
      timestamp_micros($"id" * 1000000L + 123L).cast("timestamp_ntz").as("ntz"),
      date_add(to_date(lit("2020-01-01")), ($"id" % 37).cast("int")).as("d"),
      ($"id" % 100).cast("smallint").as("s")).repartition(1)
    val cols = Seq("ts", "ntz", "d", "s")
    // table A: write-path sketches; table B: the analyze pass — same rows
    val pa = freshDir("ndv_writer")
    base.write.format("graft-commit").option("path", pa)
      .option("ndvColumns", cols.mkString(","))
      .mode("overwrite").save()
    val pb = freshDir("ndv_analyze")
    base.write.format("graft-commit").option("path", pb)
      .mode("overwrite").save()
    // a non-UTC session must not skew the NTZ cast (the pass scopes UTC)
    withConf("spark.sql.session.timeZone", "America/New_York") {
      CommitSink.analyzeNdv(spark, pb, cols)
    }
    cols.foreach { c =>
      val a = attrNdv(pa, c)
      val b = attrNdv(pb, c)
      assert(a.isDefined && a == b,
        s"$c: writer sketch $a vs analyze sketch $b must estimate identically")
    }
    assert(attrNdv(pa, "ts").contains(500L))
    assert(attrNdv(pa, "d").contains(37L))
    assert(attrNdv(pa, "s").contains(100L))
    // the two sources MERGE: append writer-sketched rows to the analyzed
    // table; full coverage resumes and the union estimate reflects both
    spark.range(500L, 600L).select(
      $"id",
      timestamp_micros($"id" * 1000000L + 123L).as("ts"),
      timestamp_micros($"id" * 1000000L + 123L).cast("timestamp_ntz").as("ntz"),
      date_add(to_date(lit("2020-01-01")), ($"id" % 37).cast("int")).as("d"),
      ($"id" % 100).cast("smallint").as("s")).repartition(1)
      .write.format("graft-commit").option("path", pb)
      .option("ndvColumns", cols.mkString(",")).mode("append").save()
    // past the exact-coupon regime the merged estimate carries HLL's
    // ~1.6% relative error (lgK=12) — pin the union happened (>500,
    // within 2% of 600), not an exact count
    val merged = attrNdv(pb, "ts").getOrElse(fail("ts stopped reporting"))
    assert(merged > 500L && math.abs(merged - 600L) <= 12L,
      s"merged writer+analyze estimate off: $merged")
    assert(attrNdv(pb, "d").contains(37L))
  }

  // --- upsert ndvColumns (ADVICE low) ----------------------------------------

  test("ndvColumns reaches upsert and streaming-epoch data files") {
    import sources.CommitSink
    val path = freshDir("ndv_upsert")
    spark.range(100L).select($"id".as("k"), ($"id" * 2).as("v"))
      .write.format("graft-commit").option("path", path)
      .option("ndvColumns", "k")
      .mode("overwrite").save()
    spark.range(50L, 150L).select($"id".as("k"), ($"id" * 3).as("v"))
      .write.format("graft-commit").option("path", path)
      .option("upsertKeys", "k")
      .option("ndvColumns", "k").mode("append").save()
    val m = manifest(path)
    assert(m.eqDeletes.nonEmpty, "the upsert must have landed as o32")
    m.files.foreach { f =>
      assert(CommitSink.FileStat.decode(m.stats(f)).ndv.contains("k"),
        s"$f lost its ndvColumns sketch on the upsert path")
    }
    // sketches cover PHYSICAL rows: 0..149 across both commits
    assert(attrNdv(path, "k").contains(150L))
  }

  // --- width-aware column stats (r19) ----------------------------------------

  private def attrStat(path: String, c: String)
      : org.apache.spark.sql.catalyst.plans.logical.ColumnStat =
    withConf("spark.sql.cbo.enabled", "true") {
      spark.read.format("graft-commit").option("path", path).load()
        .queryExecution.optimizedPlan.stats.attributeStats.collectFirst {
          case (a, s) if a.name == c => s
        }.getOrElse(fail(s"no attribute stats for $c"))
    }

  test("width stats: string avgLen/maxLen/nullCount reach attribute stats") {
    val path = freshDir("width_stats")
    val rows = 2000L
    spark.range(rows).select(
      $"id",
      when($"id" % 10 === 0, lit(null).cast("string"))
        .otherwise(lpad($"id".cast("string"), 300, "x")).as("txt"))
      .write.format("graft-commit").option("path", path)
      .mode("overwrite").save()
    val txt = attrStat(path, "txt")
    assert(txt.avgLen.contains(300L), txt.toString)
    assert(txt.maxLen.contains(300L), txt.toString)
    assert(txt.nullCount.map(_.toLong).contains(rows / 10), txt.toString)
    // an all-non-null column reports its width the same way
    val pj = freshDir("width_stats_nonnull")
    spark.range(100L).select($"id", lpad($"id".cast("string"), 40, "y").as("txt"))
      .write.format("graft-commit").option("path", pj).mode("overwrite").save()
    assert(attrStat(pj, "txt").avgLen.contains(40L))
  }

  test("width stats: the broadcast decision flips when strings are priced real") {
    import sources.CommitSink
    // the 100 TB shape defaultSize gets wrong: a 20k-row dim of ~300-byte
    // documents re-prices above every node as rows × width — at width 20
    // it looks like ~0.7 MB and broadcasts ~6.5 MB of real strings; with
    // avgLen recorded the same plan correctly sort-merges
    val base = freshDir("width_bcast")
    var lastPlan = ""
    def broadcasts(tag: String, stripWidth: Boolean): Boolean = {
      val dim = s"$base/dim_$tag"; val fact = s"$base/fact_$tag"
      spark.range(20000L).select($"id".as("k"),
        lpad($"id".cast("string"), 300, "d").as("doc"))
        .write.format("graft-commit").option("path", dim)
        .mode("overwrite").save()
      if (stripWidth) {
        // the strict facet-only proof: re-commit the manifest with the
        // width entries STRIPPED (zone maps and row counts intact)
        val m = manifest(dim)
        CommitSink.writeManifest(Paths.get(dim), m.ddl, m.files, m.commit + 1,
          m.epochs, expectedPrev = m.commit, partCol = m.partCol,
          stats = m.stats.map { case (f, e) =>
            f -> CommitSink.FileStat.decode(e).copy(wid = Map.empty).encode },
          tableId = m.tableId,
          deletes = m.deletes, fileSeq = m.fileSeq,
          eqDeletes = m.eqDeletes, blooms = m.blooms, schemaLog = m.schemaLog)
      }
      spark.range(500000L).select(($"id" % 20000L).as("k"), ($"id" * 2).as("v"))
        .write.format("graft-commit").option("path", fact)
        .mode("overwrite").save()
      def t(p: String) = spark.read.format("graft-commit").option("path", p).load()
      withConf("spark.sql.cbo.enabled", "true") {
        withConf("spark.sql.autoBroadcastJoinThreshold", (2 * 1024 * 1024).toString) {
          withConf("spark.sql.adaptive.enabled", "false") { // static planning only
            val q = t(dim).filter($"k" >= 0L).join(t(fact), "k")
            lastPlan = q.queryExecution.executedPlan.toString
            lastPlan.contains("BroadcastHashJoin")
          }
        }
      }
    }
    assert(broadcasts("naive", stripWidth = true),
      s"default-width pricing must (wrongly) broadcast the wide dim\n$lastPlan")
    assert(!broadcasts("real", stripWidth = false),
      s"avgLen pricing must keep the 6.5 MB dim off the broadcast path\n$lastPlan")
  }

  test("o48 x o50/width: stats report under the CURRENT name after a rename") {
    val (cat, root) = scopedCat("rename_stats")
    val path = s"$root/default/t"
    spark.range(1000L).select($"id".as("k"), ($"id" % 7).as("g"),
      lpad($"id".cast("string"), 120, "z").as("doc"))
      .write.format("graft-commit").option("path", path)
      .option("ndvColumns", "k,g")
      .mode("overwrite").save()
    spark.sql(s"ALTER TABLE $cat.`default`.t RENAME COLUMN k TO key")
    spark.sql(s"ALTER TABLE $cat.`default`.t RENAME COLUMN doc TO body")
    // pre-rename files' sketches and width facts are keyed by PHYSICAL
    // names — the scan's per-file remap must surface them under the
    // current names, or the CBO posture silently degrades on rename
    assert(attrNdv(path, "key").contains(1000L))
    assert(attrNdv(path, "g").contains(7L))
    val body = attrStat(path, "body")
    assert(body.avgLen.contains(120L) && body.nullCount.map(_.toLong).contains(0L),
      body.toString)
    // a later analyze pass records pre-rename files' sketches under
    // their PHYSICAL names — the key the scan remap resolves to; keyed
    // by the current name they would sit unreachable (r19 fix)
    spark.range(1000L, 1100L).select($"id".as("key"), ($"id" % 7).as("g"),
      lpad($"id".cast("string"), 120, "z").as("body"))
      .write.format("graft-commit").option("path", path).mode("append").save()
    assert(attrNdv(path, "key").isEmpty, "the un-sketched append breaks coverage")
    sources.CommitSink.analyzeNdv(spark, path, Seq("key", "g"))
    assert(attrNdv(path, "key").contains(1100L))
    assert(attrNdv(path, "g").contains(7L))
  }

  test("bloom sidecars built after a rename still index pre-rename files") {
    import sources.CommitSink
    val (cat, root) = scopedCat("bloom_rename")
    val path = s"$root/default/t"
    // EVEN values only: absent odd probes sit inside every zone range,
    // so only the bloom can prune (the o38 fixture rule)
    spark.range(500L).select(($"id" * 2).as("a"), $"id".as("v"))
      .repartition(2)
      .write.format("graft-commit").option("path", path)
      .mode("overwrite").save()
    spark.sql(s"ALTER TABLE $cat.`default`.t RENAME COLUMN a TO key")
    // the build must read pre-rename files under physical 'a' (NOT as
    // an all-NULL 'key') and key each sidecar by the physical name the
    // scan's per-file lookup resolves to
    CommitSink.buildBloomIndex(spark, path, Seq("key"))
    def rd = spark.read.format("graft-commit").option("path", path).load()
    // a present value survives the bloom — an empty (mis-read) sidecar
    // would prune EVERYTHING, so this is the mis-read detector
    assert(rd.filter($"key" === 334L).count() == 1L)
    assert(sources.CommitScan.plannedPartitions(rd.filter($"key" === 334L)).size >= 1)
    // an absent in-range odd value prunes through the current name
    // (fpp 0.01: allow one false positive, never both files)
    assert(sources.CommitScan.plannedPartitions(rd.filter($"key" === 333L)).size <= 1)
  }

  // --- partition-source rename via spec rewrite (r19) ------------------------

  test("rename of a partition-source column rewrites the spec in-commit") {
    val (cat, root) = scopedCat("rename_partsrc")
    val path = s"$root/default/t"
    spark.sql(s"CREATE TABLE $cat.`default`.t (k BIGINT, v BIGINT) " +
      "USING `graft-commit` PARTITIONED BY (k)")
    spark.range(400L).select(($"id" % 4).as("k"), $"id".as("v"))
      .createOrReplaceTempView("r19_ps_src")
    spark.sql(s"INSERT INTO $cat.`default`.t SELECT * FROM r19_ps_src")
    val v0 = manifest(path).commit
    spark.sql(s"ALTER TABLE $cat.`default`.t RENAME COLUMN k TO shard")
    assert(manifest(path).partCol.contains("shard"),
      s"the spec must rewrite its source: ${manifest(path).partCol}")
    def rd = spark.read.format("graft-commit").option("path", path).load()
    // point predicate on the NEW name stays key-granular (the per-file
    // pk values are computed keys — no byte was rewritten)
    assert(sources.CommitScan.plannedPartitions(rd.filter($"shard" === 2L)).size == 1)
    assert(rd.filter($"shard" === 2L).count() == 100L)
    // appends under the new name keep the layout: still ONE planned
    // group for the key (grouped planning counts groups, not files)
    spark.range(400L, 500L).select(($"id" % 4).as("shard"), $"id".as("v"))
      .createOrReplaceTempView("r19_ps_src2")
    spark.sql(s"INSERT INTO $cat.`default`.t SELECT * FROM r19_ps_src2")
    assert(sources.CommitScan.plannedPartitions(rd.filter($"shard" === 2L)).size == 1)
    assert(rd.filter($"shard" === 2L).count() == 125L)
    // $partitions keys by value; every file still keyed (no '(unknown)')
    val parts = spark.read.format("graft-commit").option("path", path)
      .option("metaTable", "partitions").load().collect()
    assert(parts.length == 4 && !parts.exists(_.getString(0) == "(unknown)"),
      parts.mkString(", "))
    // time travel: the pre-rename version keeps its own name AND spec
    assert(sources.CommitSink.parseManifestVersion(Paths.get(path), v0)
      .partCol.contains("k"))
    val old = spark.read.format("graft-commit").option("path", path)
      .option("versionAsOf", v0).load()
    assert(old.columns.contains("k") && old.filter($"k" === 2L).count() == 100L)
    // a TRANSFORM spec rewrites its reference too; pruning survives
    val p2 = s"$root/default/e"
    spark.sql(s"CREATE TABLE $cat.`default`.e (ts TIMESTAMP_NTZ, v BIGINT) " +
      "USING `graft-commit` PARTITIONED BY (days(ts))")
    spark.range(200L).select(
      timestamp_micros(lit(86400000000L) * ($"id" % 2) + $"id")
        .cast("timestamp_ntz").as("ts"),
      $"id".as("v")).createOrReplaceTempView("r19_ps_src3")
    spark.sql(s"INSERT INTO $cat.`default`.e SELECT * FROM r19_ps_src3")
    spark.sql(s"ALTER TABLE $cat.`default`.e RENAME COLUMN ts TO event_ts")
    assert(manifest(p2).partCol.contains("days(event_ts)"),
      manifest(p2).partCol.toString)
    def rd2 = spark.read.format("graft-commit").option("path", p2).load()
    assert(rd2.count() == 200L)
    assert(sources.CommitScan.plannedPartitions(rd2.filter(
      $"event_ts" < lit("1970-01-02").cast("timestamp_ntz"))).size == 1)
    // DROP of a spec source still refuses (r18 matrix, re-pointed here)
    val e = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.`default`.e DROP COLUMN event_ts"))
    assert(msgChain(e).contains("partition spec's source"), msgChain(e))
  }

  // --- maintenance passes: plain tables and legacy json payloads (r19) -----

  test("analyzeNdv and buildBloomIndex cover json-payload tables") {
    import sources.CommitSink
    val path = freshDir("plain_stats")
    spark.range(1000L).select($"id".as("k"), ($"id" % 40).as("g"),
      concat(lit("user_"), $"id").as("name")).repartition(4)
      .write.format("graft-commit").option("path", path).mode("overwrite").save()
    CommitSink.analyzeNdv(spark, path, Seq("k", "g", "name"))
    assert(attrNdv(path, "k").contains(1000L)) // HLL exact below the coupon cap
    assert(attrNdv(path, "g").contains(40L))
    // bloom: even values, odd in-range probe (zone maps are
    // structurally unable to answer it — only the sidecar prunes)
    val pb = freshDir("plain_bloom")
    spark.range(1000L).select(($"id" * 2).as("k"), $"id".as("v")).repartition(4)
      .write.format("graft-commit").option("path", pb).mode("overwrite").save()
    CommitSink.buildBloomIndex(spark, pb, Seq("k"))
    def rd = spark.read.format("graft-commit").option("path", pb).load()
    assert(rd.filter($"k" === 778L).count() == 1L)
    assert(sources.CommitScan.plannedPartitions(rd.filter($"k" === 777L)).size <= 1,
      "an absent odd key must bloom-prune (fpp tolerance: one file)")
    // a legacy JSON-lines table: both passes refuse it with the
    // retired-payload error instead of decoding its lines as parquet,
    // and leave its manifest as it was
    val pj = java.nio.file.Paths.get(freshDir("json_stats"))
    java.nio.file.Files.createDirectories(pj)
    java.nio.file.Files.write(pj.resolve("part-c00000-x-00000.json"),
      "{\"k\":1}\n".getBytes("UTF-8"))
    val legacy = """{"commit":0,"epochs":[],"payload":"json","schema":"k BIGINT",""" +
      """"files":["part-c00000-x-00000.json"]}"""
    java.nio.file.Files.write(pj.resolve("_MANIFEST.json"), legacy.getBytes("UTF-8"))
    for (pass <- Seq[String => Unit](
        p => CommitSink.analyzeNdv(spark, p, Seq("k")),
        p => CommitSink.buildBloomIndex(spark, p, Seq("k")))) {
      val e = intercept[Exception](pass(pj.toString))
      assert(msgChain(e).contains("retired JSON-lines payload"), msgChain(e))
      assert(new String(java.nio.file.Files.readAllBytes(pj.resolve("_MANIFEST.json")),
        "UTF-8") == legacy)
    }
  }

  // --- date-only timestampAsOf (ADVICE low) ----------------------------------

  test("timestampAsOf accepts date-only strings; junk names the accepted forms") {
    import sources.CommitSink
    val path = freshDir("ts_date")
    val c1 = java.time.Instant.parse("2026-01-01T10:00:00Z").toEpochMilli
    val c2 = java.time.Instant.parse("2026-01-02T10:00:00Z").toEpochMilli
    CommitSink.withClock(() => c1) {
      spark.range(10L).select($"id").write.format("graft-commit")
        .option("path", path)
        .mode("overwrite").save()
    }
    CommitSink.withClock(() => c2) {
      spark.range(10L, 30L).select($"id").write.format("graft-commit")
        .option("path", path).mode("append").save()
    }
    def rowsAt(t: String): Long = spark.read.format("graft-commit")
      .option("path", path).option("timestampAsOf", t).load().count()
    // midnight UTC of Jan 2 falls between the two commits -> v0
    assert(rowsAt("2026-01-02") == 10L)
    assert(rowsAt("2026-01-03") == 30L)
    val e = intercept[Exception](rowsAt("not-a-time"))
    assert(msgChain(e).contains("accepted forms"), msgChain(e))
  }

  // --- r19 OPTIMIZATION plan-shape pins ---------------------------------
  //
  // Each pin guards the structural property the r19 rewrite bought
  // (OPTIMIZATION_r19.md). Results themselves are oracle-checked by the
  // driver; these keep the plan shape from silently regressing.

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private val sfPlans = "/root/testdata/sf0.001"

  test("r19 q56 funnel: ONE exchange — the single per-user agg serves all three stages") {
    val p = planOf(ops.Relational4.q56Funnel(spark, sfPlans))
    val ex = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(ex == 1, s"expected the lone user_id exchange, got $ex:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "the staged-join form must not come back")
  }

  test("r19 q13 set ops: one full-outer join, no per-branch intersect/except plans") {
    val p = planOf(ops.Relational.q13SetOps(spark, sfPlans))
    val joins = "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findAllIn(p).size
    assert(joins == 1, s"expected exactly the one key-set join, got $joins:\n$p")
    assert(p.contains("FullOuter"), "the flags frame joins full-outer")
  }

  test("r19 d31 fuzzy join: no self-join — pairs generate map-side from the variant sets") {
    val p = planOf(ext.Dedup.d31FuzzyJoin(spark, sfPlans))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("BroadcastHashJoin"),
      s"the variant self-join must stay retired:\n$p")
  }

  test("r19 q86: the per-part average aggregates only the brand's lineitems") {
    val p = planOf(ops.Relational7.q86SmallQtyRevenue(spark, sfPlans))
    // both fact passes sit UNDER a broadcast join against the filtered
    // part side — the full-fact per-part aggregate of the correlated
    // rewrite (exchange over all of lineitem keyed by partkey) is gone
    val ex = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(ex <= 1, s"only the brand-slice per-part agg may exchange, got $ex:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "brand filter and avg table must both broadcast")
  }

  test("r19 t14/q80: group totals ride the existing window sort — no agg+join-back") {
    val pT = planOf(ext.TextAnalysis.t14InvertedIndex(spark, sfPlans))
    assert(!pT.contains("SortMergeJoin") && !pT.contains("BroadcastHashJoin"),
      s"t14's df/total_tf join-back must stay retired:\n$pT")
    val pQ = planOf(ops.Relational6.q80WeightedMedian(spark, sfPlans))
    assert(!pQ.contains("Join"), s"q80's totals join-back must stay retired:\n$pQ")
    val ex = "Exchange hashpartitioning".r.findAllIn(pQ).size
    assert(ex == 1, s"q80: one l_returnflag exchange serves both windows, got $ex")
  }

  test("r19 p14: one md5 corpus pass (exact-hit agg); the split rollup is hash-free") {
    val p = ext.Curation.queries("p14_decontam_quarantine")(spark, sfPlans)
      .queryExecution.optimizedPlan.toString
    // projection pushdown clones the md5 into each of corpusWithCopies'
    // three union branches — one logical pass = at most 3 sites (the
    // trainH + semi-join + rollup form carried three passes = 9)
    val md5s = "md5\\(".r.findAllIn(p).size
    assert(md5s <= 3, s"p14 must hash the corpus exactly once, got $md5s sites:\n$p")
  }
}
