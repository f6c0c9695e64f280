package graft

import java.nio.file.Paths

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-15 wave: the r14-advice hardening of the rewrite change feed
  * and the eq-delete conversion, the o32 concurrency pin, and the
  * clustering rewrite (o35/o36).
  *
  *  - '''Caught-up poller''': `changeFeedWithRewrites(dir, newest+1)` is
  *    a valid no-change question (a poller passing lastSeen+1), answered
  *    with an EMPTY frame in the CDF schema — exactly what the plain
  *    `readChangeFeed` path plans for the same range — not an
  *    `empty.reduceLeft` crash.
  *  - '''Retention names the real culprit''': the first commit of a feed
  *    range diffs against `startingVersion - 1`, so the retention rule
  *    covers `[from-1, to]`; when from-1 is the version that expired,
  *    the error says so instead of failing inside the manifest parser.
  *  - '''convertEqDeletes returns what it changed''': the returned file
  *    list is the files that actually RECEIVED vector positions (the
  *    manifest's delete-entry keys), not every file the key scan merely
  *    covered — callers feed it to targeted maintenance (compaction of
  *    exactly the vectored files), so over-reporting would rewrite
  *    untouched data.
  *  - '''Concurrent eq-delete upserts''': two racing `upsertKeys`
  *    appends with overlapping keys both land (loser CAS-retries), the
  *    retried key file's add-sequence re-derives ABOVE the winner's
  *    files, and the final snapshot equals the serial replay in commit
  *    order — on both read paths, and preserved by conversion.
  *  - '''Clustering rewrite (o35/o36)''': `compactAndCluster` turns a
  *    hash-scattered layout into range-disjoint files (narrow-range
  *    prune 8 files → 1, exact, time travel keeps the old layout),
  *    targets subsets with the rest carried verbatim, materializes the
  *    selected files' deletion vectors, splits partitioned keys into
  *    secondary-disjoint sub-files with SPJ intact (o39), refuses
  *    unknown columns/files; the z-order mode routes each deterministic
  *    z-CELL to its own file (no sampled boundaries — a straddle sliver
  *    would poison min/max zones to the full dimension), so a dense
  *    grid lands as exact quadrants and 2-D box predicates prune.
  *  - '''Partition evolution (o37)''': a metadata-only partition-spec
  *    flip with stale partition keys STRIPPED (an old-column key under
  *    the new column would group files wrongly); SPJ reporting turns
  *    off exactly while any file lacks its key and back on once
  *    `compact` migrates, appends converge on the new layout, vectors
  *    carry through de-partitioning, each version keeps its layout.
  *  - '''Bloom file index (o38)''': per-(file, column) bloom sidecars
  *    answer equality/IN where zone maps structurally cannot — fixtures
  *    hold EVEN values only so absent odd keys are zone-invisible, and
  *    the prune counts pin the blooms alone; un-indexed appends never
  *    prune until a rebuild merges them, sidecars survive the GC pair
  *    and die with rewritten files.
  */
class Round15Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = s"/tmp/graft_r15_spec/$tag"
    Tables.deleteRecursively(d)
    d
  }

  private def manifest(path: String) =
    sources.CommitSink.parseManifest(Paths.get(path)).get

  test("changeFeedWithRewrites: caught-up poller (from = newest+1) gets an empty CDF frame") {
    val dir = freshDir("feed_caught_up")
    spark.range(40L).select($"id", lit("a").as("s"))
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    spark.range(40L, 50L).select($"id", lit("b").as("s"))
      .write.format("graft-commit").option("path", dir).mode("append").save()
    // newest commit is 1; a poller that has seen it asks from 2
    val feed = sources.CommitSink.changeFeedWithRewrites(spark, dir, 2L)
    assert(feed.count() == 0L)
    // the empty answer still carries the full CDF shape — downstream
    // unions/sinks bind to it without special-casing the empty round
    assert(feed.columns.toSeq ==
      Seq("id", "s", "_change_type", "_commit_version"))
    // far-future from is the same no-change answer, not an error
    assert(sources.CommitSink.changeFeedWithRewrites(spark, dir, 99L).count() == 0L)
    // the plain CDF read agrees (the contract the guard mirrors)
    val plain = spark.read.format("graft-commit").option("path", dir)
      .option("readChangeFeed", true).option("startingVersion", 2).load()
    assert(plain.count() == 0L && plain.columns.sameElements(feed.columns))
  }

  test("changeFeedWithRewrites: an expired startingVersion-1 names the retention rule") {
    val dir = freshDir("feed_retention_fromm1")
    spark.range(20L).select($"id", lit("v0").as("s"))
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    spark.range(20L, 30L).select($"id", lit("v1").as("s"))
      .write.format("graft-commit").option("path", dir).mode("append").save()
    spark.range(30L, 40L).select($"id", lit("v2").as("s"))
      .write.format("graft-commit").option("path", dir).mode("append").save()
    // expire version 0; the feed from startingVersion=1 diffs commit 1
    // against version 0 — the retention error must name [0, 2], not die
    // in parseManifestVersion with a generic missing-manifest message
    val (dropped, _) = sources.CommitSink.expireVersions(dir, keepLast = 2)
    assert(dropped == Seq(0L))
    val e = intercept[IllegalArgumentException] {
      sources.CommitSink.changeFeedWithRewrites(spark, dir, 1L).collect()
    }
    assert(e.getMessage.contains("[0, 2]"), e.getMessage)
    assert(e.getMessage.contains("startingVersion-1"), e.getMessage)
    assert(e.getMessage.contains("retention"), e.getMessage)
    // a range whose from-1 is retained still works
    val feed = sources.CommitSink.changeFeedWithRewrites(spark, dir, 2L)
      .select($"id", $"_change_type").as[(Long, String)].collect()
    assert(feed.map(_._1).sorted.toSeq == (30L until 40L) &&
      feed.forall(_._2 == "insert"))
  }

  test("concurrent eq-delete upserts with overlapping keys: loser's retry re-sequences") {
    // two upsertKeys appends race; the CAS loser retries on the winner's
    // manifest, so its key file's add-sequence must re-derive ABOVE the
    // winner's files — each delete then scopes to strictly-older files
    // and the final snapshot equals the SERIAL replay in commit order
    // (Round12Spec's concurrency model extended to o32)
    val dir = freshDir("eq_upsert_race")
    spark.range(100L).select($"id", lit("base").as("s"))
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = Seq(("A", 40L, 60L), ("B", 50L, 70L)).map { case (tag, lo, hi) =>
      new Thread(() => {
        try spark.range(lo, hi).select($"id", lit(tag).as("s"))
          .write.format("graft-commit").option("path", dir)
          .option("upsertKeys", "id").mode("append").save()
        catch { case t: Throwable => errs.add(t) }
      })
    }
    writers.foreach(_.start()); writers.foreach(_.join())
    assert(errs.isEmpty,
      s"both upserts must land: ${errs.toArray.map { case t: Throwable => t.getMessage }.toSeq}")
    val m = manifest(dir)
    assert(m.commit == 2L, "base + two upsert commits")
    assert(m.eqDeletes.map(_.seq).distinct.size == 2,
      "both upserts' key files live, at their own sequences")
    // every key file scopes to strictly-older files only: no listed file
    // with seq >= the entry's seq may lose rows to it — in particular the
    // SECOND upsert's data file must survive the first's keys
    val got = sources.CommitSink.readCommitted(spark, dir)
      .as[(Long, String)].collect().toMap
    assert(got.size == 100, "replace-by-key never changes the row count")
    def serial(first: String, second: String): Map[Long, String] = {
      val ranges = Map("A" -> (40L until 60L), "B" -> (50L until 70L))
      val base = (0L until 100L).map(_ -> "base").toMap
      (base ++ ranges(first).map(_ -> first) ++ ranges(second).map(_ -> second))
    }
    // commit order decides the overlap: the writer holding commit 2 wins
    assert(got == serial("A", "B") || got == serial("B", "A"),
      "final snapshot must equal one serial order")
    // and the keyed SPJ read path agrees with the plain path
    val dsv2 = spark.read.format("graft-commit").option("path", dir).load()
      .as[(Long, String)].collect().toMap
    assert(dsv2 == got)
    // conversion afterwards preserves the raced result exactly
    sources.CommitSink.convertEqDeletes(spark, dir)
    val after = sources.CommitSink.readCommitted(spark, dir)
      .as[(Long, String)].collect().toMap
    assert(after == got, "equality->positional conversion must not change the answer")
    assert(manifest(dir).eqDeletes.isEmpty)
  }

  // --- clustering rewrite (o35/o36) ------------------------------------------

  private def idRanges(path: String, c: String): Seq[(Long, Long)] = {
    val m = manifest(path)
    m.files.flatMap(f => m.stats.get(f)).map(sources.CommitSink.FileStat.decode)
      .flatMap(_.cols.get(c).map(r => (r.min.toLong, r.max.toLong)))
  }

  test("compactAndCluster: hash-scattered to range-disjoint, prune counts exact, time travel intact") {
    val dir = freshDir("cluster_basic")
    spark.range(1000L).select($"id", ($"id" % 7).as("g"), ($"id" * 0.5).as("v"))
      .repartition(8) // hash: every file's id range spans ~everything
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    val narrow = $"id" >= 300L && $"id" < 340L
    def read() = spark.read.format("graft-commit").option("path", dir).load()
    assert(sources.CommitScan.plannedPartitions(read().filter(narrow)).size == 8,
      "hash layout: zone maps prune nothing")
    val rewritten = sources.CommitSink.compactAndCluster(spark, dir, 4, Seq("id"))
    assert(rewritten.size == 8, "full-table cluster rewrites every file")
    val m = manifest(dir)
    assert(m.files.size == 4 && m.commit == 1L)
    val ranges = idRanges(dir, "id").sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Seq((_, aHi), (bLo, _)) => aHi < bLo
      case _ => true
    }, s"clustered zones must be pairwise disjoint: $ranges")
    assert(sources.CommitScan.plannedPartitions(read().filter(narrow)).size == 1,
      "the same narrow range now plans exactly one file")
    // content untouched, old layout time-travel readable
    assert(read().count() == 1000L &&
      read().agg(sum($"id")).head().getLong(0) == 999L * 1000L / 2)
    val v0 = spark.read.format("graft-commit").option("path", dir)
      .option("versionAsOf", 0).load()
    assert(v0.count() == 1000L && sources.CommitScan.plannedPartitions(v0.filter(narrow)).size == 8,
      "version 0 keeps the pre-cluster layout")
    // refusals: unknown column, unknown selected file, partitioned table
    intercept[IllegalArgumentException] {
      sources.CommitSink.compactAndCluster(spark, dir, 2, Seq("nope"))
    }
    intercept[IllegalArgumentException] {
      sources.CommitSink.compactAndCluster(spark, dir, 2, Seq("id"),
        only = Some(Set("ghost.parquet")))
    }
    // a partitioned table clusters on SECONDARY columns (the o39 test);
    // z-order within a partitioned layout stays refused
    val pdir = freshDir("cluster_part_refuse")
    spark.range(90L).select($"id", ($"id" % 3).as("k"), ($"id" * 7 % 90).as("t"))
      .write.format("graft-commit").option("path", pdir)
      .option("partitionBy", "k").mode("overwrite").save()
    val e = intercept[IllegalArgumentException] {
      sources.CommitSink.compactAndCluster(spark, pdir, 2, Seq("id", "t"),
        zOrder = true)
    }
    assert(e.getMessage.contains("z-order"), e.getMessage)
  }

  test("compactAndCluster targets a subset: selected files rewrite, the rest carry verbatim") {
    val dir = freshDir("cluster_subset")
    spark.range(800L).select($"id", ($"id" * 2).as("v"))
      .repartition(8)
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    val m0 = manifest(dir)
    val picked = m0.files.sorted.take(3).toSet
    val rewritten = sources.CommitSink
      .compactAndCluster(spark, dir, 2, Seq("id"), only = Some(picked))
    assert(rewritten.toSet == picked)
    val m1 = manifest(dir)
    // 5 carried + 2 new clustered files
    assert(m1.files.size == 7)
    assert((m0.files.toSet -- picked).subsetOf(m1.files.toSet),
      "unselected files carry under their own names")
    assert(m1.files.toSet.intersect(picked).isEmpty, "selected files replaced")
    // content exact: the rewrite only moved rows between files
    val got = sources.CommitSink.readCommitted(spark, dir)
      .as[(Long, Long)].collect().toSet
    assert(got == (0L until 800L).map(i => (i, i * 2)).toSet)
    // no-op select: no new version
    assert(sources.CommitSink
      .compactAndCluster(spark, dir, 2, Seq("id"), only = Some(Set.empty)).isEmpty)
    assert(manifest(dir).commit == m1.commit)
  }

  test("compactAndCluster materializes the selected files' deletion vectors") {
    val dir = freshDir("cluster_mor")
    val (catName, root) = {
      val r = s"/tmp/graft_r15_spec/cluster_mor_cat"
      Tables.deleteRecursively(r)
      val c = "graft_r15_cluster_mor"
      spark.conf.set(s"spark.sql.catalog.$c", "graft.sources.CommitCatalog")
      spark.conf.set(s"spark.sql.catalog.$c.root", r)
      (c, r)
    }
    val path = s"$root/default/t"
    spark.range(400L).select($"id", ($"id" * 1.0).as("v"))
      .repartitionByRange(4, $"id")
      .write.format("graft-commit").option("path", path).mode("overwrite").save()
    withConf("spark.graft.commit.deleteMode" -> "merge-on-read") {
      spark.sql(s"DELETE FROM $catName.`default`.t WHERE id >= 50 AND id < 150")
    }
    val mv = manifest(path)
    assert(mv.deletes.nonEmpty, "the MOR delete left vectors")
    sources.CommitSink.compactAndCluster(spark, path, 2, Seq("id"))
    val m = manifest(path)
    assert(m.deletes.isEmpty && m.eqDeletes.isEmpty,
      "the rewrite's scan applied the vectors; none survive it")
    assert(sources.CommitSink.readCommitted(spark, path).count() == 300L)
  }

  test("z-order cluster: both dims bounded on a dense grid, box query prunes") {
    val dir = freshDir("cluster_zorder")
    // 64x64 dense grid — quantile boundaries land on exact z-cells
    spark.range(4096L)
      .select(($"id" % 64).as("x"), expr("id div 64").as("y"), $"id".as("payload"))
      .repartition(8)
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    sources.CommitSink.compactAndCluster(spark, dir, 4,
      Seq("x", "y"), zOrder = true)
    val m = manifest(dir)
    assert(m.files.size == 4)
    // 4 z-files = 2 interleaved bits = EXACTLY the four quadrants (the
    // preimage routing is deterministic — no sampling, no straddle):
    // every file's box covers one half of EACH dimension
    Seq("x", "y").foreach { c =>
      val rs = idRanges(dir, c)
      assert(rs.forall { case (a, b) => b - a <= 32 },
        s"$c spans must be quadrant-bounded, got $rs")
    }
    def read() = spark.read.format("graft-commit").option("path", dir).load()
    val box = read().filter($"x" < 16L && $"y" < 16L)
    assert(sources.CommitScan.plannedPartitions(box).size < 4, "a quarter box must prune z-files")
    assert(box.count() == 256L)
    assert(read().agg(sum($"payload")).head().getLong(0) == 4095L * 4096L / 2)
    // helper z-value column never lands in the table
    assert(read().columns.toSeq == Seq("x", "y", "payload"))
  }

  test("partitioned sort-order rewrite: big keys split into range-disjoint files, SPJ intact") {
    val dir = freshDir("cluster_partitioned")
    val dim = freshDir("cluster_partitioned_dim")
    // 4 keys × 400 rows; t is hash-scattered within every key file
    spark.range(1600L)
      .select($"id", ($"id" % 4).as("k"), (($"id" * 997L) % 1600L).as("t"))
      .write.format("graft-commit").option("path", dir)
      .option("partitionBy", "k").mode("overwrite").save()
    val m0 = manifest(dir)
    assert(m0.files.size == 4, "one file per key before the rewrite")
    def read() = spark.read.format("graft-commit").option("path", dir).load()
    // within a key, a narrow t-range predicate cannot prune anything
    assert(sources.CommitScan.plannedPartitions(read().filter($"k" === 2L && $"t" >= 100L && $"t" < 140L)).size == 1)
    val rewritten = sources.CommitSink
      .compactAndCluster(spark, dir, 8, Seq("t"))
    assert(rewritten.size == 4)
    val m = manifest(dir)
    assert(m.partCol.contains("k"), "the rewrite preserves the layout")
    // every file still holds exactly one key (the SPJ invariant)…
    val stats = m.files.map(f =>
      sources.CommitSink.FileStat.decode(m.stats(f)))
    assert(stats.forall(_.pk.isDefined))
    // …and keys with multiple files hold DISJOINT t slices
    stats.groupBy(_.pk.get).foreach { case (k, ss) =>
      val rs = ss.flatMap(_.cols.get("t"))
        .map(r => (r.min.toLong, r.max.toLong)).sortBy(_._1)
      assert(rs.sliding(2).forall {
        case Seq((_, aHi), (bLo, _)) => aHi < bLo
        case _ => true
      }, s"key $k t-slices must be disjoint: $rs")
    }
    assert(m.files.size > 4, "large keys split into several files")
    // the same narrow (key, range) probe now plans exactly one file
    val keyed = stats.filter(_.pk.contains(2L))
      .flatMap(_.cols.get("t")).map(r => (r.min.toLong, r.max.toLong))
      .sortBy(_._1).head
    val (lo, hi) = (keyed._1 + (keyed._2 - keyed._1) / 4,
      keyed._1 + (keyed._2 - keyed._1) / 2)
    assert(sources.CommitScan.plannedPartitions(read().filter($"k" === 2L && $"t" >= lo && $"t" < hi)).size == 1)
    // content exact, storage-partitioned join still exchange-free
    assert(read().count() == 1600L &&
      read().agg(sum($"t")).head().getLong(0) ==
        (0L until 1600L).map(i => (i * 997L) % 1600L).sum)
    spark.range(1600L).select(($"id" % 4).as("k"))
      .groupBy($"k").agg(count(lit(1)).as("kn"))
      .write.format("graft-commit").option("path", dim)
      .option("partitionBy", "k").mode("overwrite").save()
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = read().join(
        spark.read.format("graft-commit").option("path", dim).load(), "k")
      assert(!joined.queryExecution.executedPlan.toString.contains("Exchange"),
        "multi-file-per-key grouping must keep the SPJ exchange-free")
      assert(joined.count() == 1600L)
    }
    // refusals: the partition column as a sort column, z-order, and the
    // preShaped option without its rewrite context
    intercept[IllegalArgumentException] {
      sources.CommitSink.compactAndCluster(spark, dir, 4, Seq("k"))
    }
    intercept[IllegalArgumentException] {
      sources.CommitSink.compactAndCluster(spark, dir, 4, Seq("t", "id"),
        zOrder = true)
    }
    intercept[Exception] {
      spark.range(10L).select($"id", ($"id" % 4).as("k"), $"id".as("t"))
        .write.format("graft-commit").option("path", dir)
        .option("partitionBy", "k").option("preShaped", "true")
        .mode("append").save()
    }
  }

  // --- partition evolution (o37) ----------------------------------------------

  test("partition evolution: metadata-only flip, SPJ off then back on after migration") {
    val dir = freshDir("evolve_spj")
    val dim = freshDir("evolve_spj_dim")
    // start partitioned on a (the WRONG key, as it turns out)
    val data = spark.range(800L)
      .select($"id", ($"id" % 4).as("a"), ($"id" % 8).as("b"), ($"id" * 1.5).as("v"))
    data.write.format("graft-commit").option("path", dir)
      .option("partitionBy", "a").mode("overwrite").save()
    val m0 = manifest(dir)
    assert(m0.partCol.contains("a") && m0.files.size == 4)
    // evolve a -> b: one metadata commit, files byte-identical, keys stripped
    sources.CommitSink.evolvePartitioning(spark, dir, Some("b"))
    val m1 = manifest(dir)
    assert(m1.partCol.contains("b") && m1.files == m0.files &&
      m1.commit == m0.commit + 1)
    assert(m1.files.flatMap(m1.stats.get)
      .forall(e => sources.CommitSink.FileStat.decode(e).pk.isEmpty),
      "stale partition keys must be stripped — an old 'a' key under " +
        "column 'b' would group files wrongly")
    // reads stay correct mid-evolution
    assert(sources.CommitSink.readCommitted(spark, dir).count() == 800L)
    // appends land under the NEW layout only
    intercept[Exception] {
      spark.range(800L, 810L)
        .select($"id", ($"id" % 4).as("a"), ($"id" % 8).as("b"), ($"id" * 1.5).as("v"))
        .write.format("graft-commit").option("path", dir)
        .option("partitionBy", "a").mode("append").save()
    }
    spark.range(800L, 880L)
      .select($"id", ($"id" % 4).as("a"), ($"id" % 8).as("b"), ($"id" * 1.5).as("v"))
      .write.format("graft-commit").option("path", dir)
      .option("partitionBy", "b").mode("append").save()
    // migrate: compact rewrites everything under the evolved column
    sources.CommitSink.compact(spark, dir, 1)
    val m3 = manifest(dir)
    assert(m3.files.size == 8 && m3.files.flatMap(m3.stats.get)
      .forall(e => sources.CommitSink.FileStat.decode(e).pk.isDefined))
    // SPJ on the NEW column: zero exchanges against a b-partitioned dim
    spark.range(880L).select(($"id" % 8).as("b"))
      .groupBy($"b").agg(count(lit(1)).as("bn"))
      .write.format("graft-commit").option("path", dim)
      .option("partitionBy", "b").mode("overwrite").save()
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val f = spark.read.format("graft-commit").option("path", dir).load()
      val d = spark.read.format("graft-commit").option("path", dim).load()
      val joined = f.join(d, "b")
      assert(!joined.queryExecution.executedPlan.toString.contains("Exchange"),
        "post-migration the evolved column storage-partition-joins")
      assert(joined.count() == 880L)
    }
    // refusals: no-op evolution, unknown column, non-integer column
    intercept[IllegalArgumentException] {
      sources.CommitSink.evolvePartitioning(spark, dir, Some("b"))
    }
    intercept[RuntimeException] {
      sources.CommitSink.evolvePartitioning(spark, dir, Some("ghost"))
    }
    intercept[IllegalArgumentException] {
      sources.CommitSink.evolvePartitioning(spark, dir, Some("v"))
    }
  }

  test("partition evolution: de-partitioning, vectors carried, time travel keeps layouts") {
    val dir = freshDir("evolve_depart")
    spark.range(300L).select($"id", ($"id" % 3).as("k"), lit("x").as("s"))
      .write.format("graft-commit").option("path", dir)
      .option("partitionBy", "k").mode("overwrite").save()
    // a vector delete before evolution (the carried-state proof)
    val (cat, root) = {
      val r = "/tmp/graft_r15_spec/evolve_depart_cat"
      Tables.deleteRecursively(r)
      val c = "graft_r15_evolve_depart"
      spark.conf.set(s"spark.sql.catalog.$c", "graft.sources.CommitCatalog")
      spark.conf.set(s"spark.sql.catalog.$c.root", r)
      (c, r)
    }
    // vectors need a catalog-routed MOR delete — reuse the table in place
    // by pointing a catalog at the same physical dir
    val path = s"$root/default/t"
    spark.range(300L).select($"id", ($"id" % 3).as("k"), lit("x").as("s"))
      .write.format("graft-commit").option("path", path)
      .option("partitionBy", "k").mode("overwrite").save()
    withConf("spark.graft.commit.deleteMode" -> "merge-on-read") {
      withConf("spark.graft.commit.rowLevelMode" -> "merge-on-read") {
        spark.sql(s"DELETE FROM $cat.`default`.t WHERE id % 10 = 0")
      }
    }
    assert(manifest(path).deletes.nonEmpty)
    sources.CommitSink.evolvePartitioning(spark, path, None)
    val m = manifest(path)
    assert(m.partCol.isEmpty && m.deletes.nonEmpty,
      "de-partitioning carries deletion vectors verbatim")
    assert(sources.CommitSink.readCommitted(spark, path).count() == 270L)
    // unpartitioned appends now land
    spark.range(300L, 320L).select($"id", ($"id" % 3).as("k"), lit("y").as("s"))
      .write.format("graft-commit").option("path", path).mode("append").save()
    assert(sources.CommitSink.readCommitted(spark, path).count() == 290L)
    // each version keeps its own layout
    val mEvolve = m.commit
    val v = spark.read.format("graft-commit").option("path", path)
      .option("versionAsOf", mEvolve - 1).load()
    assert(v.count() == 270L)
    assert(sources.CommitSink.parseManifestVersion(
      java.nio.file.Paths.get(path), mEvolve - 1).partCol.contains("k"))
  }

  // --- bloom file index (o38) --------------------------------------------------

  test("bloom index: point lookups prune hash-scattered files; appends degrade safely") {
    val dir = freshDir("bloom_basic")
    // EVEN values only: absent keys (odds) sit INSIDE every file's zone
    // range, so zone maps provably cannot prune them — only blooms can
    spark.range(1000L)
      .select(($"id" * 2).as("id"),
        concat(lit("name-"), $"id" * 2).as("s"), ($"id" % 9).as("g"))
      .repartition(8) // hash: every file's id range spans ~everything
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    def read() = spark.read.format("graft-commit").option("path", dir).load()
    // without the index: an in-range point predicate opens every file
    assert(sources.CommitScan.plannedPartitions(read().filter($"id" === 246L)).size == 8)
    assert(sources.CommitScan.plannedPartitions(read().filter($"id" === 555L)).size == 8,
      "an absent-but-in-range key is invisible to zone maps")
    val indexed = sources.CommitSink
      .buildBloomIndex(spark, dir, Seq("id", "s"), fpp = 0.01,
        expectedItemsPerFile = 10000L)
    assert(indexed.size == 8)
    val m = manifest(dir)
    assert(m.blooms.size == 8 && m.blooms.values.forall(_.keySet == Set("id", "s")))
    // present key: planned somewhere, row found (long and string columns)
    assert(sources.CommitScan.plannedPartitions(read().filter($"id" === 246L)).size >= 1)
    assert(read().filter($"id" === 246L).count() == 1L)
    assert(read().filter($"s" === "name-1554").count() == 1L)
    // absent in-range key: nearly everything prunes (<= 2 allows the
    // documented false positives)
    assert(sources.CommitScan.plannedPartitions(read().filter($"id" === 555L)).size <= 2)
    assert(read().filter($"id" === 555L).count() == 0L)
    assert(sources.CommitScan.plannedPartitions(read().filter($"s" === "name-555")).size <= 2)
    // IN with only absent keys prunes; mixed keeps the present key's file
    assert(sources.CommitScan.plannedPartitions(read().filter($"id".isin(555L, 777L))).size <= 3)
    assert(read().filter($"id".isin(246L, 555L)).count() == 1L)
    // a range predicate never consults the bloom (zone maps' job)
    assert(read().filter($"id" >= 200L && $"id" < 240L).count() == 20L)
    // an appended (un-indexed) file NEVER prunes: an absent key inside
    // ONLY its zone plans exactly that file, and the residual keeps the
    // answer right
    assert(sources.CommitScan.plannedPartitions(read().filter($"id" === 3001L)).size == 0) // outside all zones
    spark.range(1500L, 1550L)
      .select(($"id" * 2).as("id"),
        concat(lit("name-"), $"id" * 2).as("s"), ($"id" % 9).as("g"))
      .coalesce(1)
      .write.format("graft-commit").option("path", dir).mode("append").save()
    assert(sources.CommitScan.plannedPartitions(read().filter($"id" === 3001L)).size == 1,
      "the un-indexed appended file must not bloom-prune")
    assert(read().filter($"id" === 3001L).count() == 0L)
    assert(read().filter($"id" === 3000L).count() == 1L)
    // a REBUILD covers the appended file too (entries merge per file/col)
    sources.CommitSink.buildBloomIndex(spark, dir, Seq("id"),
      fpp = 0.01, expectedItemsPerFile = 10000L)
    assert(sources.CommitScan.plannedPartitions(read().filter($"id" === 3001L)).size <= 1)
    assert(sources.CommitScan.plannedPartitions(read().filter($"id" === 555L)).size <= 2)
  }

  test("bloom index: sidecars are GC-protected, die on rewrite, refusal matrix") {
    val dir = freshDir("bloom_gc")
    // even values: odd keys are in-range but absent (zone-invisible)
    spark.range(400L).select(($"id" * 2).as("id"), ($"id" * 0.5).as("v"))
      .repartition(4)
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    sources.CommitSink.buildBloomIndex(spark, dir, Seq("id"),
      expectedItemsPerFile = 10000L)
    val sidecars = manifest(dir).blooms.values.flatMap(_.values).toSet
    assert(sidecars.size == 4)
    // GC: the sidecars are live references — neither expiry nor the
    // orphan sweep may touch them
    sources.CommitSink.expireVersions(dir, keepLast = 1)
    sources.CommitSink.removeOrphanFiles(dir, graceMs = 0L)
    def read() = spark.read.format("graft-commit").option("path", dir).load()
    assert(sources.CommitScan.plannedPartitions(read().filter($"id" === 399L)).size <= 1,
      "blooms still load (sidecars survived the GC pair)")
    assert(read().count() == 400L)
    // a full rewrite retires the index with the files it described
    sources.CommitSink.compact(spark, dir, 2)
    assert(manifest(dir).blooms.isEmpty,
      "a rewritten file's bloom dies with it")
    assert(sources.CommitScan.plannedPartitions(read().filter($"id" === 399L)).size == 2,
      "un-indexed files never prune on equality")
    // refusals: unknown column, non-indexable (double) type
    intercept[RuntimeException] {
      sources.CommitSink.buildBloomIndex(spark, dir, Seq("ghost"))
    }
    intercept[IllegalArgumentException] {
      sources.CommitSink.buildBloomIndex(spark, dir, Seq("v"))
    }
  }

  test("convertEqDeletes returns exactly the files that received positions") {
    val dir = freshDir("eq_convert_targets")
    // four range-clustered files: ids [0,50) [50,100) [100,150) [150,200)
    spark.range(200L).select($"id", ($"id" % 10).as("g"))
      .repartitionByRange(4, $"id")
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    // keys 60..79 live in ONE of the four older files; the key file
    // covers (scopes to) all four, but only one receives positions
    spark.range(60L, 80L).select($"id", lit(-1L).as("g"))
      .write.format("graft-commit").option("path", dir)
      .option("upsertKeys", "id").mode("append").save()
    val affected = sources.CommitSink.convertEqDeletes(spark, dir)
    val m = manifest(dir)
    assert(m.eqDeletes.isEmpty)
    assert(affected.toSet == m.deletes.keySet,
      "returned files == files holding a vector after conversion")
    assert(affected.size == 1,
      s"keys in one range file must target one file, got $affected")
    assert(m.deletes(affected.head).ndel == 20L)
    assert(sources.CommitSink.readCommitted(spark, dir).count() == 200L)
  }
}
