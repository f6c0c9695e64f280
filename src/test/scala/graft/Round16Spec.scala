package graft

import java.nio.file.Paths

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-16 wave: bucket-transform partitioning (o40), the
  * rewrite-vs-append/upsert race pins, and the round's hardening
  * refusals (z-order dimension validation, bloom column-name guard).
  *
  *  - '''Bucket transform (o40)''': `PARTITIONED BY (bucket(N, col))`
  *    through the catalog — the Iceberg bucket transform
  *    ([[graft.sources.BucketFunction]], murmur3 of the integral key,
  *    seed 0, masked non-negative, mod N) — buckets a HIGH-CARDINALITY
  *    key into N stable groups: file count bounded by N (identity would
  *    land one file per key), every file holds exactly ONE bucket id
  *    (recorded as its pk), and two `bucket(N, k)` tables join
  *    exchange-free through the storage-partitioned join (the scan
  *    reports KeyGroupedPartitioning over the bucket TransformExpression,
  *    resolved through the catalog's FunctionCatalog — SPARK-37377, the
  *    wiring Iceberg ships).
  *  - '''Identity → bucket evolution''': `evolvePartitioning` accepts a
  *    `bucket(n,col)` target spec — metadata-only flip, stale pks
  *    stripped, SPJ off while any file lacks its key, `compact`
  *    migrates (pre-shaping the bucket shuffle itself: path-based
  *    maintenance has no FunctionCatalog) and restores grouped planning.
  *  - '''Refusal matrix''': bucket(0, c) and bucket on a non-integral
  *    column refuse at CREATE/evolve; a path append to a bucket table
  *    without the option still refuses (the o16 contract); z-order on a
  *    string or all-NULL dimension refuses with a named error; a bloom
  *    column name outside [A-Za-z0-9_]+ refuses.
  *  - '''Rewrite-vs-append race''': a compaction (and a clustering
  *    rewrite) whose CAS loses to a concurrent append/upsert RETRIES
  *    against the NEW manifest and never drops the concurrent commit's
  *    files — the final snapshot equals a serial order's content.
  */
class Round16Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = s"/tmp/graft_r16_spec/$tag"
    Tables.deleteRecursively(d)
    d
  }

  private def manifest(path: String) =
    sources.CommitSink.parseManifest(Paths.get(path)).get

  private def fileStat(path: String, f: String) =
    sources.CommitSink.FileStat.decode(manifest(path).stats(f))


  private def scopedCat(tag: String): (String, String) = {
    val root = s"/tmp/graft_r16_spec/cat_$tag"
    Tables.deleteRecursively(root)
    val cat = s"graft_r16_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CommitCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  test("o40: bucket function matches the Iceberg spec reference values") {
    // Iceberg spec appendix: bucket hash of 34L (and int 34) = 2017239379
    assert(org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(34L, 0)
      == 2017239379)
    assert(sources.BucketFunction.bucketId(16, 34L) == 2017239379 % 16)
    // int widens to long first: bucket(int 34) == bucket(long 34)
    val viaExpr = spark.range(1).select(
      sources.BucketFunction.bucketCol(16, lit(34L)).as("b"),
      sources.BucketFunction.bucketCol(16, lit(34).cast("int")).as("bi"))
      .head()
    assert(viaExpr.getInt(0) == 2017239379 % 16 && viaExpr.getInt(1) == viaExpr.getInt(0))
  }

  test("o40: bucket table — bounded files, one bucket per file, SPJ zero-exchange, point prune") {
    val (cat, root) = scopedCat("spj")
    spark.sql(s"CREATE TABLE $cat.`default`.fact (user_id BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(8, user_id))")
    spark.sql(s"CREATE TABLE $cat.`default`.dim (user_id BIGINT, tag BIGINT) " +
      "PARTITIONED BY (bucket(8, user_id))")
    spark.range(4000L).select(($"id" % 997L).as("user_id"), ($"id" * 3).as("v"))
      .createOrReplaceTempView("r16_fact_src")
    spark.range(997L).select($"id".as("user_id"), ($"id" % 7).as("tag"))
      .createOrReplaceTempView("r16_dim_src")
    spark.sql(s"INSERT INTO $cat.`default`.fact SELECT * FROM r16_fact_src")
    spark.sql(s"INSERT INTO $cat.`default`.dim SELECT * FROM r16_dim_src")
    // high-cardinality key (997 values), bounded layout: at most 8 files
    // per insert, every file holding exactly ONE bucket id
    val mf = manifest(s"$root/default/fact")
    assert(mf.partCol.contains("bucket(8,user_id)"))
    assert(mf.files.nonEmpty && mf.files.size <= 8,
      s"bucket layout must bound the file count at N=8, got ${mf.files.size}")
    mf.files.foreach { f =>
      val pk = fileStat(s"$root/default/fact", f).pk
      assert(pk.isDefined && pk.get >= 0 && pk.get < 8, s"$f pk=$pk")
    }
    // the recorded pk IS the Iceberg bucket id of every row in the file
    val perFile = spark.read.format("graft-commit")
      .option("path", s"$root/default/fact").load()
      .select($"user_id", col("_file"))
      .as[(Long, String)].collect()
    perFile.foreach { case (uid, f) =>
      assert(fileStat(s"$root/default/fact", f).pk.contains(
        sources.BucketFunction.bucketId(8, uid).toLong))
    }
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.sql(
        s"SELECT f.user_id, f.v, d.tag FROM $cat.`default`.fact f " +
          s"JOIN $cat.`default`.dim d ON f.user_id = d.user_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucket(8,user_id) on both sides must storage-partition the join:\n$plan")
      assert(joined.count() == 4000L)
    }
    // point prune: an equality predicate on the key plans ONE bucket group
    val probe = spark.table(s"$cat.`default`.fact").filter($"user_id" === 123L)
    assert(sources.CommitScan.plannedPartitions(probe).size == 1,
      "a key point-lookup must plan exactly the key's bucket group")
    assert(probe.count() ==
      (0L until 4000L).count(i => i % 997L == 123L).toLong)
  }

  test("o40: identity -> bucket evolution, SPJ off until compact migrates, appends converge") {
    val (cat, root) = scopedCat("evolve")
    val dir = freshDir("evolve_tbl")
    spark.range(900L).select(($"id" % 3).as("k"), $"id".as("v"))
      .write.format("graft-commit").option("path", dir)
      .option("partitionBy", "k").mode("overwrite").save()
    assert(manifest(dir).files.forall(f => fileStat(dir, f).pk.isDefined))
    // metadata-only flip to the bucket spec: same files, stripped pks
    val before = manifest(dir)
    sources.CommitSink.evolvePartitioning(spark, dir, Some("bucket(4, v)"))
    val after = manifest(dir)
    assert(after.partCol.contains("bucket(4,v)"))
    assert(after.files == before.files, "evolution must not touch data files")
    assert(after.files.forall(f => fileStat(dir, f).pk.isEmpty),
      "stale identity keys must be stripped — they are values of the OLD spec")
    // mixed layout: per-file planning (no grouped partitions)
    def read() = spark.read.format("graft-commit").option("path", dir).load()
    assert(sources.CommitScan.plannedPartitions(read()).size == after.files.size)
    // appends must use the NEW layout on the path surface
    val e = intercept[Exception] {
      spark.range(10L).select(($"id" % 3).as("k"), $"id".as("v"))
        .write.format("graft-commit").option("path", dir)
        .option("partitionBy", "k").mode("append").save()
    }
    assert((e.getMessage != null && e.getMessage.contains("partition-layout mismatch")) ||
      (e.getCause != null && e.getCause.getMessage.contains("partition-layout mismatch")))
    // compact migrates: every file re-keyed by bucket id, grouped planning back
    sources.CommitSink.compact(spark, dir, 2)
    val m2 = manifest(dir)
    assert(m2.files.forall(f => fileStat(dir, f).pk.exists(k => k >= 0 && k < 4)))
    val groups = m2.files.map(f => fileStat(dir, f).pk.get).distinct.size
    assert(sources.CommitScan.plannedPartitions(read()).size == groups,
      "after migration the scan plans one partition per bucket group")
    // content identical through the whole evolution
    assert(read().agg(sum($"v")).head().getLong(0) == (0L until 900L).sum)
    // after migration a point lookup on the bucket source column prunes
    // to the key's single bucket group (transform predicate projection)
    assert(sources.CommitScan.plannedPartitions(read().filter($"v" === 123L)).size == 1)
    val _ = (cat, root) // catalog retained for scratch hygiene symmetry
  }

  test("o40/refusals: bucket spec validation at create, evolve, and the path surface") {
    val (cat, _) = scopedCat("refuse")
    // non-integral source column
    val e1 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.`default`.bad1 (s STRING, v BIGINT) " +
        "PARTITIONED BY (bucket(4, s))")
    }
    assert(e1.getMessage.contains("BIGINT or INT"), e1.getMessage)
    // unsupported transform (days/truncate joined the family in r16,
    // years/months in r17, hours in r18 — `weeks` is not an Iceberg
    // transform and stays out)
    val e2 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.`default`.bad2 (ts TIMESTAMP, v BIGINT) " +
        "PARTITIONED BY (weeks(ts))")
    }
    assert(e2.getMessage.contains("unsupported partition transform"), e2.getMessage)
    // zero buckets
    val dir = freshDir("refuse_tbl")
    spark.range(10L).select($"id".as("v"))
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    val e3 = intercept[Exception] {
      sources.CommitSink.evolvePartitioning(spark, dir, Some("bucket(0, v)"))
    }
    assert(e3.getMessage.contains("1 <= n"), e3.getMessage)
    // years parses since r17, but a BIGINT source refuses the type rule
    val e4 = intercept[Exception] {
      sources.CommitSink.evolvePartitioning(spark, dir, Some("years(v)"))
    }
    assert(e4.getMessage.contains("DATE or TIMESTAMP"), e4.getMessage)
    // a malformed spec is neither a column nor a supported transform
    // (hours joined the family in r18 — weeks is the outsider now)
    val e5 = intercept[Exception] {
      sources.CommitSink.evolvePartitioning(spark, dir, Some("weeks(v)"))
    }
    assert(e5.getMessage.contains("neither a plain column"), e5.getMessage)
  }

  test("rewrite-vs-append: a stale rewrite CAS refuses — it can never drop the append's files") {
    val dir = freshDir("race_stale")
    spark.range(100L).select($"id", ($"id" * 2).as("v"))
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    // plan a whole-table rewrite against commit 0, read its pinned
    // version, then let an append land BEFORE the rewrite commits —
    // the deterministic interleaving a thread race can only sample
    val planning = manifest(dir)
    val pinned = spark.read.format("graft-commit").option("path", dir)
      .option("versionAsOf", planning.commit).load()
    spark.range(100L, 120L).select($"id", ($"id" * 2).as("v"))
      .write.format("graft-commit").option("path", dir).mode("append").save()
    val token = sources.CommitSink.registerRewrite(
      sources.CommitSink.DmlRewrite(planning, () => planning.files.toSet))
    val e = intercept[Exception] {
      pinned.repartition(1).write.format("graft-commit").option("path", dir)
        .option("rewriteToken", token).mode("overwrite").save()
    }
    def isCas(t: Throwable): Boolean = t != null &&
      (t.getMessage != null && t.getMessage.contains("aborting instead of silently") ||
        isCas(t.getCause))
    assert(isCas(e), s"stale rewrite must refuse at the CAS: ${e.getMessage}")
    // the refused rewrite left the append's commit fully intact
    assert(manifest(dir).commit == 1L)
    assert(spark.read.format("graft-commit").option("path", dir).load().count() == 120L)
  }

  test("rewrite-vs-append race: compact retries on the NEW file set, serial-order content") {
    val dir = freshDir("race_compact_append")
    spark.range(2000L).select($"id", ($"id" % 13).as("v")).repartition(8)
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val compactor = new Thread(() => {
      try sources.CommitSink.compact(spark, dir, 2)
      catch { case t: Throwable => errs.add(t) }
    })
    val appender = new Thread(() => {
      try spark.range(2000L, 2500L).select($"id", ($"id" % 13).as("v"))
        .write.format("graft-commit").option("path", dir).mode("append").save()
      catch { case t: Throwable => errs.add(t) }
    })
    compactor.start(); appender.start()
    compactor.join(); appender.join()
    assert(errs.isEmpty, s"both writers must land: " +
      s"${errs.toArray.map { case t: Throwable => t.getMessage }.toSeq}")
    val got = spark.read.format("graft-commit").option("path", dir).load()
    assert(got.count() == 2500L, "the compaction must never drop the append's files")
    assert(got.agg(sum($"id")).head().getLong(0) == (0L until 2500L).sum)
    assert(manifest(dir).commit == 2L, "base + append + compaction (retried or not)")
  }

  test("rewrite-vs-upsert race: compact retries against the eq-delete commit, serial content") {
    val dir = freshDir("race_compact_upsert")
    spark.range(1000L).select($"id", lit("base").as("s")).repartition(8)
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val compactor = new Thread(() => {
      try sources.CommitSink.compact(spark, dir, 2)
      catch { case t: Throwable => errs.add(t) }
    })
    val upserter = new Thread(() => {
      try spark.range(300L, 500L).select($"id", lit("upserted").as("s"))
        .write.format("graft-commit").option("path", dir)
        .option("upsertKeys", "id").mode("append").save()
      catch { case t: Throwable => errs.add(t) }
    })
    compactor.start(); upserter.start()
    compactor.join(); upserter.join()
    assert(errs.isEmpty, s"both writers must land: " +
      s"${errs.toArray.map { case t: Throwable => t.getMessage }.toSeq}")
    // any serialization yields the same net content: keys 300..499
    // replaced, everything else base — on both read paths
    val got = sources.CommitSink.readCommitted(spark, dir)
      .as[(Long, String)].collect().toMap
    assert(got.size == 1000)
    (0L until 1000L).foreach { k =>
      val want = if (k >= 300L && k < 500L) "upserted" else "base"
      assert(got(k) == want, s"key $k: got ${got(k)}, want $want")
    }
    val dsv2 = spark.read.format("graft-commit").option("path", dir).load()
      .as[(Long, String)].collect().toMap
    assert(dsv2 == got)
    assert(manifest(dir).commit == 2L, "base + upsert + compaction")
  }

  test("o42: truncate/days transforms — monotone layouts, one key per file, zone pruning") {
    // truncate(100, v) through the path option: ordered distribution,
    // every file holds one 100-wide band, zone maps prune points/ranges
    val dir = freshDir("truncate_tbl")
    spark.range(1000L).select($"id".as("v"), ($"id" % 7).as("x"))
      .write.format("graft-commit").option("path", dir)
      .option("partitionBy", "truncate(100, v)").mode("overwrite").save()
    val m = manifest(dir)
    assert(m.partCol.contains("truncate(100,v)"))
    m.files.foreach { f =>
      val st = fileStat(dir, f)
      assert(st.pk.isDefined && st.pk.get % 100 == 0, s"$f pk=${st.pk}")
      val r = st.cols("v")
      assert(r.min.toLong >= st.pk.get && r.max.toLong < st.pk.get + 100,
        s"$f rows outside its band: [${r.min}, ${r.max}] vs pk ${st.pk.get}")
    }
    def read() = spark.read.format("graft-commit").option("path", dir).load()
    assert(sources.CommitScan.plannedPartitions(read().filter($"v" === 555L)).size == 1)
    assert(read().agg(sum($"v")).head().getLong(0) == (0L until 1000L).sum)
    // days(ts) through the catalog: each file one epoch day
    val (cat, root) = scopedCat("days")
    spark.sql(s"CREATE TABLE $cat.`default`.ev (ts TIMESTAMP_NTZ, v BIGINT) " +
      "PARTITIONED BY (days(ts))")
    spark.range(600L).select(
        expr("cast(date_add(date'2026-01-01', cast(id % 6 as int)) as timestamp_ntz)").as("ts"),
        $"id".as("v"))
      .createOrReplaceTempView("r16_days_src")
    spark.sql(s"INSERT INTO $cat.`default`.ev SELECT * FROM r16_days_src")
    val md = manifest(s"$root/default/ev")
    assert(md.partCol.contains("days(ts)"))
    val epochDay0 = java.time.LocalDate.parse("2026-01-01").toEpochDay
    val pks = md.files.map(f => fileStat(s"$root/default/ev", f).pk.get)
    assert(pks.toSet == (epochDay0 until epochDay0 + 6).toSet,
      s"one bucketed day per file group, got $pks")
    // a one-day time filter plans only that day's file(s)
    val oneDay = spark.table(s"$cat.`default`.ev")
      .filter($"ts" >= expr("timestamp_ntz'2026-01-03 00:00:00'") &&
        $"ts" < expr("timestamp_ntz'2026-01-04 00:00:00'"))
    assert(sources.CommitScan.plannedPartitions(oneDay).size == md.files.count(f =>
      fileStat(s"$root/default/ev", f).pk.contains(epochDay0 + 2)))
    assert(oneDay.count() == 100L)
    // refusal: days on a non-temporal column
    val e = intercept[Exception] {
      sources.CommitSink.evolvePartitioning(spark, dir, Some("days(v)"))
    }
    assert(e.getMessage.contains("DATE or TIMESTAMP"), e.getMessage)
  }

  // --- write-audit-publish + tags (o41) -----------------------------------

  test("o41: stage is invisible, audit reads the staged version, publish fast-forwards") {
    val dir = freshDir("wap")
    spark.range(100L).select($"id", lit("base").as("s"))
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    spark.range(100L, 150L).select($"id", lit("staged").as("s"))
      .write.format("graft-commit").option("path", dir)
      .option("stageOnly", "true").mode("append").save()
    // main never moved; the staged version is a complete readable fact
    assert(manifest(dir).commit == 0L)
    def read() = spark.read.format("graft-commit").option("path", dir).load()
    assert(read().count() == 100L, "staged rows must be invisible on main")
    assert(spark.read.format("graft-commit").option("path", dir)
      .option("versionAsOf", 1).load().count() == 150L,
      "the audit read sees base + staged")
    sources.CommitSink.publishStaged(dir, 1L)
    assert(manifest(dir).commit == 1L && read().count() == 150L)
    // double publish refuses (already current)
    val e = intercept[IllegalArgumentException] {
      sources.CommitSink.publishStaged(dir, 1L)
    }
    assert(e.getMessage.contains("already published"), e.getMessage)
  }

  test("o41: publish is fast-forward ONLY — a commit landing mid-audit refuses it") {
    val dir = freshDir("wap_race")
    spark.range(100L).select($"id")
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    spark.range(100L, 150L).select($"id")
      .write.format("graft-commit").option("path", dir)
      .option("stageOnly", "true").mode("append").save()
    // a normal append lands while the audit runs — it wins commit 1's
    // slot? No: the staged version HOLDS version 1, so the append CAS
    // sees current=0, plans 1, collides on the version file and retries
    // ... the design: the append must NOT clobber the staged manifest.
    val e0 = intercept[Exception] {
      spark.range(500L, 510L).select($"id")
        .write.format("graft-commit").option("path", dir).mode("append").save()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e0).exists(_.contains("OPEN STAGE")),
      s"an append during an open stage must refuse, not clobber: ${chain(e0)}")
    // the stage is intact and publishes
    sources.CommitSink.publishStaged(dir, 1L)
    assert(spark.read.format("graft-commit").option("path", dir).load()
      .count() == 150L)
    // abandon-path: stage another, then drop it — its unique files go,
    // carried files stay
    spark.range(900L, 910L).select($"id")
      .write.format("graft-commit").option("path", dir)
      .option("stageOnly", "true").mode("append").save()
    assert(sources.CommitSink.listVersions(Paths.get(dir)).contains(2L))
    val removed = sources.CommitSink.dropStagedVersion(dir, 2L)
    assert(removed.nonEmpty && removed.forall(_.startsWith("part-")))
    assert(!sources.CommitSink.listVersions(Paths.get(dir)).contains(2L))
    assert(spark.read.format("graft-commit").option("path", dir).load()
      .count() == 150L, "dropping the stage must not touch published files")
  }

  test("o41: tags pin versions by name and root retention through expiry") {
    val dir = freshDir("tags")
    spark.range(80L).select($"id")
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    sources.CommitSink.createTag(dir, "v0-audit", 0L)
    // duplicate and unknown-version refusals
    val e1 = intercept[IllegalArgumentException] {
      sources.CommitSink.createTag(dir, "v0-audit", 0L)
    }
    assert(e1.getMessage.contains("already exists"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      sources.CommitSink.createTag(dir, "ghost", 7L)
    }
    assert(e2.getMessage.contains("no such version"), e2.getMessage)
    spark.range(80L, 200L).select($"id")
      .write.format("graft-commit").option("path", dir).mode("append").save()
    spark.range(200L, 300L).select($"id")
      .write.format("graft-commit").option("path", dir).mode("append").save()
    // keepLast=1 would drop versions 0 and 1; the tag pins 0
    val (dropped, _) = sources.CommitSink.expireVersions(dir, keepLast = 1)
    assert(dropped == Seq(1L), s"tagged version 0 must survive, dropped $dropped")
    assert(spark.read.format("graft-commit").option("path", dir)
      .option("tagAsOf", "v0-audit").load().count() == 80L)
    // SQL VERSION AS OF '<tag>' through the catalog
    val (cat, root) = scopedCat("tags")
    spark.range(10L).select($"id")
      .write.format("graft-commit").option("path", s"$root/default/t")
      .mode("overwrite").save()
    sources.CommitSink.createTag(s"$root/default/t", "genesis", 0L)
    spark.range(10L, 30L).select($"id")
      .write.format("graft-commit").option("path", s"$root/default/t")
      .mode("append").save()
    assert(spark.sql(s"SELECT count(*) FROM $cat.`default`.t VERSION AS OF 'genesis'")
      .head().getLong(0) == 10L)
    // drop the tag: the version becomes expirable again
    assert(sources.CommitSink.dropTag(dir, "v0-audit"))
    val (dropped2, _) = sources.CommitSink.expireVersions(dir, keepLast = 1)
    assert(dropped2 == Seq(0L))
  }

  // --- two-level manifest (the manifest-list, r16) -----------------------

  /** A CommitIO that counts manifest reads: group manifests (the
    * sublinearity instrument — planning a selective scan must parse only
    * the groups its predicate cannot rule out), the live root
    * `_MANIFEST.json` and the immutable `_MANIFEST-v<n>.json` files. */
  private class CountingIo extends sources.CommitIO {
    val groupReads = new java.util.concurrent.atomic.AtomicInteger(0)
    val rootReads = new java.util.concurrent.atomic.AtomicInteger(0)
    val versionReads = new java.util.concurrent.atomic.AtomicInteger(0)
    private val d = sources.NioCommitIO
    override def inputFile(p: java.nio.file.Path) = d.inputFile(p)
    override def outputFile(p: java.nio.file.Path) = d.outputFile(p)
    override def newInputStream(p: java.nio.file.Path) = d.newInputStream(p)
    override def newOutputStream(p: java.nio.file.Path) = d.newOutputStream(p)
    override def readString(p: java.nio.file.Path): String = {
      val name = p.getFileName.toString
      if (name.startsWith("_MANIFEST-g")) groupReads.incrementAndGet()
      else if (name == "_MANIFEST.json") rootReads.incrementAndGet()
      else if (name.startsWith("_MANIFEST-v")) versionReads.incrementAndGet()
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

  test("one manifest per table instance: a point lookup reads the root once") {
    val (cat, root) = scopedCat("root_reads")
    val path = s"$root/default/t"
    spark.range(100L).select($"id", ($"id" * 3).as("v"))
      .write.format("graft-commit").option("path", path)
      .mode("overwrite").save()
    spark.range(100L, 200L).select($"id", ($"id" * 3).as("v"))
      .write.format("graft-commit").option("path", path)
      .mode("append").save()
    def counted(q: => Array[org.apache.spark.sql.Row]): (Seq[Long], CountingIo) = {
      val c = new CountingIo
      val rows = sources.CommitSink.withIo(c)(q)
      (rows.map(_.getLong(0)).toSeq, c)
    }
    // catalog point lookup: schema, metadata columns, scan and
    // eligibility checks all take the one root the table loaded
    val (live, c1) = counted(spark.sql(
      s"SELECT v FROM $cat.`default`.t WHERE id = 42").collect())
    assert(live == Seq(126L))
    assert(c1.rootReads.get() == 1 && c1.versionReads.get() == 0,
      s"catalog lookup read the root ${c1.rootReads.get()}x, " +
        s"version files ${c1.versionReads.get()}x")
    // VERSION AS OF: the immutable version file once, the root never
    val (old, c2) = counted(spark.sql(
      s"SELECT v FROM $cat.`default`.t VERSION AS OF 0 WHERE id = 42").collect())
    assert(old == Seq(126L))
    assert(c2.rootReads.get() == 0 && c2.versionReads.get() == 1,
      s"VERSION AS OF read the root ${c2.rootReads.get()}x, " +
        s"version files ${c2.versionReads.get()}x")
    // a path read: getTable reuses the table instance inferSchema loaded
    val (byPath, c3) = counted(spark.read.format("graft-commit")
      .option("path", path).load().filter($"id" === 142L).select($"v").collect())
    assert(byPath == Seq(426L))
    assert(c3.rootReads.get() == 1, s"path read read the root ${c3.rootReads.get()}x")
    // DELETE: a translatable predicate lands its copy-on-write rewrite
    // through a path write, whose builder plans against the rewrite's
    // manifest instead of re-reading the root — the same 2 reads as the
    // row-level DELETE (table load + the commit's compare-and-swap)
    def deleteReads(where: String): Int = {
      val c = new CountingIo
      sources.CommitSink.withIo(c)(spark.sql(s"DELETE FROM $cat.`default`.t WHERE $where"))
      c.rootReads.get()
    }
    assert(deleteReads("id = 5") == 2, "translatable DELETE root reads")
    assert(deleteReads("id % 7 = 3") == 2, "row-level DELETE root reads")
    assert(spark.table(s"$cat.`default`.t").count() == 200L - 1L - 29L)
  }

  test("manifest list: 120k files — small root, selective planning parses ONE group") {
    val dir = freshDir("manifest_list_120k")
    java.nio.file.Files.createDirectories(Paths.get(dir))
    val n = 120000
    // sorted names (zero-padded) so the grouped slices align with the
    // id ranges: file i holds ids [10i, 10i+9]
    val files = (0 until n).map(i => f"part-c00001-deadbeef-$i%06d.parquet")
    val stats = files.zipWithIndex.map { case (f, i) =>
      f -> sources.CommitSink.FileStat(10L, 1000L, None,
        Map("id" -> sources.CommitSink.ColRange('l',
          (i * 10L).toString, (i * 10L + 9).toString))).encode
    }.toMap
    sources.CommitSink.writeManifest(Paths.get(dir), "id BIGINT", files, 1L,
      stats = stats)
    // the root lists ~30 group refs, not 120k file entries
    val rootBytes = java.nio.file.Files.size(Paths.get(dir, "_MANIFEST.json"))
    assert(rootBytes < 64 * 1024,
      s"two-level root must be group-count-sized, got $rootBytes bytes")
    val groupFiles = java.nio.file.Files.list(Paths.get(dir)).iterator()
    val nGroups = {
      var c = 0
      while (groupFiles.hasNext) {
        if (groupFiles.next().getFileName.toString.startsWith("_MANIFEST-g")) c += 1
      }
      c
    }
    assert(nGroups == (n + 4095) / 4096, s"expected ceil(n/4096) groups, got $nGroups")
    // full resolution still yields every entry (writers/DML/GC view)
    val m = manifest(dir)
    assert(m.files.size == n && m.groups.size == nGroups)
    // THE SUBLINEARITY PIN: a point predicate plans through ONE group
    val counting = new CountingIo
    val planned = sources.CommitSink.withIo(counting) {
      val b = new sources.CommitScanBuilder(dir,
        sources.CommitSink.loadRoot(Paths.get(dir)))
      b.pushFilters(Array(org.apache.spark.sql.sources.EqualTo("id", 42L)))
      b.build().asInstanceOf[org.apache.spark.sql.connector.read.Batch]
        .planInputPartitions().length
    }
    assert(counting.groupReads.get() == 1,
      s"selective planning must parse 1 of $nGroups groups, read ${counting.groupReads.get()}")
    assert(planned == 1, s"id=42 lives in exactly one file, planned $planned")
    // the metadata-only aggregate still answers from the manifest alone
    // (zero data files exist on disk)
    val agg = spark.read.format("graft-commit").option("path", dir).load()
      .agg(count(lit(1)), min($"id"), max($"id")).head()
    assert(agg.getLong(0) == n * 10L && agg.getLong(1) == 0L &&
      agg.getLong(2) == n * 10L - 1)
  }

  test("manifest list: invisible to every operator contract at a forced low threshold") {
    val prev = System.getProperty("graft.manifest.group.size")
    System.setProperty("graft.manifest.group.size", "3")
    try {
      val dir = freshDir("manifest_list_e2e")
      spark.range(800L).select($"id", ($"id" % 7).as("v"))
        .repartition(8)
        .write.format("graft-commit").option("path", dir).mode("overwrite").save()
      val m0 = manifest(dir)
      assert(m0.groups.size == 3 && m0.files.size == 8,
        s"8 files at group size 3 = 3 groups, got ${m0.groups.size}/${m0.files.size}")
      def read() = spark.read.format("graft-commit").option("path", dir).load()
      assert(read().count() == 800L &&
        read().agg(sum($"id")).head().getLong(0) == (0L until 800L).sum)
      // UPDATE through the catalog-free path: group-granular rewrite must
      // carry every unscanned file across the two-level planning manifest
      val (cat, root) = scopedCat("mlist")
      spark.range(100L).select($"id", ($"id" % 7).as("v")).repartition(4)
        .write.format("graft-commit").option("path", s"$root/default/t")
        .mode("overwrite").save()
      // make it a catalog table path (manifest already there)
      spark.sql(s"UPDATE $cat.`default`.t SET v = 99 WHERE id = 5")
      val t = spark.table(s"$cat.`default`.t")
      assert(t.filter($"v" === 99L).count() == 1L && t.count() == 100L)
      // time travel + expiry: old group files die with their version,
      // the current version's survive the GC pair
      spark.range(800L, 900L).select($"id", ($"id" % 7).as("v"))
        .write.format("graft-commit").option("path", dir).mode("append").save()
      assert(sources.CommitSink.readCommittedVersion(spark, dir, 0L).count() == 800L)
      val (dropped, removed) = sources.CommitSink.expireVersions(dir, keepLast = 1)
      assert(dropped.contains(0L))
      assert(removed.exists(_.startsWith("_MANIFEST-g")),
        s"the expired version's group manifests must go with it: $removed")
      val liveGroups = manifest(dir).groups.map(_.name)
      assert(liveGroups.nonEmpty &&
        liveGroups.forall(g => java.nio.file.Files.exists(Paths.get(dir, g))),
        "the current version's group manifests must survive expiry")
      sources.CommitSink.removeOrphanFiles(dir, graceMs = 0L)
      assert(read().count() == 900L, "GC must not touch the live two-level version")
    } finally {
      if (prev == null) System.clearProperty("graft.manifest.group.size")
      else System.setProperty("graft.manifest.group.size", prev)
    }
  }

  test("r16 hardening: z-order refuses string and all-NULL dims; bloom refuses unsafe names") {
    val dir = freshDir("zorder_refuse")
    // "a-b" is a legal schema name but outside the manifest encoding's
    // separator-safe alphabet — the bloom name guard's target
    spark.range(100L).select($"id", concat(lit("s"), $"id").as("s"),
        lit(null).cast("long").as("nul"), ($"id" % 7).as("a-b"))
      .repartition(4)
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    val e1 = intercept[IllegalArgumentException] {
      sources.CommitSink.compactAndCluster(spark, dir, 2, Seq("id", "s"), zOrder = true)
    }
    assert(e1.getMessage.contains("non-numeric"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      sources.CommitSink.compactAndCluster(spark, dir, 2, Seq("id", "nul"), zOrder = true)
    }
    assert(e2.getMessage.contains("all-NULL"), e2.getMessage)
    val e3 = intercept[Exception] {
      sources.CommitSink.buildBloomIndex(spark, dir, Seq("a-b"))
    }
    assert(e3.getMessage.contains("must match [A-Za-z0-9_]+"), e3.getMessage)
  }
}
