package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 wave: the parquet staged-file payload (full declared-type
  * surface), the MERGE group-filter profitability guard, changelog
  * self-service recovery (snapshotOnRewrite), the manifest scale
  * proof — and the MERGE-ON-READ family (o27-o30): deletion vectors,
  * delta UPDATE/MERGE, the change data feed, and targeted vector
  * maintenance.
  *
  *  - '''Parquet payload''': staged files are columnar parquet;
  *    every declared type (timestamp/ntz, date, decimal narrow+wide,
  *    float, smallint, tinyint) round-trips bit-exactly through write →
  *    commit → DSv2 scan AND the Spark-native re-read. Parquet is the
  *    only format: a `payload` write option or table property naming
  *    anything else is refused, and so is a legacy JSON-lines manifest
  *    that lists files.
  *  - '''Group-filter guard''': the matching-groups subquery only runs
  *    when the manifest's zone maps show prunable structure — a
  *    hash-scattered layout skips it (rewrite = statically planned
  *    set), `runtimeGroupFilter=always` restores it.
  *  - '''snapshotOnRewrite''': the SAME checkpoint survives a
  *    compaction — the stream re-bootstraps from the current snapshot
  *    and an idempotent consumer converges to d22's exact answer. The
  *    loud-refusal default is unchanged (d33 / Round12Spec pin it).
  *  - '''Manifest scale''': an 8k-file manifest stays O(files) in bytes,
  *    parses in bounded time, and serves the metadata-only COUNT with
  *    zero data files on disk — the 100 TB planning story as a pinned
  *    number instead of a README sentence.
  *  - '''Merge-on-read (o27/o28)''': DELETE records (file, _pos)
  *    deletion vectors (data files untouched, vectors union, a fully-
  *    covered file drops, COUNT stays metadata-only, GC protects
  *    referenced vectors, density-adaptive container); UPDATE/MERGE go
  *    delta-based (SupportsDelta — per trigger/statement, bytes
  *    written ∝ rows changed); identity-partitioned layouts keep their
  *    key groups under vectors; zone maps stay NaN-sound.
  *  - '''Change data feed (o29)''': rows + _change_type/_commit_version
  *    per commit, batch == streaming planner, startingVersion-bounded;
  *    vector commits stream as 'delete' rows, rewrites still refuse.
  *  - '''Vector maintenance (o30)''': compactDeletes rewrites only
  *    delete-dominated files, sparse vectors carry.
  */
class Round13Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = s"/tmp/graft_r13_spec/$tag"
    Tables.deleteRecursively(d)
    d
  }

  private def manifest(path: String) =
    sources.CommitSink.parseManifest(Paths.get(path)).get

  private def withCatalog(tag: String): (String, String) = {
    val root = freshDir(s"catalog_$tag")
    val cat = s"graft_r13_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.CommitCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  // --- parquet payload: the full type surface ------------------------------

  /** Every parquet-payload type, with the hostile values: negative wide
    * decimals (sign-extended fixed16), pre-epoch timestamps, NaN floats,
    * nulls in every column, unicode + escapes in strings. */
  private def typedFixture: DataFrame = {
    val rows = Seq(
      (1L, Some(42), Some(7.toShort), Some(3.toByte), Some(2.5d), Some(1.5f),
        Some(true), Some("plain"), Some(java.sql.Date.valueOf("2024-02-29")),
        Some(java.sql.Timestamp.valueOf("2024-06-01 12:34:56.789")),
        // decimals travel as strings: the default BigDecimal encoder is
        // (38,18), too narrow for the wide fixture — the select casts
        Some("12345678.9012"), Some("-987654321098765432109876543210.0001")),
      (2L, None, None, None, Some(Double.NaN), Some(Float.NegativeInfinity),
        Some(false), Some("unié中\n\"q\""), Some(java.sql.Date.valueOf("1969-07-20")),
        Some(java.sql.Timestamp.valueOf("1969-12-31 23:59:59.999")),
        Some("-0.0001"), Some("0.0000")),
      (3L, Some(-2147483648), Some(Short.MinValue), Some(Byte.MinValue), None, None,
        None, None, None, None, None, None))
    rows.toDF("id", "i", "s", "b", "d", "f", "bo", "str", "dt", "ts", "dec", "wide")
      .select($"id", $"i", $"s", $"b", $"d", $"f", $"bo", $"str", $"dt", $"ts",
        $"dec".cast(DecimalType(12, 4)).as("dec"),
        $"wide".cast(DecimalType(34, 4)).as("wide"),
        $"ts".cast(TimestampNTZType).as("ntz"))
  }

  test("parquet payload: every declared type round-trips bit-exactly (both read paths)") {
    val dir = freshDir("typed_roundtrip")
    val in = typedFixture
    in.write.format("graft-commit").option("path", dir).mode("overwrite").save()
    val m = manifest(dir)
    assert(m.files.forall(_.endsWith(".parquet")))
    // older builds read a manifest without the field as JSON-lines
    assert(new String(Files.readAllBytes(Paths.get(dir, "_MANIFEST.json")), "UTF-8")
      .contains("\"payload\":\"parquet\""),
      "manifests keep recording the payload for older readers")
    // declared types survive in the manifest schema
    val sch = sources.CommitSink.readCommitted(spark, dir).schema
    assert(sch("dec").dataType == DecimalType(12, 4))
    assert(sch("wide").dataType == DecimalType(34, 4))
    assert(sch("f").dataType == FloatType && sch("b").dataType == ByteType)
    assert(sch("dt").dataType == DateType && sch("ts").dataType == TimestampType)
    assert(sch("ntz").dataType == TimestampNTZType)
    // both read paths decode identical rows (NaN-safe comparison via <=>)
    for (back <- Seq(
        sources.CommitSink.readCommitted(spark, dir),            // native vectorized
        spark.read.format("graft-commit").option("path", dir).load())) { // DSv2 FileRows reader
      assert(back.count() == 3)
      val joined = back.as("a").join(in.as("b"), $"a.id" === $"b.id")
      in.columns.filter(_ != "id").foreach { c =>
        assert(joined.filter(!(col(s"a.$c") <=> col(s"b.$c"))).count() == 0,
          s"column $c must round-trip bit-exactly")
      }
    }
  }

  test("parquet payload: column projection and zone maps work through the DSv2 scan") {
    val dir = freshDir("typed_prune")
    spark.range(1000L).select($"id",
        to_date(lit("2024-01-01")).as("day"),
        ($"id" * 1000000L).cast(TimestampType).as("ts"),
        ($"id" / 10.0).cast(DecimalType(12, 4)).as("dec"))
      .withColumn("day", date_add($"day", ($"id" / 10L).cast("int")))
      .repartitionByRange(4, $"id")
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    val df = spark.read.format("graft-commit").option("path", dir).load()
      .filter($"day" < to_date(lit("2024-01-05"))) // days 0..3 → ids < 40: 1 of 4 files
      .select($"id", $"day")
    assert(df.count() == 40)
    val desc = sources.CommitScan.of(df).description()
    assert(desc.contains("files: 1/4"), s"date zone map must prune 3 of 4 files: $desc")
    assert(desc.contains("columns: 2/4"), s"projection must reach the scan: $desc")
  }

  // --- the one payload format: refusals -----------------------------------

  private val payloadRefusal = "parquet is the only staged-file format"
  private val legacyRefusal = "retired JSON-lines payload"

  private def msgChain(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).mkString(" <- ")

  test("parquet payload: appends carry the format; a json append onto parquet is refused") {
    val dir = freshDir("payload_option")
    spark.range(5L).select($"id").write.format("graft-commit")
      .option("path", dir).mode("overwrite").save()
    // an un-optioned append writes parquet; naming the one format
    // selects nothing new
    spark.range(5L, 10L).select($"id").write.format("graft-commit")
      .option("path", dir).mode("append").save()
    spark.range(5L, 10L).select($"id").write.format("graft-commit")
      .option("path", dir).option("payload", "parquet").mode("append").save()
    assert(manifest(dir).files.size >= 3 && manifest(dir).files.forall(_.endsWith(".parquet")))
    // the payload option is refused for anything but parquet, in
    // either mode, never silently ignored
    for (mode <- Seq("append", "overwrite"); p <- Seq("json", " JSON ", "avro")) {
      val e = intercept[Exception] {
        spark.range(10L, 15L).select($"id").write.format("graft-commit")
          .option("path", dir).option("payload", p).mode(mode).save()
      }
      assert(msgChain(e).contains(payloadRefusal), msgChain(e))
    }
    // the refused writes committed nothing
    assert(manifest(dir).commit == 2L)
    assert(sources.CommitSink.readCommitted(spark, dir).count() == 15L)
    // a first write is refused before anything lands
    val fresh = freshDir("payload_option_fresh")
    val e = intercept[Exception] {
      spark.range(3L).select($"id").write.format("graft-commit")
        .option("path", fresh).option("payload", "json").mode("overwrite").save()
    }
    assert(msgChain(e).contains(payloadRefusal), msgChain(e))
    assert(!Files.exists(Paths.get(fresh, "_MANIFEST.json")))
  }

  test("payload table property: TBLPROPERTIES naming anything but parquet is refused") {
    val (cat, root) = withCatalog("payload_prop")
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.`default`.j (id BIGINT) USING `graft-commit` " +
        "TBLPROPERTIES ('payload'='json')")
    }
    assert(msgChain(e).contains(payloadRefusal), msgChain(e))
    assert(!Files.exists(Paths.get(root, "default", "j")), "a refused CREATE leaves no table")
    // the one format is accepted, and the table writes parquet
    spark.sql(s"CREATE TABLE $cat.`default`.t (id BIGINT) USING `graft-commit` " +
      "TBLPROPERTIES ('payload'='parquet')")
    spark.sql(s"INSERT OVERWRITE $cat.`default`.t SELECT id FROM range(5)")
    val path = s"$root/default/t"
    assert(manifest(path).files.forall(_.endsWith(".parquet")))
    assert(sources.CommitSink.readCommitted(spark, path).count() == 5L)
  }

  /** Hand-write a legacy table at `d`: one JSON-lines data file and a
    * manifest carrying `payloadField` and listing `files`. */
  private def legacyManifest(d: java.nio.file.Path, payloadField: String,
                             files: String): Unit = {
    Files.createDirectories(d)
    Files.write(d.resolve("part-c00000-x-00000.json"), "{\"id\":1}\n".getBytes("UTF-8"))
    Files.write(d.resolve("_MANIFEST.json"),
      (s"""{"commit":0,"epochs":[],$payloadField"schema":"id BIGINT",""" +
        s""""files":[$files]}""").getBytes("UTF-8"))
  }

  test("payload: a legacy JSON-lines manifest that lists files is refused at parse") {
    val dir = freshDir("payload_legacy")
    val d = Paths.get(dir)
    def manifestWith(payloadField: String, files: String): Unit =
      legacyManifest(d, payloadField, files)
    manifestWith("\"payload\":\"json\",", "\"part-c00000-x-00000.json\"")
    val e = intercept[IllegalArgumentException](sources.CommitSink.parseManifest(d))
    assert(e.getMessage.contains(legacyRefusal), e.getMessage)
    // every read surface goes through the same parse
    val e2 = intercept[Exception] {
      spark.read.format("graft-commit").option("path", dir).load().count()
    }
    assert(msgChain(e2).contains(legacyRefusal), msgChain(e2))
    // so does a write that plans against the table
    val e3 = intercept[Exception] {
      spark.range(3L).select($"id").write.format("graft-commit")
        .option("path", dir).mode("append").save()
    }
    assert(msgChain(e3).contains(legacyRefusal), msgChain(e3))
    // manifests from before the payload field were JSON-lines too
    manifestWith("", "\"part-c00000-x-00000.json\"")
    assert(intercept[IllegalArgumentException](sources.CommitSink.parseManifest(d))
      .getMessage.contains(legacyRefusal))
    // a legacy table with no files has nothing to decode: it parses
    manifestWith("\"payload\":\"json\",", "")
    assert(sources.CommitSink.parseManifest(d).exists(_.files.isEmpty))
  }

  test("payload: an un-optioned INSERT OVERWRITE keeps a json table json") {
    // a legacy JSON-lines table is never silently rewritten as parquet:
    // the overwrite is refused and the table keeps its manifest and files
    val (cat, root) = withCatalog("payload_pin")
    val d = Paths.get(root, "default", "t")
    legacyManifest(d, "\"payload\":\"json\",", "\"part-c00000-x-00000.json\"")
    val before = Files.readAllBytes(d.resolve("_MANIFEST.json"))
    val e = intercept[Exception] {
      spark.sql(s"INSERT OVERWRITE $cat.`default`.t SELECT id FROM range(5)")
    }
    assert(msgChain(e).contains(legacyRefusal), msgChain(e))
    assert(java.util.Arrays.equals(before, Files.readAllBytes(d.resolve("_MANIFEST.json"))),
      "the refused overwrite must leave the json manifest as it was")
    assert(Files.exists(d.resolve("part-c00000-x-00000.json")))
    assert(d.toFile.listFiles().forall(!_.getName.endsWith(".parquet")),
      "no parquet file lands")
  }

  test("parquet payload: DML (UPDATE zone-prune + MERGE) runs group-granular over parquet files") {
    val (cat, root) = withCatalog("typed_dml")
    val path = s"$root/default/t"
    spark.range(1000L).select($"id",
        ($"id" / 100.0).cast(DecimalType(12, 4)).as("price"))
      .repartitionByRange(4, $"id")
      .write.format("graft-commit").option("path", path).mode("overwrite").save()
    val before = manifest(path)
    spark.sql(s"UPDATE $cat.`default`.t SET price = CAST(price + 100 AS DECIMAL(12,4)) WHERE id < 40")
    val after = manifest(path)
    assert(after.files.toSet.intersect(before.files.toSet).size == 3,
      "zone maps prune the parquet-payload DML scan too")
    val back = sources.CommitSink.readCommitted(spark, path)
    assert(back.filter($"price" >= 100.0).count() == 40L)
    assert(back.count() == 1000L)
  }

  // --- MERGE group-filter profitability guard ------------------------------

  test("group filtering skips on a hash-scattered layout; runtimeGroupFilter=always restores it") {
    val (cat, root) = withCatalog("guard")
    val key = "spark.graft.commit.runtimeGroupFilter"
    def mergeOnce(tag: String): Int = {
      val path = s"$root/default/$tag"
      spark.range(1000L).select($"id", ($"id" % 100 / 10.0).as("score"))
        .repartition(4, $"id") // HASH layout: every file's id range overlaps
        .write.format("graft-commit").option("path", path).mode("overwrite").save()
      val before = manifest(path)
      assert(before.files.size == 4)
      spark.range(5L, 6L).select($"id").createOrReplaceTempView("r13_guard_src")
      spark.sql(s"""MERGE INTO $cat.`default`.$tag t USING r13_guard_src s
                    ON t.id = s.id
                    WHEN MATCHED THEN UPDATE SET score = t.score + 1000.0""")
      val back = sources.CommitSink.readCommitted(spark, path)
      assert(back.count() == 1000L)
      assert(back.filter($"score" >= 1000.0).count() == 1L)
      manifest(path).files.toSet.intersect(before.files.toSet).size
    }
    try {
      // auto (default): overlapping ranges → no prunable structure → the
      // matching-groups subquery is skipped and the rewrite replaces the
      // statically-planned set (all 4 files) — values stay exact
      assert(mergeOnce("auto") == 0,
        "hash layout must skip runtime group filtering (no carried files)")
      // explicit opt-in: the subquery runs and finds the single matched
      // file even on the unclustered layout (the point-update case)
      spark.conf.set(key, "always")
      assert(mergeOnce("always") == 3,
        "runtimeGroupFilter=always must restore the matched-file prune")
    } finally spark.conf.unset(key)
  }

  test("range-clustered layouts keep group filtering under the guard (the o21 shape)") {
    val (cat, root) = withCatalog("guard_range")
    val path = s"$root/default/t"
    spark.range(1000L).select($"id", ($"id" % 100 / 10.0).as("score"))
      .repartitionByRange(4, $"id")
      .write.format("graft-commit").option("path", path).mode("overwrite").save()
    val before = manifest(path)
    spark.range(10L).select($"id").createOrReplaceTempView("r13_range_src")
    spark.sql(s"""MERGE INTO $cat.`default`.t t USING r13_range_src s ON t.id = s.id
                  WHEN MATCHED THEN UPDATE SET score = t.score + 1000.0""")
    assert(manifest(path).files.toSet.intersect(before.files.toSet).size == 3,
      "disjoint per-file id ranges = prunable structure: the subquery must run")
  }

  // --- rewrite-token hygiene ----------------------------------------------

  test("dropRewrite reclaims an unconsumed token; consumed tokens are gone") {
    val m = sources.CommitSink.Manifest(0L, "id BIGINT", Seq.empty, Seq.empty)
    val t1 = sources.CommitSink.registerRewrite(
      sources.CommitSink.DmlRewrite(m, () => Set.empty))
    sources.CommitSink.dropRewrite(t1)
    val e = intercept[RuntimeException](sources.CommitSink.takeRewrite(t1))
    assert(e.getMessage.contains("unknown or already-consumed"))
    val t2 = sources.CommitSink.registerRewrite(
      sources.CommitSink.DmlRewrite(m, () => Set.empty))
    assert(sources.CommitSink.takeRewrite(t2) != null)
    sources.CommitSink.dropRewrite(t2) // idempotent after consumption
  }

  // --- changelog self-service recovery (snapshotOnRewrite) -----------------

  test("snapshotOnRewrite: the SAME checkpoint survives a compaction; decisions equal d22") {
    val recovered = ext.Dedup.d33SnapshotOnRewrite(spark, TestSpark.sf0001)
    val oneShot = ext.Dedup.d22IncrementalScale(spark, TestSpark.sf0001)
    assert(recovered.count() == oneShot.count() && recovered.count() > 0)
    assert(recovered.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(recovered).count() == 0,
      "self-service recovery must lose nothing and duplicate nothing")
    // the run used ONE checkpoint (no ck2): the recovery was in-place
    assert(Files.exists(Paths.get(s"/tmp/graft_r13_sor/sf0.001/ck")))
    assert(!Files.exists(Paths.get(s"/tmp/graft_r13_sor/sf0.001/ck2")))
    Tables.deleteRecursively("/tmp/graft_r13_sor/sf0.001")
  }

  test("snapshotOnRewrite: a dropped-and-recreated table re-bootstraps under the old checkpoint") {
    val dir = freshDir("sor_generation")
    val ck = freshDir("sor_generation_ck")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def drain(): Unit = {
      val q = spark.readStream.format("graft-commit").option("path", dir)
        .option("snapshotOnRewrite", true).load()
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.select($"id").as[Long].collect().foreach(got.add); ()
        }
        .option("checkpointLocation", ck).start()
      try q.processAllAvailable() finally q.stop()
      q.exception.foreach(e => throw e)
    }
    spark.range(5L).select($"id").write.format("graft-commit")
      .option("path", dir).mode("overwrite").save()
    drain()
    assert(got.size == 5)
    // drop + re-create: new generation id, different content
    Tables.deleteRecursively(dir)
    spark.range(100L, 103L).select($"id").write.format("graft-commit")
      .option("path", dir).mode("overwrite").save()
    drain() // default would hard-fail the generation check (Round11/12 pin it)
    val all = { val b = Seq.newBuilder[Long]; got.forEach(v => b += v); b.result() }
    assert(all.sorted.takeRight(3) == Seq(100L, 101L, 102L),
      "the old checkpoint must re-bootstrap onto the new generation's snapshot")
  }

  // --- manifest scale proof -------------------------------------------------

  test("manifest scale: 8k files stay O(files) in bytes, parse fast, and serve metadata-only aggs") {
    val dir = freshDir("bigmanifest")
    Files.createDirectories(Paths.get(dir))
    def mk(n: Int, path: String): Unit = {
      val files = (0 until n).map(i => f"part-c00001-deadbeef-$i%05d.parquet")
      val stats = files.zipWithIndex.map { case (f, i) =>
        f -> sources.CommitSink.FileStat(10L, 1000L, None,
          Map("id" -> sources.CommitSink.ColRange('l',
            (i * 10L).toString, (i * 10L + 9).toString))).encode
      }.toMap
      sources.CommitSink.writeManifest(Paths.get(path), "id BIGINT", files, 1L,
        stats = stats)
    }
    val small = freshDir("bigmanifest_1k")
    Files.createDirectories(Paths.get(small))
    mk(1000, small); mk(8000, dir)
    // bytes: linear in files, bounded per entry (the "100k files ≈ 10 MB"
    // claim at its measured per-file rate)
    val bytes8k = Files.size(Paths.get(dir, "_MANIFEST.json"))
    val bytes1k = Files.size(Paths.get(small, "_MANIFEST.json"))
    assert(bytes8k < 8000L * 150, s"manifest must stay <150 B/file, got ${bytes8k / 8000.0}")
    assert(bytes8k < bytes1k * 10, "growth must be linear in the file count")
    // parse + plan: one driver read, bounded time, all 8000 partitions
    val t0 = System.nanoTime()
    val m = manifest(dir)
    val scan = new sources.CommitScanBuilder(dir,
      sources.CommitSink.loadRoot(Paths.get(dir))).build()
    val parts = scan.asInstanceOf[org.apache.spark.sql.connector.read.Batch]
      .planInputPartitions()
    val planMs = (System.nanoTime() - t0) / 1e6
    assert(m.files.size == 8000 && parts.length == 8000)
    assert(planMs < 2000.0, s"8k-file parse+plan must stay sub-2s, took $planMs ms")
    // the metadata-only COUNT/MIN/MAX path answers with ZERO data files
    // on disk (none were ever written)
    val agg = spark.read.format("graft-commit").option("path", dir).load()
      .agg(count(lit(1)).as("n"), min($"id").as("mn"), max($"id").as("mx"))
      .head()
    assert(agg.getLong(0) == 80000L && agg.getLong(1) == 0L && agg.getLong(2) == 79999L)
  }

  // --- o24/o25 type fidelity -------------------------------------------------

  test("o24: the committed table keeps the declared narrow types (report widens only)") {
    val out = sources.Sources.o24TypedCommit(spark, TestSpark.sf0001)
    assert(out.count() > 0)
    // the REPORT is widened (driver-hash rule) ...
    val rep = out.schema
    assert(rep("tiny").dataType == ShortType && rep("f").dataType == DoubleType &&
      rep("price").dataType == DoubleType)
    // ... while the COMMITTED table holds the declared types
    val sch = sources.CommitSink.readCommitted(spark,
      "/tmp/graft_o24/sf0.001").schema
    assert(sch("price").dataType == DecimalType(12, 4))
    assert(sch("f").dataType == FloatType && sch("tiny").dataType == ByteType)
    assert(sch("born").dataType == DateType)
    assert(sch("updated").dataType == TimestampNTZType)
    assert(sch("updated_utc").dataType == TimestampType)
    assert(sch("y").dataType == ShortType)
  }

  // --- o27: merge-on-read deletion vectors ---------------------------------

  /** 1000 ids range-clustered into 4 files (disjoint id zones). */
  private def rangeTable(cat: String, root: String, tag: String): String = {
    val path = s"$root/default/$tag"
    spark.range(1000L).select($"id", ($"id" % 100 / 10.0).as("score"))
      .repartitionByRange(4, $"id")
      .write.format("graft-commit").option("path", path).mode("overwrite").save()
    path
  }

  test("mor delete: data files unchanged, vector recorded, both read paths agree") {
    val (cat, root) = withCatalog("mor_basic")
    val path = rangeTable(cat, root, "t")
    val before = manifest(path)
    withConf("spark.graft.commit.deleteMode" -> "merge-on-read") {
      spark.sql(s"DELETE FROM $cat.`default`.t WHERE id >= 10 AND id < 20")
    }
    val after = manifest(path)
    assert(after.files == before.files, "merge-on-read must not touch data files")
    assert(after.commit == before.commit + 1)
    // the vector lands on exactly the one file whose zone covers [10, 20)
    assert(after.deletes.size == 1, s"one vector expected: ${after.deletes}")
    val (vf, ve) = after.deletes.head
    assert(ve.ndel == 10L)
    assert(sources.CommitSink.readDv(Paths.get(path, ve.dv)).toSeq ==
      (10L to 19L).toSeq, "positions are the physical row indexes (write order = id order here)")
    for (back <- Seq(
        sources.CommitSink.readCommitted(spark, path),             // native + _metadata anti-join
        spark.read.format("graft-commit").option("path", path).load())) { // DSv2 position skip
      assert(back.count() == 990L)
      assert(back.filter($"id" >= 10 && $"id" < 20).count() == 0L)
      assert(back.agg(sum($"id")).head().getLong(0) == (0L until 1000L).sum - (10L until 20L).sum)
    }
  }

  test("mor delete: a second delete UNIONS vectors; _pos stays physical") {
    val (cat, root) = withCatalog("mor_union")
    val path = rangeTable(cat, root, "t")
    withConf("spark.graft.commit.deleteMode" -> "merge-on-read") {
      spark.sql(s"DELETE FROM $cat.`default`.t WHERE id >= 10 AND id < 20")
      spark.sql(s"DELETE FROM $cat.`default`.t WHERE id >= 15 AND id < 30")
    }
    val m = manifest(path)
    assert(m.deletes.size == 1)
    val ve = m.deletes.head._2
    assert(ve.ndel == 20L, "union of [10,20) and [15,30) is 20 positions")
    assert(sources.CommitSink.readDv(Paths.get(path, ve.dv)).toSeq ==
      (10L to 29L).toSeq)
    // `_pos` is stamped BEFORE vectors apply: surviving rows keep their
    // physical positions — the gap [10,30) is visible
    val pos = spark.read.format("graft-commit").option("path", path).load()
      .filter($"id" < 40).select(col("_file"), col("_pos"), $"id")
    assert(pos.count() == 20L)
    assert(pos.filter($"_pos" =!= $"id").count() == 0L,
      "one range-clustered file: position == id for the survivors")
    assert(pos.filter($"_pos" >= 10 && $"_pos" < 30).count() == 0L)
  }

  test("mor delete: a fully-deleted file is dropped from the manifest") {
    val (cat, root) = withCatalog("mor_drop")
    val path = rangeTable(cat, root, "t")
    val before = manifest(path)
    withConf("spark.graft.commit.deleteMode" -> "merge-on-read") {
      // file zones are [0,250) [250,500) [500,750) [750,1000): wipe one whole zone
      spark.sql(s"DELETE FROM $cat.`default`.t WHERE id >= 250 AND id < 500")
    }
    val after = manifest(path)
    assert(after.files.size == before.files.size - 1,
      "a vector covering every physical row drops its file outright")
    // r14: the dropped file's vector survives ONE version as a TOMBSTONE
    // (keyed by the dropped file, so no reader ever consults it) — the
    // change-feed device that lets the drop read as delete rows
    assert(after.deletes.keySet.forall(f => !after.files.contains(f)),
      "only the tombstone survives, never a listed-file vector")
    assert(after.deletes.size == 1)
    assert(sources.CommitSink.readCommitted(spark, path).count() == 750L)
    // the dropped file's bytes remain for the PREVIOUS version (time travel)
    assert(sources.CommitSink.readCommittedVersion(spark, path, before.commit)
      .count() == 1000L)
  }

  test("mor delete: COUNT stays metadata-only (live rows); MIN/MAX falls back") {
    val (cat, root) = withCatalog("mor_meta")
    val path = rangeTable(cat, root, "t")
    withConf("spark.graft.commit.deleteMode" -> "merge-on-read") {
      spark.sql(s"DELETE FROM $cat.`default`.t WHERE id >= 990")
    }
    val df = spark.read.format("graft-commit").option("path", path).load()
    val cnt = df.agg(count(lit(1)).as("n"))
    assert(cnt.head().getLong(0) == 990L)
    assert(sources.CommitScan.of(cnt).isInstanceOf[sources.CommitMetaAggScan],
      "COUNT over vectors is still manifest arithmetic: physical minus ndel")
    val mx = df.agg(max($"id").as("mx"))
    assert(mx.head().getLong(0) == 989L,
      "MAX must NOT be answered from physical zone maps (the deleted rows held the max)")
    assert(!sources.CommitScan.of(mx).isInstanceOf[sources.CommitMetaAggScan],
      "MIN/MAX declines the metadata path when vectors exist")
  }

  test("mor delete: compaction materializes the deletes; UPDATE drops the rewritten file's vector") {
    val (cat, root) = withCatalog("mor_compact")
    val path = rangeTable(cat, root, "t")
    withConf("spark.graft.commit.deleteMode" -> "merge-on-read") {
      spark.sql(s"DELETE FROM $cat.`default`.t WHERE id >= 10 AND id < 20")
      spark.sql(s"DELETE FROM $cat.`default`.t WHERE id >= 300 AND id < 305")
    }
    assert(manifest(path).deletes.size == 2)
    // updating an already-DELETED row is a no-op: the DML scan applies
    // the vector, no row matches, everything (vectors included) carries
    spark.sql(s"UPDATE $cat.`default`.t SET score = -1.0 WHERE id = 11")
    assert(manifest(path).deletes.size == 2,
      "a no-match UPDATE must not disturb the vectors")
    // a copy-on-write UPDATE of a LIVE row rewrites its file: the
    // vector dies with the rewrite (its deletes are materialized), the
    // untouched file's vector is carried
    spark.sql(s"UPDATE $cat.`default`.t SET score = -1.0 WHERE id = 25")
    val afterUpd = manifest(path)
    assert(afterUpd.deletes.size == 1, s"carried: ${afterUpd.deletes}")
    val back = sources.CommitSink.readCommitted(spark, path)
    assert(back.count() == 985L)
    assert(back.filter($"id" === 11).count() == 0L,
      "the rewrite's scan applied the vector: id=11 stays deleted")
    assert(back.filter($"score" === -1.0).count() == 1L)
    // compaction rewrites everything: vectors fully materialized
    sources.CommitSink.compact(spark, path, 2)
    val afterCompact = manifest(path)
    assert(afterCompact.deletes.isEmpty)
    assert(sources.CommitSink.readCommitted(spark, path).count() == 985L)
  }

  test("mor delete: the changelog stream refuses a vector commit; snapshotOnRewrite recovers") {
    val dir = freshDir("mor_stream")
    spark.range(100L).select($"id").repartitionByRange(2, $"id")
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    def consume(ck: String, flag: Boolean): Long = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      val reader = spark.readStream.format("graft-commit").option("path", dir)
      val q = (if (flag) reader.option("snapshotOnRewrite", true) else reader)
        .load().writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          out += b.count(); ()
        }
        .option("checkpointLocation", ck).start()
      try q.processAllAvailable() finally q.stop()
      q.exception.foreach(e => throw e)
      out.sum
    }
    val ck = freshDir("mor_stream_ck")
    assert(consume(ck, flag = false) == 100L)
    sources.CommitSink.deleteToVectors(spark, dir,
      manifest(dir), $"id" >= 10 && $"id" < 20)
    // default: rows were removed without removing files — refuse loudly
    val e = intercept[Exception] { consume(ck, flag = false) }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("deletion") && m.contains("append-only")),
      s"got: ${msgs(e)}")
    // opt-in: the SAME checkpoint re-bootstraps from the snapshot, with
    // the vector APPLIED (90 live rows)
    assert(consume(ck, flag = true) == 90L)
  }

  test("mor delete: GC — expiry reclaims a dropped version's vector, keeps live ones") {
    val (cat, root) = withCatalog("mor_gc")
    val path = rangeTable(cat, root, "t")
    withConf("spark.graft.commit.deleteMode" -> "merge-on-read") {
      spark.sql(s"DELETE FROM $cat.`default`.t WHERE id >= 10 AND id < 20")   // v1: dv A
      spark.sql(s"DELETE FROM $cat.`default`.t WHERE id >= 15 AND id < 30")   // v2: dv B (superset)
    }
    val dvA = sources.CommitSink.parseManifestVersion(Paths.get(path), 1L)
      .deletes.head._2.dv
    val dvB = manifest(path).deletes.head._2.dv
    assert(dvA != dvB)
    // orphan sweep (zero grace) must not touch referenced vectors
    assert(sources.CommitSink.removeOrphanFiles(path, graceMs = 0L).isEmpty)
    val (expired, removed) = sources.CommitSink.expireVersions(path, keepLast = 1)
    assert(expired.contains(1L))
    assert(removed.contains(dvA), "v1's superseded vector is GC'd with v1")
    assert(Files.exists(Paths.get(path, dvB)), "the live vector survives")
    assert(sources.CommitSink.readCommitted(spark, path).count() == 980L)
  }

  // --- o28: delta-based (merge-on-read) UPDATE / MERGE ---------------------

  test("mor update: data files unchanged, vector + one new file, values exact") {
    val (cat, root) = withCatalog("mor_update")
    val path = rangeTable(cat, root, "t")
    val before = manifest(path)
    withConf("spark.graft.commit.rowLevelMode" -> "merge-on-read") {
      spark.sql(s"UPDATE $cat.`default`.t SET score = -1.0 WHERE id >= 10 AND id < 20")
    }
    val after = manifest(path)
    assert(before.files.forall(after.files.contains),
      "merge-on-read UPDATE must not rewrite existing files")
    val newFiles = after.files.filterNot(before.files.contains)
    assert(newFiles.size == 1, s"one appended file of new row versions: $newFiles")
    assert(after.deletes.size == 1 && after.deletes.head._2.ndel == 10L,
      s"one 10-position vector: ${after.deletes}")
    assert(after.deletes.head._1 != newFiles.head,
      "the vector points at the OLD file, never the appended one")
    for (back <- Seq(
        sources.CommitSink.readCommitted(spark, path),
        spark.read.format("graft-commit").option("path", path).load())) {
      assert(back.count() == 1000L)
      assert(back.filter($"score" === -1.0).count() == 10L)
      assert(back.filter($"id" >= 10 && $"id" < 20 && $"score" =!= -1.0).count() == 0L)
    }
  }

  test("mor merge: three branches land as vectors + appended rows; equals the COW answer") {
    val (cat, root) = withCatalog("mor_merge")
    def build(tag: String): String = rangeTable(cat, root, tag)
    def mergeInto(tag: String): Unit = {
      spark.range(900L, 1100L).select($"id", lit(5.0).as("score"))
        .createOrReplaceTempView("r13_delta_src")
      spark.sql(s"""MERGE INTO $cat.`default`.$tag t USING r13_delta_src s
        ON t.id = s.id
        WHEN MATCHED AND t.id < 950 THEN DELETE
        WHEN MATCHED THEN UPDATE SET score = t.score + s.score
        WHEN NOT MATCHED THEN INSERT (id, score) VALUES (s.id, s.score)""")
    }
    val cowPath = build("cow")
    withConf("spark.graft.commit.rowLevelMode" -> "copy-on-write") { mergeInto("cow") }
    val morPath = build("mor")
    val beforeMor = manifest(morPath)
    withConf("spark.graft.commit.rowLevelMode" -> "merge-on-read") { mergeInto("mor") }
    val afterMor = manifest(morPath)
    assert(beforeMor.files.forall(afterMor.files.contains),
      "merge-on-read MERGE must not rewrite existing files")
    // the matched rows (900..999, all in the last zone file) became
    // vector positions: 50 DELETEs + 50 update-deletes
    assert(afterMor.deletes.size == 1 && afterMor.deletes.head._2.ndel == 100L,
      s"${afterMor.deletes}")
    val cow = sources.CommitSink.readCommitted(spark, cowPath)
    val mor = sources.CommitSink.readCommitted(spark, morPath)
    assert(cow.count() == mor.count() && mor.count() == 1050L,
      s"cow=${cow.count()} mor=${mor.count()}") // 1000 - 50 deleted + 100 inserted = 1050
    assert(mor.exceptAll(cow).count() == 0 && cow.exceptAll(mor).count() == 0,
      "the write MODE must never change the answer")
    // compaction materializes the merge's vectors too
    sources.CommitSink.compact(spark, morPath, 2)
    assert(manifest(morPath).deletes.isEmpty)
    assert(sources.CommitSink.readCommitted(spark, morPath).count() == 1050L)
  }

  test("dv format: dense vectors switch to the bitmap container, sparse stay positional") {
    val d = Paths.get(freshDir("dv_format"))
    Files.createDirectories(d)
    // sparse: 10 of ~1M rows — positional (84 B), not a 128 KB bitmap
    val sparse = Array.tabulate(10)(i => i * 100000L)
    sources.CommitSink.writeDv(d.resolve("sparse.bin"), sparse)
    assert(Files.size(d.resolve("sparse.bin")) < 100)
    assert(sources.CommitSink.readDv(d.resolve("sparse.bin")).toSeq == sparse.toSeq)
    // dense: every other row of 100k — bitmap (~12.5 KB), not 400 KB of longs
    val dense = Array.tabulate(50000)(i => i * 2L)
    sources.CommitSink.writeDv(d.resolve("dense.bin"), dense)
    assert(Files.size(d.resolve("dense.bin")) < 50000L * 8 / 4,
      s"dense vector must compress: ${Files.size(d.resolve("dense.bin"))} bytes")
    assert(sources.CommitSink.readDv(d.resolve("dense.bin")).toSeq == dense.toSeq)
    // end-to-end: a dense MOR delete reads back exactly (bitmap on disk)
    val (cat, root) = withCatalog("dv_dense")
    val path = rangeTable(cat, root, "t")
    withConf("spark.graft.commit.deleteMode" -> "merge-on-read") {
      spark.sql(s"DELETE FROM $cat.`default`.t WHERE id % 2 = 0 AND id < 250")
    }
    val back = sources.CommitSink.readCommitted(spark, path)
    assert(back.count() == 875L)
    assert(back.filter($"id" % 2 === 0 && $"id" < 250).count() == 0L)
  }

  test("mor streaming: a per-trigger MERGE upsert appends vectors, never rewrites") {
    val (cat, root) = withCatalog("mor_stream_merge")
    spark.sql(s"CREATE TABLE $cat.`default`.state " +
      "(sensor INT, n BIGINT, sum_id BIGINT) USING `graft-commit`")
    // the MATCHED branch updates only sensors < 50, so each trigger's
    // vector covers PART of the state file — the file carries with its
    // vector instead of being dropped as fully dead (w16's all-keys
    // update degenerates to exactly that drop+append, also vector-true
    // but trivially so)
    withConf("spark.graft.commit.rowLevelMode" -> "merge-on-read") {
      val q = spark.readStream.format("graft-sensors")
        .option("rows", 20000).option("slices", 8)
        .option("streamBatchRows", 5000).load()
        .select($"id", $"sensor")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val s = batch.sparkSession
          batch.groupBy($"sensor")
            .agg(count(lit(1)).as("n"), sum($"id").as("s"))
            .createOrReplaceTempView("r13_msm_batch")
          s.sql(s"""MERGE INTO $cat.`default`.state t USING r13_msm_batch b
                   ON t.sensor = b.sensor
                   WHEN MATCHED AND b.sensor < 50 THEN UPDATE SET
                     n = t.n + b.n, sum_id = t.sum_id + b.s
                   WHEN NOT MATCHED THEN INSERT (sensor, n, sum_id)
                     VALUES (b.sensor, b.n, b.s)""")
          ()
        }
        .option("checkpointLocation", freshDir("mor_stream_merge_ck")).start()
      try q.processAllAvailable() finally q.stop()
      q.exception.foreach(e => throw e)
    }
    val p = Paths.get(s"$root/default/state")
    val versions = sources.CommitSink.listVersions(p)
    assert(versions.size >= 5, s"create + one version per trigger: $versions")
    // THE merge-on-read claim, pinned per trigger: bytes written are
    // proportional to rows CHANGED — every added file holds exactly the
    // trigger's post-images (97 first-trigger inserts, then 50 updated
    // rows), where a copy-on-write rewrite would also carry the matched
    // files' untouched survivors. (A file MAY leave the manifest — the
    // previous trigger's post-image file is fully dead once all its 50
    // rows update again — but nothing is ever partially rewritten.)
    versions.sliding(2).toSeq.zipWithIndex.foreach {
      case (Seq(a, b), i) =>
        val ma = sources.CommitSink.parseManifestVersion(p, a)
        val mb = sources.CommitSink.parseManifestVersion(p, b)
        val addedRows = mb.files.filterNot(ma.files.contains)
          .map(f => sources.CommitSink.FileStat.decode(mb.stats(f)).rows).sum
        assert(addedRows == (if (i == 0) 97L else 50L),
          s"v$a -> v$b wrote $addedRows rows; merge-on-read writes only the changes")
      case _ => ()
    }
    assert(sources.CommitSink.parseManifest(p).get.deletes.nonEmpty,
      "the first trigger's file carries a vector for its updated half")
    // exact state: sensor < 50 accumulated over all 4 triggers, the
    // rest frozen at their first-trigger insert
    val back = sources.CommitSink.readCommitted(spark, p.toString)
    assert(back.count() == 97L)
    val expected = (0 until 20000).count(_ % 97 < 50) +
      (0 until 5000).count(_ % 97 >= 50)
    assert(back.agg(sum($"n")).head().getLong(0) == expected.toLong)
  }

  test("compactDeletes: only delete-dominated files rewrite; sparse vectors carry") {
    val (cat, root) = withCatalog("compact_deletes")
    val path = rangeTable(cat, root, "t")
    withConf("spark.graft.commit.deleteMode" -> "merge-on-read") {
      // file zones: [0,250) [250,500) [500,750) [750,1000)
      spark.sql(s"DELETE FROM $cat.`default`.t WHERE id < 200")          // 80% of file 1
      spark.sql(s"DELETE FROM $cat.`default`.t WHERE id >= 300 AND id < 305") // 2% of file 2
    }
    val before = manifest(path)
    assert(before.deletes.size == 2)
    val rewritten = sources.CommitSink.compactDeletes(spark, path, 0.5)
    assert(rewritten.size == 1, s"only the 80%-dead file qualifies: $rewritten")
    val after = manifest(path)
    assert(!after.files.contains(rewritten.head))
    assert(after.deletes.size == 1 && after.deletes.head._2.ndel == 5L,
      s"the sparse vector carries untouched: ${after.deletes}")
    val back = sources.CommitSink.readCommitted(spark, path)
    assert(back.count() == 795L)
    assert(back.filter($"id" < 200).count() == 0L)
    assert(back.filter($"id" >= 300 && $"id" < 305).count() == 0L)
    // idempotent: nothing left above the threshold
    assert(sources.CommitSink.compactDeletes(spark, path, 0.5).isEmpty)
  }

  test("zone maps: a NaN poisons its column's range — the file is never pruned") {
    val dir = freshDir("nan_zonemap")
    // file A: ids 0..9 with small values + ONE NaN; file B: ids 100..109,
    // values ~1000 (range-clustered so the layouts are two clean zones)
    spark.range(10L).select($"id",
        when($"id" === 5, lit(Double.NaN)).otherwise($"id" * 0.1).as("v"))
      .unionByName(spark.range(100L, 110L).select($"id", ($"id" * 10.0).as("v")))
      .repartitionByRange(2, $"id")
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    val df = spark.read.format("graft-commit").option("path", dir).load()
      .filter($"v" > 5000.0) // Spark's total order: NaN > 5000.0 is TRUE
    // the NaN row MUST survive: with a NaN-free recorded range
    // (max 0.9), file A would be pruned and the row silently lost
    assert(df.count() == 1L)
    assert(df.head().getLong(0) == 5L)
    // and the metadata DELETE path must not skip the file either
    val (cat, root) = withCatalog("nan_delete")
    val path = s"$root/default/t"
    spark.read.format("graft-commit").option("path", dir).load()
      .repartitionByRange(2, $"id")
      .write.format("graft-commit").option("path", path).mode("overwrite").save()
    spark.sql(s"DELETE FROM $cat.`default`.t WHERE v > 5000.0")
    assert(sources.CommitSink.readCommitted(spark, path).count() == 19L,
      "the NaN row matches v > 5000.0 and must be deleted")
    // a NaN-free column still prunes: the id zone maps are intact
    val pruned = spark.read.format("graft-commit").option("path", dir).load()
      .filter($"id" >= 100L).select($"id")
    pruned.collect()
    val desc = sources.CommitScan.of(pruned).description()
    assert(desc.contains("files: 1/2"), s"id ranges still prune: $desc")
  }

  test("z-order clustered write: one sort key serves zone-map pruning on BOTH columns") {
    val dir = freshDir("zorder_prune")
    // two 8-bit dims over a 256x256 grid, one row per cell; the q68
    // Morton key interleaves them, so range-clustering by zkey gives
    // every committed file a TIGHT min/max box on x AND y — the
    // Delta OPTIMIZE ZORDER layout, composed from the existing sorted
    // write + o14 zone maps with zero new sink code
    val a = ($"id" % 256).cast("long")
    val b = (($"id" / 256) % 256).cast("long")
    val z = (0 until 8).map { i =>
      (shiftleft(shiftright(a, i) % 2, 2 * i) +
        shiftleft(shiftright(b, i) % 2, 2 * i + 1)): org.apache.spark.sql.Column
    }.reduce(_ + _)
    spark.range(65536L)
      .select(a.as("x"), b.as("y"), ($"id" * 1.0).as("v"), z.as("zkey"))
      .repartitionByRange(16, $"zkey")
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    // a 32x32 quadrant-aligned box = 1/64 of the space = ONE contiguous
    // z-range: almost every file's x- or y-range provably excludes it.
    // A layout sorted by x alone could prune on x but NEVER on y.
    val box = spark.read.format("graft-commit").option("path", dir).load()
      .filter($"x" >= 64 && $"x" < 96 && $"y" >= 128 && $"y" < 160)
    assert(box.count() == 32L * 32L)
    val desc = sources.CommitScan.of(box).description()
    val m = "files: (\\d+)/(\\d+)".r.findFirstMatchIn(desc).get
    assert(m.group(2).toInt == 16, desc)
    assert(m.group(1).toInt <= 4,
      s"a 1/64 box over a z-clustered layout must prune most files: $desc")
  }

  // --- o29: change data feed ------------------------------------------------

  /** 3-commit history: v0 = ids 0..49 (2 files), v1 = ids 50..99
    * appended, v2 = a merge-on-read DELETE of [10, 20). */
  private def cdfTable(tag: String): (String, String) = {
    val (cat, root) = withCatalog(tag)
    val path = s"$root/default/t"
    spark.range(50L).select($"id", ($"id" % 10 * 1.0).as("v"))
      .repartitionByRange(2, $"id")
      .write.format("graft-commit").option("path", path).mode("overwrite").save()
    spark.range(50L, 100L).select($"id", ($"id" % 10 * 1.0).as("v"))
      .coalesce(1)
      .write.format("graft-commit").option("path", path).mode("append").save()
    withConf("spark.graft.commit.deleteMode" -> "merge-on-read") {
      spark.sql(s"DELETE FROM $cat.`default`.t WHERE id >= 10 AND id < 20")
    }
    (cat, path)
  }

  test("cdf batch: inserts and vector deletes replay per commit") {
    val (_, path) = cdfTable("cdf_batch")
    val feed = spark.read.format("graft-commit").option("path", path)
      .option("readChangeFeed", true).option("startingVersion", 0).load()
    assert(feed.columns.takeRight(2).toSeq == Seq("_change_type", "_commit_version"))
    val byCommit = feed.groupBy($"_commit_version", $"_change_type")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(byCommit == Map((0L, "insert") -> 50L, (1L, "insert") -> 50L,
      (2L, "delete") -> 10L), s"got $byCommit")
    // the deleted rows are the right ones, values included
    val dels = feed.filter($"_change_type" === "delete")
    assert(dels.agg(sum($"id")).head().getLong(0) == (10L until 20L).sum)
    // net effect == the final table
    val net = feed.filter($"_change_type" === "insert").select($"id", $"v")
      .exceptAll(feed.filter($"_change_type" === "delete").select($"id", $"v"))
    val table = sources.CommitSink.readCommitted(spark, path)
    assert(net.exceptAll(table).count() == 0 && table.exceptAll(net).count() == 0)
    // a bounded range reads only its commits
    val only2 = spark.read.format("graft-commit").option("path", path)
      .option("readChangeFeed", true)
      .option("startingVersion", 2).option("endingVersion", 2).load()
    assert(only2.count() == 10L &&
      only2.filter($"_change_type" =!= "delete").count() == 0L)
  }

  test("cdf batch: a merge-on-read MERGE surfaces as delete+insert at one version") {
    val (cat, path) = cdfTable("cdf_merge")
    spark.range(30L, 35L).select($"id").createOrReplaceTempView("r13_cdf_src")
    withConf("spark.graft.commit.rowLevelMode" -> "merge-on-read") {
      spark.sql(s"""MERGE INTO $cat.`default`.t t USING r13_cdf_src s
        ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = -1.0""")
    }
    val v3 = spark.read.format("graft-commit").option("path", path)
      .option("readChangeFeed", true)
      .option("startingVersion", 3).option("endingVersion", 3).load()
    assert(v3.filter($"_change_type" === "delete").count() == 5L,
      "the update's pre-images delete")
    val ins = v3.filter($"_change_type" === "insert")
    assert(ins.count() == 5L && ins.filter($"v" =!= -1.0).count() == 0L,
      "the update's post-images insert")
  }

  test("cdf stream: the feed equals the batch feed, commit by commit") {
    val (_, path) = cdfTable("cdf_stream")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    val q = spark.readStream.format("graft-commit").option("path", path)
      .option("readChangeFeed", true).option("maxCommitsPerTrigger", 1).load()
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.select($"id", $"_change_type", $"_commit_version")
          .collect().foreach(r => got.add((r.getLong(0), r.getString(1), r.getLong(2))))
        ()
      }
      .option("checkpointLocation", freshDir("cdf_stream_ck")).start()
    try q.processAllAvailable() finally q.stop()
    q.exception.foreach(e => throw e)
    import scala.jdk.CollectionConverters._
    val streamed = got.asScala.toSeq.sorted
    val batch = spark.read.format("graft-commit").option("path", path)
      .option("readChangeFeed", true).option("startingVersion", 0).load()
      .select($"id", $"_change_type", $"_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted
    assert(streamed == batch,
      "streaming and batch feeds are one per-commit planner")
  }

  test("cdf stream: startingVersion bounds a FRESH checkpoint") {
    val (_, path) = cdfTable("cdf_start")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val q = spark.readStream.format("graft-commit").option("path", path)
      .option("readChangeFeed", true).option("startingVersion", 2).load()
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.select($"_change_type", $"_commit_version").collect()
          .foreach(r => got.add((r.getString(0), r.getLong(1)))); ()
      }
      .option("checkpointLocation", freshDir("cdf_start_ck")).start()
    try q.processAllAvailable() finally q.stop()
    q.exception.foreach(e => throw e)
    import scala.jdk.CollectionConverters._
    val seen = got.asScala.toSeq
    assert(seen.size == 10 && seen.forall(_ == ("delete", 2L)),
      s"only version 2's changes may arrive: $seen")
  }

  test("cdf: a rewrite refuses; snapshotOnRewrite re-bootstraps with vectors applied") {
    val (_, path) = cdfTable("cdf_rewrite")
    sources.CommitSink.compact(spark, path, 1)
    val e = intercept[Exception] {
      spark.read.format("graft-commit").option("path", path)
        .option("readChangeFeed", true).option("startingVersion", 0).load().count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("removed")), s"got: ${msgs(e)}")
    // streaming, same refusal on a checkpoint crossing the compaction —
    // and under snapshotOnRewrite the SAME checkpoint re-bootstraps
    val ck = freshDir("cdf_rewrite_ck")
    val (cat2, path2) = cdfTable("cdf_rewrite2")
    def drain(flag: Boolean): Long = {
      var n = 0L
      val reader = spark.readStream.format("graft-commit").option("path", path2)
        .option("readChangeFeed", true)
      val q = (if (flag) reader.option("snapshotOnRewrite", true) else reader)
        .load().writeStream
        .foreachBatch { (b: DataFrame, _: Long) => n += b.count(); () }
        .option("checkpointLocation", ck).start()
      try q.processAllAvailable() finally q.stop()
      q.exception.foreach(e => throw e)
      n
    }
    assert(drain(flag = false) == 110L) // 100 inserts + 10 deletes
    sources.CommitSink.compact(spark, path2, 1)
    val e2 = intercept[Exception] { drain(flag = false) }
    assert(msgs(e2).exists(_.contains("removed")), s"got: ${msgs(e2)}")
    // re-bootstrap: the 90 LIVE rows arrive as one 'insert' snapshot
    assert(drain(flag = true) == 90L)
  }

  test("mor delete: an identity-partitioned table keeps its layout, vectors apply per key group") {
    val (cat, root) = withCatalog("mor_partitioned")
    val path = s"$root/default/t"
    spark.range(400L).select($"id", ($"id" % 4).as("k"), ($"id" * 1.0).as("v"))
      .write.format("graft-commit").option("path", path)
      .option("partitionBy", "k").mode("overwrite").save()
    val before = manifest(path)
    withConf("spark.graft.commit.deleteMode" -> "merge-on-read") {
      // translatable predicate -> the metadata MOR path; only the delta
      // (UPDATE/MERGE) op needs unpartitioned layouts — a vector DELETE
      // changes no files, so the one-key-per-file contract is untouched
      spark.sql(s"DELETE FROM $cat.`default`.t WHERE id >= 100 AND id < 120")
    }
    val after = manifest(path)
    assert(after.files == before.files && after.partCol.contains("k"))
    assert(after.deletes.nonEmpty, "positions landed as vectors")
    // the KEYED file-group partitions carry the vectors: reads through
    // the KeyGroupedPartitioning path apply them
    val back = spark.read.format("graft-commit").option("path", path).load()
    assert(back.count() == 380L)
    assert(back.filter($"id" >= 100 && $"id" < 120).count() == 0L)
    // and the zero-exchange storage-partitioned join still works on the
    // vector'd table (the o16 contract survives MOR deletes)
    assert(back.groupBy($"k").count().collect().map(_.getLong(1)).sum == 380L)
  }

  test("mor delete: a concurrent commit fails the vector CAS (statement retry)") {
    val dir = freshDir("mor_cas")
    spark.range(100L).select($"id")
      .write.format("graft-commit").option("path", dir).mode("overwrite").save()
    val planning = manifest(dir)
    // an append lands between planning and the vector commit
    spark.range(100L, 110L).select($"id")
      .write.format("graft-commit").option("path", dir).mode("append").save()
    val e = intercept[Exception] {
      sources.CommitSink.deleteToVectors(spark, dir, planning, $"id" < 5)
    }
    assert(e.getMessage.contains("concurrent writer"), e.getMessage)
    assert(sources.CommitSink.readCommitted(spark, dir).count() == 110L,
      "the refused delete leaves no trace")
    assert(manifest(dir).deletes.isEmpty)
  }
}
