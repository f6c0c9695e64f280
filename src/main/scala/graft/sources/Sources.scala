package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source/sink surface (SURVEY.md §2.2 "Scans / sources").
  *
  * The reference's IO edges: Kafka consume [consumer_to_file.py:183-204],
  * MySQL JDBC [data_inserter.py:8-14], ClickHouse JDBC jar on the Spark
  * shell classpath [spark.sh:21-25], and an append-only DLQ text file
  * [consumer_to_file.py:72-86]. Spark-native: `spark.read.{parquet,csv,
  * json,jdbc}` and `spark.readStream.format("kafka")`; this module pins
  * down the engine's conventions for each:
  *  - **explicit schemas always** (schema inference is a driver-side scan
  *    at 100 TB, and nondeterministic under sampling);
  *  - **corrupt records are routed, not dropped** (PERMISSIVE +
  *    `_corrupt_record` column → DLQ side-output, same contract as
  *    [[graft.cdc.Envelope.parse]]);
  *  - **writes declare layout**: `partitionBy` for pruning +
  *    `sortWithinPartitions` as the MergeTree-ORDER-BY analog
  *    [consumer_to_file.py:148-149].
  *
  * Kafka itself needs a broker (none in this environment) — its contract
  * is exercised through MemoryStream in StreamingSpec; the option surface
  * below documents the production configuration.
  */
object Sources {

  // Parsing happens via from_json/from_csv over a text scan, NOT the
  // file-source schema option: the file sources' internal _corrupt_record
  // column refuses pruned scans that reference only it (so e.g.
  // dlq(df).count() would throw), and the expression form keeps the whole
  // parse inside codegen with no cache requirement.

  private def parseOpts = Map(
    "mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record")

  /** Read JSON-lines with an explicit schema; malformed lines land in
    * `_corrupt_record` instead of vanishing. */
  def jsonWithDlq(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val full = schema.add("_corrupt_record", "string")
    spark.read.text(path)
      .select(from_json(col("value"), full, parseOpts).as("r"))
      .select(col("r.*"))
  }

  /** Read CSV with an explicit schema + corrupt routing. */
  def csvWithDlq(spark: SparkSession, path: String, schema: StructType,
                 header: Boolean = true): DataFrame = {
    val full = schema.add("_corrupt_record", "string")
    val headerLine = schema.fieldNames.mkString(",")
    val text = spark.read.text(path)
    val body = if (header) text.filter(col("value") =!= headerLine) else text
    body
      .select(from_csv(col("value"), full, parseOpts).as("r"))
      .select(col("r.*"))
  }

  def good(df: DataFrame): DataFrame =
    df.filter(col("_corrupt_record").isNull).drop("_corrupt_record")

  /** DLQ side-output. Keeps every parsed column alongside the raw record:
    * context for debugging, and Spark refuses scans that reference ONLY
    * the internal corrupt column. */
  def dlq(df: DataFrame): DataFrame =
    df.filter(col("_corrupt_record").isNotNull)
      .withColumn("raw", col("_corrupt_record"))
      .withColumn("error", lit("unparseable record"))
      .withColumn("dlq_ts", current_timestamp())
      .drop("_corrupt_record")

  /** Analytical-table write: partition layout for pruning + in-partition
    * sort key (the Spark analog of `ENGINE=MergeTree ORDER BY <pk>`
    * [consumer_to_file.py:145-150]). */
  def writeTable(df: DataFrame, path: String, partitionCols: Seq[String],
                 sortCols: Seq[String]): Unit = {
    // partition columns lead the sort: FileFormatWriter inserts its own
    // (non-stable) sort on partition columns when rows aren't already
    // ordered by them, which would destroy the secondary sort key
    val order = (partitionCols ++ sortCols).map(col)
    val sorted = if (order.nonEmpty) df.sortWithinPartitions(order: _*) else df
    val w = sorted.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path)
  }

  /** Create-if-absent write (reference `CREATE TABLE IF NOT EXISTS`
    * [data_inserter.py:18-25, setup.sh:59-63]): SaveMode.Ignore is a
    * no-op when the target already exists. */
  def writeTableIfAbsent(df: DataFrame, path: String): Unit =
    df.write.mode("ignore").parquet(path)

  /** Kafka source options for the production path (no broker here; see
    * StreamingSpec for the MemoryStream-driven contract tests). Mirrors
    * the reference consumer: earliest offsets, pattern-subscribed topics
    * [consumer_to_file.py:10, 172-186] — checkpointing replaces its
    * fresh-group-id-per-run replay semantics. */
  def kafkaOptions(brokers: String, topicPattern: String): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> brokers,
    "subscribePattern" -> topicPattern,
    "startingOffsets" -> "earliest",
    "failOnDataLoss" -> "false")

  /** The executable Kafka ingest path: `readStream.format("kafka")` with
    * the [[kafkaOptions]] surface, projected to the (topic, offset, value)
    * shape [[graft.cdc.Envelope.parse]] consumes. Requires the
    * spark-sql-kafka connector jar on the classpath (the reference mounts
    * its connector jars the same way [spark.sh:21-25]); SourcesSpec pins
    * that this wiring reaches provider resolution in a connector-less
    * environment. */
  def kafkaStream(spark: SparkSession, brokers: String, topicPattern: String): DataFrame =
    kafkaOptions(brokers, topicPattern)
      .foldLeft(spark.readStream.format("kafka")) { case (r, (k, v)) => r.option(k, v) }
      .load()
      .select(
        col("topic"),
        col("offset"),
        col("value").cast("string").as("value"))

  // --- registered query: the multi-format IO path -----------------------

  /** ORC sink → source round-trip, driver-checked every round: the
    * second columnar format next to parquet (both vectorized, both with
    * predicate pushdown — SourcesSpec asserts the ORC scan pushes
    * filters too). The hop must be value-lossless, which the oracle
    * states as the same aggregation over the parquet original. */
  def o01OrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit}
    val tmp = s"/tmp/graft_o01/${new java.io.File(dir).getName}"
    graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
              col("l_returnflag"))
      .write.mode("overwrite").orc(tmp)
    spark.read.orc(tmp)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), graft.Tables.dsum(col("l_extendedprice")).as("total"))
  }

  /** o04: schema-evolution read — two parquet generations of the same
    * table (the old one without `o_comment`-era columns, the new one
    * with an added `big_order` flag) read back as ONE dataset via
    * `mergeSchema`: the storage-layer twin of [[graft.cdc.SchemaEvolution]]'s
    * in-flight union (c10). Old-generation rows surface the added column
    * as NULL; nothing is rewritten — exactly how a 100 TB table evolves
    * in place (rewriting history is the thing you cannot afford). The
    * oracle replays the generational split + null-fill over the
    * original. */
  def o04SchemaMerge(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, sum, when}
    // unique per-invocation scratch dir: a fixed path raced concurrent
    // bench/verify runs over the same scale dir (mid-read clobber) and
    // failed outright where /tmp is unwritable for the shared prefix
    val tmpDir = java.nio.file.Files.createTempDirectory("graft_o04_")
    val tmp = tmpDir.toString
    val o = graft.Tables.orders(spark, dir)
    // generation 1: the narrow era (orders before 1995)
    o.filter(col("o_orderdate") < "1995-01-01")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$tmp/gen=1")
    // generation 2: a column was added upstream
    o.filter(col("o_orderdate") >= "1995-01-01")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        (col("o_totalprice") > 200000.0).as("big_order"))
      .write.mode("overwrite").parquet(s"$tmp/gen=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(tmp)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("big_order").isNull, 1L).otherwise(0L)).as("n_old_generation"),
        sum(when(col("big_order"), 1L).otherwise(0L)).as("n_big"),
        graft.Tables.dsum(col("o_totalprice")).as("total"))
    // materialize the (priority-count-sized, ≤5-row) aggregate so the
    // scratch generations can be deleted before returning — the merged
    // READ is still the distributed mergeSchema scan under test
    val out = graft.Tables.materialize(merged)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
    }
    rm(tmpDir.toFile)
    out
  }

  /** Bucketed write → exchange-free join, driver-checked every round: both
    * fact tables land bucketed on the order key ([[Bucketing.writeBucketed]]
    * — the MergeTree-ORDER-BY/bucketing layout decision the reference makes
    * in its sink DDL [consumer_to_file.py:145-150]), and the re-read join
    * runs with NO shuffle on either side (BucketingSpec asserts zero
    * Exchanges in this exact plan). The oracle states the layout hop is
    * value-lossless via the same join+agg over the flat parquet. At 100 TB
    * this is THE repeated-join answer: the shuffle is paid once at write
    * time, every subsequent join on the key is free. */
  def o02BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, expr}
    val sfx = new java.io.File(dir).getName.replace('.', '_')
    val lTab = s"graft_o02_lineitem_$sfx"; val oTab = s"graft_o02_orders_$sfx"
    Bucketing.writeBucketed(
      graft.Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
      lTab, "l_orderkey", 8, sortCol = Some("l_orderkey"))
    Bucketing.writeBucketed(
      graft.Tables.orders(spark, dir)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority")),
      oTab, "l_orderkey", 8, sortCol = Some("l_orderkey"))
    Bucketing.bucketedJoin(spark, lTab, oTab, "l_orderkey")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(expr("l_extendedprice * (1 - l_discount)")).as("revenue"))
  }

  /** Partitioned layout write → partition-pruned read, driver-checked
    * every round: orders lands hive-partitioned by order year (the
    * date-partitioning every CDC sink directory tree uses), and the
    * filtered re-read shows `PartitionFilters` in its scan — the year
    * predicate prunes whole directories before any IO. Round5Spec
    * asserts the pruning in this exact plan; the oracle states the
    * layout hop + prune is value-identical to filtering the flat
    * parquet. At 100 TB partition pruning is the first 100× — a year
    * filter over a 7-year corpus reads one-seventh of the files. */
  def o03PartitionedPrune(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, year}
    val tmp = s"/tmp/graft_o03/${new java.io.File(dir).getName}"
    val o = graft.Tables.orders(spark, dir)
    o.withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(tmp)
    spark.read.parquet(tmp)
      .filter(col("o_year") === 1997)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("o_totalprice")).as("total"))
  }

  /** Pipeline observability: named metrics attached to a scan with
    * `Dataset.observe` — collected by executor-side accumulators during
    * whatever action runs anyway, NO extra pass over the data (the
    * replacement for the reference consumer's per-message print logging
    * [consumer_to_file.py:216-223]; at 100 TB a second metrics pass is a
    * second 100 TB scan). Round5Spec asserts the observed values equal
    * the direct aggregates. */
  def observedIngest(spark: SparkSession, dir: String)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    import org.apache.spark.sql.functions.{count, lit, sum, when, min, max}
    val obs = new org.apache.spark.sql.Observation("ingest_metrics")
    val df = graft.Tables.events(spark, dir).observe(obs,
      count(lit(1)).as("n_rows"),
      sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_null_value"),
      min(col("event_id")).as("min_event_id"),
      max(col("event_id")).as("max_event_id"),
      graft.Tables.dsum(col("value")).as("total_value"))
    (df, obs)
  }

  /** o05: the custom DataSource V2 connector ([[SensorSource]]) under a
    * real query — a selective id-range predicate (absorbed by the source,
    * pruning 16 planned partitions down to the 7 that intersect), a
    * residual `status` predicate (NOT pushable, evaluated by Spark above
    * the scan), column pruning (only the 5 projected fields are ever
    * generated), and an aggregate on top. Dsv2Spec asserts each contract
    * against this exact plan; the oracle replays the row formula over
    * DuckDB's `range()`. */
  def o05Dsv2Source(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, sum, when}
    spark.read.format("graft-sensors")
      .option("rows", 100000).option("slices", 16).load()
      .filter(col("id") >= 20000L && col("id") < 60000L && col("status") =!= "alert")
      .groupBy(col("sensor"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("reading")).as("total_reading"),
        max(col("ts")).as("max_ts"),
        sum(when(col("status") === "warn", 1L).otherwise(0L)).as("n_warn"))
  }

  /** o06: DSv2 AGGREGATE pushdown ([[SensorAggScan]]) — COUNT(*)/MIN/MAX
    * over a filter-clamped million-row table collapse to one closed-form
    * partial row per surviving partition; no data row is ever generated,
    * and Spark merges the 16 partials. Dsv2Spec asserts the pushed-agg
    * plan shape; the oracle computes the same aggregate the honest way
    * over `range()`. */
  def o06Dsv2AggPushdown(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    spark.read.format("graft-sensors")
      .option("rows", 1000000).option("slices", 32).load()
      .filter(col("id") >= 250000L && col("id") < 750000L)
      .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
        max(col("id")).as("max_id"))
  }

  /** o07: DSv2 LIMIT/TopN pushdown ([[SensorScanBuilder.pushTopN]]) —
    * `ORDER BY id DESC LIMIT 25` over the filter-clamped range reaches
    * the source, which generates exactly the 25-row suffix of the clamp
    * and plans only the one slice containing it; Spark's final sort
    * orders 25 rows instead of 70,000. Dsv2Spec asserts the pushed
    * bound, the partition pruning, and the declined non-id sort; the
    * oracle replays the row formula over `range()` with the same
    * ORDER/LIMIT. */
  def o07Dsv2TopNPushdown(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft-sensors")
      .option("rows", 100000).option("slices", 16).load()
      .filter(col("id") >= 20000L && col("id") < 90000L)
      .orderBy(col("id").desc)
      .limit(25)
      .select(col("id"), col("sensor"), col("reading"), col("status"))

  /** o08: DSv2 RUNTIME filtering ([[SensorScan.filter]] — the connector
    * contract behind dynamic partition pruning): the probe side of a
    * broadcast join is clamped at RUNTIME by the build side's key set —
    * Spark computes the dimension keys first, hands them to the scan,
    * and only the slices intersecting [min, max+1] of the keys are ever
    * planned, exactly like o03's hive-partition pruning but negotiated
    * through the DSv2 API. The key set is a deterministic function of a
    * filtered `orders` slice so DuckDB replays the whole join; the
    * million-row sensor range is never generated beyond the pruned
    * window (Dsv2Spec asserts the planned RuntimeFilters and the row
    * parity). */
  def o08Dsv2RuntimeFilter(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, count, lit, max, min}
    val sensors = spark.read.format("graft-sensors")
      .option("rows", 1000000).option("slices", 32).load()
    val keys = graft.Tables.orders(spark, dir)
      .filter(col("o_orderkey") < 30)
      .select(((col("o_orderkey") * 7919) % 100000 + 450000)
        .cast("long").as("id"))
      .distinct()
    sensors.join(broadcast(keys), "id")
      .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
        max(col("id")).as("max_id"),
        graft.Tables.dsum(col("reading")).as("total_reading"))
  }

  /** o09: the DSv2 WRITE path ([[CommitSink]]) under a real query — the
    * events table is written through the two-phase staged-file + manifest
    * commit protocol (4 hash partitions → 4 task writers → 4 staged
    * files → one atomic manifest swap) and read back from ONLY the
    * manifest's committed file list; the aggregate over the read-back
    * must equal the oracle's aggregate over the ORIGINAL table, proving
    * the write → commit → read chain lossless (doubles round-trip
    * bit-exactly through the parquet staged files, which store each
    * value's IEEE-754 bits).
    * Round10Spec additionally proves the abort path publishes nothing
    * and the staging dir is swept either way. */
  def o09Dsv2CommitWrite(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, countDistinct, lit, max, min}
    val out = s"/tmp/graft_o09/${new java.io.File(dir).getName}"
    graft.Tables.deleteRecursively(out)
    graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .repartition(4, col("user_id"))
      .write.format("graft-commit").option("path", out)
      .mode("overwrite").save()
    CommitSink.readCommitted(spark, out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        graft.Tables.dsum(col("value")).as("total_value"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
  }

  /** o10: the DSv2 STREAMING read ([[SensorMicroBatchStream]]) driven
    * end-to-end — 50k sensor ids admitted 20k per trigger (3 real
    * micro-batches; Dsv2Spec separately instruments a 5-trigger run),
    * a pushed id-range filter, and a complete-mode
    * streaming aggregation whose state accumulates across the triggers;
    * the final table must equal the oracle's one-shot aggregate over
    * `range()`, proving the micro-batch windows tile the id space
    * exactly once (no overlap, no gap) and the incremental agg state
    * converges to the batch answer. All aggregates are order-free
    * (count / exact-decimal sum / max), so batch-boundary placement
    * cannot perturb the result. The memory sink is a fixture-sized
    * harness choice (the output is group-cardinality — 97 sensors);
    * a production run points the same stream at a real sink (parquet /
    * foreachBatch / the o09 commit sink). */
  def o10Dsv2StreamRead(spark: SparkSession, dir: String): DataFrame = {
    val ckpt = s"/tmp/graft_o10/${new java.io.File(dir).getName}"
    graft.Tables.deleteRecursively(ckpt)
    // state-partition sizing is per-stream (the w17/o23 device): a
    // handful of sensor keys don't need the session's 32 state shards —
    // per-trigger cost is (partitions × operators) store commits, and
    // this query pays it on every one of its 3 triggers
    val s = graft.Tables.isolated(spark, "spark.sql.shuffle.partitions" -> "8")
    val q = s.readStream.format("graft-sensors")
      .option("rows", 50000).option("slices", 8)
      .option("streamBatchRows", 20000).load()
      .filter(col("id") >= 5000L && col("id") < 45000L)
      .groupBy(col("sensor"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("reading")).as("total_reading"),
        max(col("id")).as("max_id"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("o10_sensor_stream")
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    q.stop()
    // the memory sink's view lives in the session that ran the stream
    s.table("o10_sensor_stream")
  }

  /** o11: the full DSv2 STREAMING pipeline — micro-batch READ
    * ([[SensorMicroBatchStream]], 4 epochs of 5k ids) into the
    * epoch-committing STREAMING WRITE ([[CommitStreamingWrite]]) — the
    * complete connector matrix (batch/streaming × read/write) in one
    * standing dataflow, the EP1 topology with both ends on our own
    * connectors. Each epoch stages task files and lands under one atomic
    * manifest swap that records the epoch (re-delivery after restart is
    * a no-op — Round10Spec unit-proves it); the read-back aggregate of
    * ONLY the manifest's files must equal the one-shot oracle over
    * `range()`, proving the four epoch commits compose losslessly. */
  def o11Dsv2StreamSink(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max}
    val base = s"/tmp/graft_o11/${new java.io.File(dir).getName}"
    graft.Tables.deleteRecursively(base)
    val out = s"$base/table"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    val q = spark.readStream.format("graft-sensors")
      .option("rows", 20000).option("slices", 8)
      .option("streamBatchRows", 5000).load()
      .select(col("id"), col("sensor"), col("reading"), col("status"))
      .writeStream.outputMode("append").format("graft-commit")
      .option("path", out)
      .option("checkpointLocation", s"$base/ck")
      .start()
    q.processAllAvailable()
    q.stop()
    CommitSink.readCommitted(spark, out)
      .groupBy(col("sensor"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("reading")).as("total_reading"),
        max(col("id")).as("max_id"))
  }

  /** The session an entry that addresses graft-commit tables by name
    * runs on: [[graft.Tables.isolated]] with `confs` (DML-mode knobs)
    * and a CommitCatalog registered as [[cat]], rooted at a freshly
    * wiped per-(query, dir) scratch dir. A fresh session has its own
    * CatalogManager, so the one catalog name never serves an instance
    * cached for another root. Returns (session, root). */
  private def scopedCatalog(spark: SparkSession, tag: String, dir: String,
                            confs: (String, String)*): (SparkSession, String) = {
    val dirName = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9]", "_")
    val root = s"/tmp/graft_$tag/$dirName"
    graft.Tables.deleteRecursively(root)
    (graft.Tables.isolated(spark, Seq(s"spark.sql.catalog.$cat" -> "graft.sources.CommitCatalog",
      s"spark.sql.catalog.$cat.root" -> root) ++ confs: _*), root)
  }

  /** The catalog name in every [[scopedCatalog]] session. */
  private val cat = "lake"

  /** o12: SQL row-level DELETE against the commit sink, addressed by
    * NAME through [[CommitCatalog]] — the row-level-operation member of
    * the DSv2 connector matrix (read o05-o08/o10, write o09, streaming
    * sink o11). The events table is landed through the two-phase commit
    * write, then `DELETE FROM graft_commit.default.events WHERE
    * event_type = 'error' OR value > 90` runs as a real SQL statement:
    * the analyzer resolves the table via the catalog, pushes the
    * condition as connector predicates, and [[CommitSinkTable]] executes
    * an Iceberg-style copy-on-write — survivors land as a NEW table
    * version under the same atomic CAS'd manifest swap, so readers see
    * the pre-delete or post-delete version, never a partial delete. The
    * read-back aggregate must equal the oracle's aggregate over `events
    * WHERE NOT (cond)` — proving the delete removed exactly the selected
    * rows (NULL-condition rows would be kept; the fixture has none). */
  def o12Dsv2DeleteWhere(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val (lake, root) = scopedCatalog(spark, "o12", dir)
    val path = s"$root/default/events"
    graft.Tables.events(lake, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .repartition(4, col("user_id"))
      .write.format("graft-commit").option("path", path).mode("overwrite").save()
    // 90.0D: a DOUBLE literal — a bare 90.0 is DECIMAL and the implicit
    // cast could land on the column, blocking predicate translation
    lake.sql(s"DELETE FROM $cat.`default`.events " +
      "WHERE event_type = 'error' OR value > 90.0D")
    CommitSink.readCommitted(lake, path)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("value")).as("total_value"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
  }

  /** o13: SQL MERGE INTO against the commit sink — the reference's CDC
    * upsert loop (consumer_to_file.py:214-224, applied row-at-a-time
    * with no transaction) as ONE declarative three-branch MERGE through
    * the group-based row-level operation ([[CommitRowLevelOperation]]):
    * the target holds per-user state from one event slice, the source
    * aggregates another slice plus a shifted-id cohort that can't match
    * (forcing the INSERT branch), and the statement exercises all three
    * branches — conditional DELETE (combined activity above the cap of 66,
    * chosen at the per-user median so BOTH matched branches fire),
    * UPDATE (exact long arithmetic, so the two-slice sum equals the
    * one-shot oracle regardless of grouping), INSERT. Spark plans it as
    * copy-on-write: scan the committed table, compute the post-merge row
    * set, land it as ONE new version under the atomic CAS'd manifest
    * swap — the transactional upsert the reference cannot express. The
    * read-back must equal the oracle's FULL OUTER JOIN replay of the
    * same three branches. */
  def o13Dsv2MergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, sum}
    val (lake, root) = scopedCatalog(spark, "o13", dir)
    val path = s"$root/default/user_state"
    val ev = graft.Tables.events(lake, dir)
      .select(col("event_id"), col("user_id"))
    // target: per-user state over events with event_id % 3 != 0
    ev.filter(col("event_id") % 3 =!= 0)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("event_id")).as("sum_eid"))
      .repartition(4, col("user_id"))
      .write.format("graft-commit").option("path", path).mode("overwrite").save()
    // source: the % 3 == 0 slice, plus a shifted-id cohort that can never
    // match (every 10th user) — the INSERT branch must fire
    val s2 = ev.filter(col("event_id") % 3 === 0)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("s"))
    val src = s2.unionByName(
      s2.filter(col("user_id") % 10 === 0)
        .select((col("user_id") + 10000000L).as("user_id"), col("n"), col("s")))
    src.createTempView("o13_src")
    lake.sql(s"""MERGE INTO $cat.`default`.user_state t
                 USING o13_src s ON t.user_id = s.user_id
                 WHEN MATCHED AND t.n_events + s.n > 66 THEN DELETE
                 WHEN MATCHED THEN UPDATE SET
                   n_events = t.n_events + s.n, sum_eid = t.sum_eid + s.s
                 WHEN NOT MATCHED THEN INSERT (user_id, n_events, sum_eid)
                   VALUES (s.user_id, s.n, s.s)""")
    CommitSink.readCommitted(lake, path)
  }

  /** o21: MERGE with RUNTIME GROUP FILTERING — the `_file` metadata
    * column (Iceberg's FILE_PATH device) closing the one DML scale gap
    * static zone maps cannot: a MERGE's ON condition references the
    * SOURCE, so no planning-time prune is possible, and without group
    * filtering the copy-on-write scan reads (and the rewrite replaces)
    * the WHOLE table. With it, Spark plans a matching-groups subquery
    * over the ORIGINAL table (joining source x target), collects the
    * DISTINCT `_file` values the condition matches — bounded by the
    * FILE count, which is why the key is _file and not a data column —
    * and hands them to the DML scan as a runtime In-filter; the
    * group-granular rewrite then replaces exactly those files and
    * carries the rest. The proof is IN the oracle: the readout carries
    * `n_carried_files`, the count of pre-MERGE files still listed in
    * the post-MERGE manifest — 7 of 8 iff the matched band (event_id <
    * 50, one file of the range-partitioned layout) was the only group
    * rewritten; a silent fallback to whole-table copy-on-write would
    * hash-mismatch. At 100 TB this is the difference between a MERGE
    * that rewrites ~its matched partitions and one that rewrites the
    * table. */
  def o21Dsv2MergeGroupPrune(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val (lake, root) = scopedCatalog(spark, "o21", dir)
    val path = s"$root/default/ev"
    val ev = graft.Tables.events(lake, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    ev.repartitionByRange(8, col("event_id"))
      .write.format(CommitSink.NAME).option("path", path).mode("overwrite").save()
    val before = CommitSink.parseManifest(java.nio.file.Paths.get(path)).get
    val matched = ev.filter(col("event_id") < 50)
      .select(col("event_id"), (col("value") + 1.0).as("v"))
    matched.unionByName(matched.filter(col("event_id") % 2 === 0)
        .select((col("event_id") + 100000000L).as("event_id"), col("v")))
      .createTempView("o21_src")
    lake.sql(s"""MERGE INTO $cat.`default`.ev t USING o21_src s
                 ON t.event_id = s.event_id
                 WHEN MATCHED THEN UPDATE SET value = t.value + s.v
                 WHEN NOT MATCHED THEN INSERT (event_id, event_type, value)
                   VALUES (s.event_id, 'merged', s.v)""")
    val after = CommitSink.parseManifest(java.nio.file.Paths.get(path)).get
    val carried = after.files.toSet.intersect(before.files.toSet).size
    CommitSink.readCommitted(lake, path)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("value")).as("total_value"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
      .withColumn("n_carried_files", lit(carried))
  }

  /** o22: XML round-trip — Spark 4's built-in XML datasource (the
    * spark-xml merge), the classic enterprise-ingest format the json/
    * csv/orc/parquet/jdbc matrix was missing: events write as
    * `<event>…</event>` rows and read back under an explicit schema
    * (schema-on-read, like the csv/json paths — inference is a luxury a
    * 100 TB ingest skips). Doubles survive exactly: the writer emits
    * shortest-round-trip decimal strings. Oracle = the same aggregate
    * over the ORIGINAL table, so the round-trip itself is what is
    * hash-checked. */
  def o22XmlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    // fixed per-(query, sf) scratch root, wiped at entry — a fresh
    // createTempDirectory per run would accumulate XML output across
    // bench/verify runs
    val tmp = s"/tmp/graft_o22/${new java.io.File(dir).getName}"
    graft.Tables.deleteRecursively(tmp)
    graft.Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
      .write.mode("overwrite").option("rowTag", "event").format("xml").save(tmp)
    spark.read.schema("event_id BIGINT, event_type STRING, value DOUBLE")
      .option("rowTag", "event").format("xml").load(tmp)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("value")).as("total_value"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
  }

  /** o23: streaming-state INTROSPECTION — Spark 4's State Data Source
    * (`format("statestore")`): read a stateful query's checkpointed
    * state store as a DataFrame, without the query. At 100 TB the state
    * store IS the streaming job's database (the thing that grows, skews,
    * and gets debugged at 3am), and this is its SELECT: find the hot
    * keys, audit a suspect aggregate, size the shards — none of which
    * the running query exposes. The entry runs a 2-trigger grouped
    * aggregation to completion, then reads its checkpointed state files
    * directly — under the session default HDFS-backed provider: one
    * small single-family aggregation buffer is exactly its workload,
    * and r14 measured a globally-pinned RocksDB provider at 2.6× this
    * entry's cost; the oracle replays the aggregation in DuckDB, so the
    * STATE CONTENT itself (count + sum buffer per key) is hash-checked
    * against what the stream must have accumulated. */
  def o23StateIntrospection(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, sum}
    val ck = s"/tmp/graft_o23/${new java.io.File(dir).getName}"
    graft.Tables.deleteRecursively(ck)
    // state-partition sizing is per-stream (the w17 device): 97 keys of
    // bounded state don't need the session's 32 shards — per-trigger
    // cost is (partitions × operators) store commits, and 8 is the
    // right size for the volume; read back below at the same count
    val s = graft.Tables.isolated(spark, "spark.sql.shuffle.partitions" -> "8")
    val q = s.readStream.format("graft-sensors")
      .option("rows", 20000).option("slices", 8)
      .option("streamBatchRows", 10000).load()
      .select((col("id") % 97L).as("k"), col("id"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("id")).as("s"))
      .writeStream.outputMode("update").format("noop")
      .option("checkpointLocation", ck)
      .start()
    q.processAllAvailable()
    q.stop()
    // the state VALUE struct carries the physical aggregation buffer —
    // field names are the agg functions' (`count`, `sum`), not the
    // query aliases (those live above the state)
    val snap = s.read.format("statestore").load(ck)
      .select(col("key.k").as("k"),
        col("value.count").as("n_events"),
        col("value.sum").as("sum_id"))
    // HARNESS SHIM, fixture-sized by construction (97 keys: id % 97):
    // materialize so the checkpoint scratch can be deleted before
    // returning — the statestore read is lazy over it
    val out = graft.Tables.materialize(snap)
    graft.Tables.deleteRecursively(ck)
    out
  }

  /** o24: the FULL TYPE SURFACE committed through graft-commit — the
    * c15 declared-schema (TYPE_MAPPING) snapshot, carrying DECIMAL(12,4)
    * / DATE / TIMESTAMP_NTZ / FLOAT / SMALLINT / TINYINT plus an added
    * TIMESTAMP (LTZ) column, lands in a graft-commit table under the
    * parquet payload and reads back hash-exact. This is the closure of
    * the r12 verdict's one `weak`: the reference's sink models a
    * ClickHouse DDL with real Date/DateTime/Decimal columns
    * (consumer_to_file.py:145-150), and until the parquet payload the
    * lakehouse table could hold none of them — the typed CDC tables
    * (c15/c17) simply could not land. Output projection widens
    * float→double, tinyint→smallint, decimal→double (the driver-hash
    * width rule, c15's readingsReport precedent) and reads the LTZ
    * column back as exact epoch micros; the committed table keeps the
    * declared narrow types (Round13Spec pins the round-trip). */
  def o24TypedCommit(spark: SparkSession, dir: String): DataFrame = {
    val out = s"/tmp/graft_o24/${new java.io.File(dir).getName}"
    graft.Tables.deleteRecursively(out)
    // NTZ→LTZ cast is value-stable under Verify's UTC session; the
    // readout goes through unix_micros, so the check is bit-exact
    graft.cdc.CdcQueries.c15TypedSnapshot(spark, dir)
      .withColumn("updated_utc", col("updated").cast("timestamp"))
      .write.format(CommitSink.NAME).option("path", out)
      .mode("overwrite").save()
    CommitSink.readCommitted(spark, out)
      .select(col("id"),
        col("tiny").cast("smallint").as("tiny"),
        col("small"), col("med"), col("n"), col("big"),
        col("f").cast("double").as("f"), col("d"),
        col("price").cast("double").as("price"),
        col("flag"), col("name"), col("born"), col("updated"),
        org.apache.spark.sql.functions.unix_micros(col("updated_utc")).as("upd_us"),
        col("t"), col("y"), col("u"), col("j"), col("e"))
  }

  /** o25: the typed CDC snapshot MERGED into a catalog lakehouse table —
    * the w16 topology upgraded to the c15 declared schema (the r12
    * verdict's "done" bar): CREATE TABLE with the full TYPE_MAPPING
    * column set (DECIMAL/DATE/TIMESTAMP_NTZ/FLOAT/SMALLINT/TINYINT),
    * seed the even-id half through MERGE's INSERT branch, then MERGE the
    * complete snapshot — matched rows exercise typed arithmetic through
    * the copy-on-write rewrite (INT accumulation, DECIMAL(12,4)
    * addition landing back in the declared precision), unmatched rows
    * the typed INSERT path. The read-back equals the oracle's replay:
    * even ids doubled n/price, odd ids verbatim. Every value round-trips
    * the parquet payload twice (seed commit + rewrite commit). */
  def o25TypedCdcMerge(spark: SparkSession, dir: String): DataFrame = {
    val (lake, root) = scopedCatalog(spark, "o25", dir)
    lake.sql(s"""CREATE TABLE $cat.`default`.readings (
      id BIGINT, tiny TINYINT, small SMALLINT, med INT, n INT, big BIGINT,
      f FLOAT, d DOUBLE, price DECIMAL(12,4), flag BOOLEAN, name STRING,
      born DATE, updated TIMESTAMP_NTZ, t STRING, y SMALLINT, u STRING,
      j STRING, e STRING) USING `graft-commit`""")
    // cached across the two MERGE statements (r20, the c21 device): the
    // source is the full envelope parse + latest-per-id window — each
    // MERGE re-executed the view's plan, so the corpus paid the
    // to_json/from_json/cast pass twice. Computed fresh per entry call
    // (cache scope is this entry), released before the readout.
    val src = graft.cdc.CdcQueries.c15TypedSnapshot(lake, dir).cache()
    src.createTempView("o25_src")
    lake.sql(s"""MERGE INTO $cat.`default`.readings tg
                 USING (SELECT * FROM o25_src WHERE id % 2 = 0) s
                 ON tg.id = s.id
                 WHEN NOT MATCHED THEN INSERT *""")
    lake.sql(s"""MERGE INTO $cat.`default`.readings tg
                 USING o25_src s ON tg.id = s.id
                 WHEN MATCHED THEN UPDATE SET
                   n = tg.n + s.n,
                   price = CAST(tg.price + s.price AS DECIMAL(12,4))
                 WHEN NOT MATCHED THEN INSERT *""")
    src.unpersist()
    CommitSink.readCommitted(lake, s"$root/default/readings")
      .select(col("id"),
        col("tiny").cast("smallint").as("tiny"),
        col("small"), col("med"), col("n"), col("big"),
        col("f").cast("double").as("f"), col("d"),
        col("price").cast("double").as("price"),
        col("flag"), col("name"), col("born"), col("updated"),
        col("t"), col("y"), col("u"), col("j"), col("e"))
  }

  /** o26: state introspection of a transformWithState MAP-state store —
    * o23's follow-on for the arbitrary-state APIs the engine actually
    * promotes (w09/w14/w15): the State Data Source reads a NAMED state
    * variable (`stateVarName`) out of a multi-column-family RocksDB
    * checkpoint, here w14's per-(event_type → user → cumulative value)
    * leaderboard MapState, flattened to one row per map entry. The
    * stream is the engine's own table-as-a-stream path: events land in
    * a graft-commit table as two event_id-ranged commits, the changelog
    * stream replays them as two real triggers (maxCommitsPerTrigger=1)
    * through [[graft.ops.Streaming.LeaderboardProcessor]], and the
    * store read must reconstruct w14's EXACT leaderboard — the oracle
    * IS w14's oracle, so the state content (per-user event_id-ordered
    * double folds, accumulated across a trigger boundary) is
    * hash-checked, not merely row-counted. The 3am story this enables
    * at scale: find the hot sub-keys of a skewed MapState without
    * touching the running query. */
  def o26StateFamilies(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{asc, desc, max, row_number}
    val base = s"/tmp/graft_o26/${new java.io.File(dir).getName}"
    graft.Tables.deleteRecursively(base)
    val tbl = s"$base/events"
    val ck = s"$base/ck"
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    // one scalar cutoff (c18 precedent): the two commits split the id
    // space so each user's arrivals stay event_id-ordered ACROSS the
    // trigger boundary — the bit-determinism contract of w14's fold
    val cut = ev.agg(max(col("event_id"))).head().getLong(0) / 2
    ev.filter(col("event_id") <= cut)
      .write.format(CommitSink.NAME).option("path", tbl).mode("overwrite").save()
    ev.filter(col("event_id") > cut)
      .write.format(CommitSink.NAME).option("path", tbl).mode("append").save()
    // MapState is a second column family — RocksDB required (the w14
    // contract). State-partition sizing is per-stream (the w17/o23
    // device, r20): the grouping key is event_type (single-digit
    // cardinality), so the session's 32 shards buy nothing and cost
    // (partitions × families) RocksDB store commits per trigger; 8
    // matches o23's sizing. The readout is partition-count-independent —
    // the processor sorts each key's rows by event_id before folding
    // (LeaderboardProcessor).
    val s = graft.ops.Streaming.rocksDb(spark, "spark.sql.shuffle.partitions" -> "8")
    import spark.implicits._
    val stream = s.readStream.format(CommitSink.NAME).option("path", tbl)
      .option("maxCommitsPerTrigger", 1).load()
      .as[graft.ops.Streaming.UserEvent]
    val q = graft.ops.Streaming.typeLeaderboard(stream)
      .writeStream.outputMode("update").format("noop")
      .option("checkpointLocation", ck).start()
    q.processAllAvailable()
    q.stop()
    // one row per (grouping key, map sub-key): the flattened MapState
    val store = s.read.format("statestore")
      .option("stateVarName", "totals").load(ck)
      .select(col("key.value").as("event_type"),
        col("user_map_key.value").as("user_id"),
        col("user_map_value.value").as("total_value"))
    val lead = store.withColumn("rank",
        row_number().over(Window.partitionBy(col("event_type"))
          .orderBy(desc("total_value"), asc("user_id"))))
      .filter(col("rank") <= 3)
      .select(col("event_type"), col("rank"), col("user_id"), col("total_value"))
    // HARNESS SHIM, fixture-sized by construction (3 rows per event
    // type): materialize so the scratch table + checkpoint can be
    // deleted before returning
    val out = graft.Tables.materialize(lead)
    graft.Tables.deleteRecursively(base)
    out
  }

  /** o27: merge-on-read DELETE via DELETION VECTORS — the Iceberg v2
    * position-delete / Delta deletion-vector write mode on the
    * graft-commit table, the flip side of the r12 group-granular
    * copy-on-write rewrite: `spark.graft.commit.deleteMode=
    * merge-on-read` makes SQL DELETE record the matched rows'
    * (file, position) pairs as per-file vectors and commit a version
    * whose DATA FILES ARE UNCHANGED — a one-row delete on a 100 TB
    * table writes ~20 bytes instead of rewriting a 1 GB file. Two
    * deletes land here: a range-selective one (the pushed condition
    * zone-prunes the range-clustered layout, so vectors are written
    * only for the files that can match) and an overlapping value
    * predicate (its vector UNIONS with the first on shared files —
    * positions compose because the second delete's scan already
    * applied the first vector). Every read path applies the vectors —
    * the DSv2 scan per-file, the driver re-reads via Spark's native
    * `_metadata.row_index` anti-join — and the read-back aggregate
    * must equal the oracle's NOT(cond1) AND NOT(cond2) replay.
    * Round13Spec pins the mechanism: file names byte-identical across
    * the delete commits, vector union counts, the fully-deleted-file
    * drop, compaction materializing the deletes, and the changelog
    * stream refusing a vector commit as non-append-only. */
  def o27DeleteVectors(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val (dml, root) = scopedCatalog(spark, "o27", dir,
      "spark.graft.commit.deleteMode" -> "merge-on-read")
    val path = s"$root/default/events"
    graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .repartitionByRange(8, col("event_id"))
      .write.format(CommitSink.NAME).option("path", path).mode("overwrite").save()
    dml.sql(s"DELETE FROM $cat.`default`.events " +
      "WHERE event_id >= 100 AND event_id < 2000 AND event_type = 'click'")
    dml.sql(s"DELETE FROM $cat.`default`.events WHERE value > 95.0D")
    CommitSink.readCommitted(spark, path)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("value")).as("total_value"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
  }

  /** o28: merge-on-read MERGE via the DELTA row-level operation
    * ([[graft.sources.CommitDeltaRowLevelOperation]], SupportsDelta) —
    * the write-mode counterpart of o27's metadata DELETE: under
    * `spark.graft.commit.rowLevelMode=merge-on-read`, a three-branch
    * MERGE (conditional DELETE, UPDATE, INSERT) lands as deletion
    * vectors plus one appended file of new row versions, leaving every
    * pre-existing data file byte-untouched — Iceberg's position-delta
    * shape (rowId = `_file`/`_pos`, clustering on `_file`, updates
    * represented as delete+insert). The readout carries two
    * mechanism-proof columns the oracle must reproduce:
    * `n_untouched_files` (all 8 original files survive the MERGE — a
    * copy-on-write fallback would rewrite matched files and
    * hash-mismatch) and `n_vector_positions` (the manifest's summed
    * vector count = the matched row count, since every matched row's
    * old version — deleted or updated — becomes exactly one position,
    * which DuckDB computes as COUNT(*) of the match predicate). */
  def o28MorMerge(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    // the MOR knob, the catalog registration AND the o28_src temp view
    // are all scoped to this entry's session
    val (dml, root) = scopedCatalog(spark, "o28", dir,
      "spark.graft.commit.rowLevelMode" -> "merge-on-read")
    val path = s"$root/default/ev"
    // the source view must be OWNED by dml — createTempView
    // registers in the DataFrame's own session — so ev reads through dml
    // (the CacheManager is shared state: the cached base-table plan
    // substitutes across sessions)
    val ev = graft.Tables.events(dml, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    ev.repartitionByRange(8, col("event_id"))
      .write.format(CommitSink.NAME).option("path", path).mode("overwrite").save()
    val before = CommitSink.parseManifest(java.nio.file.Paths.get(path)).get
    val matched = ev.filter(col("event_id") < 50)
      .select(col("event_id"), (col("value") + 1.0).as("v"))
    matched.unionByName(matched.filter(col("event_id") % 2 === 0)
        .select((col("event_id") + 100000000L).as("event_id"), col("v")))
      .createTempView("o28_src")
    dml.sql(s"""MERGE INTO $cat.`default`.ev t USING o28_src s
               ON t.event_id = s.event_id
               WHEN MATCHED AND t.value > 95.0D THEN DELETE
               WHEN MATCHED THEN UPDATE SET value = t.value + s.v
               WHEN NOT MATCHED THEN INSERT (event_id, event_type, value)
                 VALUES (s.event_id, 'merged', s.v)""")
    val after = CommitSink.parseManifest(java.nio.file.Paths.get(path)).get
    val untouched = after.files.toSet.intersect(before.files.toSet).size
    val positions = after.files.flatMap(after.deletes.get).map(_.ndel).sum
    CommitSink.readCommitted(spark, path)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("value")).as("total_value"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
      .withColumn("n_untouched_files", lit(untouched))
      .withColumn("n_vector_positions", lit(positions))
  }

  /** o29: CHANGE DATA FEED — `option("readChangeFeed", true)` reads a
    * graft-commit table as its change rows (Delta CDF's surface:
    * `_change_type` 'insert'|'delete' + `_commit_version`), batch over
    * a version range here, streaming via the same per-commit planner
    * (Round13Spec pins stream≡batch). The deletion-vector
    * representation is what makes this possible: a vector commit's
    * delta IS rows — the newly-deleted positions of an unchanged file —
    * so the changelog's "rows removed, refuse" gap becomes real CDC
    * output (merge-on-read updates surface as delete+insert, their
    * physical form; rewrites still refuse). History: v0 odd-id rows,
    * v1 even-id append, v2 a merge-on-read DELETE — the feed must
    * replay all three attributed to the right version, which the
    * oracle reproduces from the raw table. */
  def o29ChangeDataFeed(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val (dml, root) = scopedCatalog(spark, "o29", dir,
      "spark.graft.commit.deleteMode" -> "merge-on-read")
    val path = s"$root/default/ev"
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    ev.filter(col("event_id") % 2 === 1)
      .repartitionByRange(4, col("event_id"))
      .write.format(CommitSink.NAME).option("path", path).mode("overwrite").save()
    ev.filter(col("event_id") % 2 === 0)
      .write.format(CommitSink.NAME).option("path", path).mode("append").save()
    dml.sql(s"DELETE FROM $cat.`default`.ev WHERE value > 90.0D")
    spark.read.format(CommitSink.NAME).option("path", path)
      .option("readChangeFeed", true).option("startingVersion", 0).load()
      .groupBy(col("_change_type").as("change_type"),
        col("_commit_version").as("commit_version"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("value")).as("total_value"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
  }

  /** o30: targeted VECTOR MAINTENANCE — `CommitSink.compactDeletes`
    * (Iceberg's rewrite_position_delete_files analog): after two
    * merge-on-read DELETEs leave one file delete-dominated (~78% dead)
    * and another barely touched, compacting at minDeleteRatio=0.5
    * rewrites ONLY the dominated file (materializing its deletes,
    * dropping its vector) and carries the sparse vector untouched —
    * the steady-state middle ground between per-read position skips
    * and whole-table compaction. The readout's proof columns make the
    * TARGETING oracle-checked, not just the values: `n_rewritten` (1 —
    * only the dominated zone file qualifies; the sparse vectors sit at
    * ~1% per file) and `n_positions_left` = the sparse delete's exact
    * row count, which DuckDB computes from the predicate (the sparse
    * VECTORS survive the maintenance pass untouched — their per-file
    * distribution over zone boundaries is sampling-dependent, so the
    * readout proves the position total, not the vector count). */
  def o30VectorMaintenance(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    // both MOR knobs: the range DELETE takes the metadata path
    // (deleteMode), the modulo DELETE is untranslatable as V1 filters
    // and routes through the row-level operation (rowLevelMode) —
    // either way, positions land as vectors, no file rewrites
    val (dml, root) = scopedCatalog(spark, "o30", dir,
      "spark.graft.commit.deleteMode" -> "merge-on-read",
      "spark.graft.commit.rowLevelMode" -> "merge-on-read")
    val path = s"$root/default/ev"
    // zone 1 of 4 covers the lowest event_id quartile: kill most of it
    // (the 22nd-percentile cut ≈ 88% of the zone), then nick sparse rows
    // strictly ABOVE the 40th percentile — comfortably past zone 1's
    // sampled boundary, so none of the sparse positions land in the file
    // the maintenance pass rewrites (which would materialize them and
    // make the left-over position count boundary-dependent).
    // The percentile scan reads the CACHED events table, independent of
    // the table write — the two overlap (guide §2.6)
    val Seq(_, cuts) = graft.Tables.inParallel[Any](
      () => graft.Tables.events(spark, dir)
        .select(col("event_id"), col("event_type"), col("value"))
        .repartitionByRange(4, col("event_id"))
        .write.format(CommitSink.NAME).option("path", path).mode("overwrite").save(),
      () => graft.Tables.events(spark, dir)
        .agg(org.apache.spark.sql.functions.expr("percentile_cont(0.22) WITHIN GROUP (ORDER BY event_id)"),
          org.apache.spark.sql.functions.expr("percentile_cont(0.40) WITHIN GROUP (ORDER BY event_id)"))
        .head() match { case r => Array(r.getDouble(0).toLong, r.getDouble(1).toLong) })
    val Array(cut, cutHigh) = cuts.asInstanceOf[Array[Long]]
    dml.sql(s"DELETE FROM $cat.`default`.ev WHERE event_id <= $cut")
    dml.sql(s"DELETE FROM $cat.`default`.ev WHERE event_id % 97 = 0 AND event_id > $cutHigh")
    val rewritten = CommitSink.compactDeletes(spark, path, 0.5)
    val m = CommitSink.parseManifest(java.nio.file.Paths.get(path)).get
    CommitSink.readCommitted(spark, path)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("value")).as("total_value"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
      .withColumn("n_rewritten", lit(rewritten.size))
      .withColumn("n_positions_left",
        lit(m.files.flatMap(m.deletes.get).map(_.ndel).sum))
  }

  /** o31: lakehouse SCHEMA EVOLUTION — `ALTER TABLE ADD COLUMNS` through
    * [[graft.sources.CommitCatalog]], the storage twin of the CDC path's
    * in-flight evolution (O9/c10; the reference ALTERs its ClickHouse
    * table per new key, consumer_to_file.py:155-168): a metadata-only
    * commit widens the manifest DDL and carries every file verbatim, old
    * files read the new column as NULL (schema-on-read — no rewrite of
    * a single byte, the 100 TB evolution story), appends after the ALTER
    * land the full widened schema, and time travel to the pre-ALTER
    * version still reads the OLD 3-column shape (immutable version
    * manifests) — pinned by the `n_v0_cols` proof column. The readout
    * buckets both generations together: `n_with_priority` counts
    * non-NULL values of the ADDED column (exactly the post-ALTER rows)
    * and `min_nullkey` proves WHICH rows read NULL (the pre-ALTER
    * generation), so a reader that dropped or backfilled either
    * generation hash-mismatches. */
  def o31SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min, when}
    val (dml, root) = scopedCatalog(spark, "o31", dir)
    val path = s"$root/default/ord"
    val ord = graft.Tables.orders(spark, dir)
    // generation 0: three columns (commit 0)
    ord.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .write.format(CommitSink.NAME).option("path", path).mode("overwrite").save()
    // the evolution commit (commit 1): metadata-only, zero files touched
    dml.sql(s"ALTER TABLE $cat.`default`.ord ADD COLUMNS (o_orderpriority STRING)")
    // generation 1: the widened schema appends (commit 2)
    ord.filter(col("o_orderkey") % 3 === 1)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderpriority"))
      .write.format(CommitSink.NAME).option("path", path).mode("append").save()
    // proof: the pre-ALTER version is still the 3-column table
    val v0Cols = CommitSink.readCommittedVersion(spark, path, 0L).schema.length
    CommitSink.readCommitted(spark, path)
      .groupBy((col("o_orderkey") % 10).as("bucket"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("o_totalprice")).as("total_price"),
        count(col("o_orderpriority")).as("n_with_priority"),
        min(when(col("o_orderpriority").isNull, col("o_orderkey"))).as("min_nullkey"),
        max(col("o_custkey")).as("max_custkey"))
      .withColumn("n_v0_cols", lit(v0Cols))
  }

  /** o32: EQUALITY DELETES — Iceberg v2's second delete form, the true
    * zero-read CDC apply: `option("upsertKeys", "event_id")` on an
    * append makes the commit also record the batch's distinct keys as a
    * key file scoped (by per-file add-sequence) to strictly-older data
    * files — "replace these keys" lands without opening a single
    * committed byte, where o28's position-delta MERGE must scan for
    * (file, pos) every statement. The entry then runs the maintenance
    * half, `convertEqDeletes` (key files → ordinary deletion vectors,
    * restoring metadata-only COUNT and the change feed), and reads back
    * AFTER conversion — so the oracle checks both the upsert semantics
    * and the conversion's exactness in one hash. Proof columns:
    * `n_eq_keys` (the key file recorded exactly the batch's keys — a
    * scan-based path would have nothing to record) and
    * `n_vector_positions` (conversion found exactly the old rows those
    * keys cover). The zero-rewrite/zero-scan claims are require()'d on
    * the manifests: every base file carried byte-identical, no vectors
    * before conversion. */
  def o32EqualityDeletes(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val dirName = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9]", "_")
    val path = s"/tmp/graft_o32/$dirName/ev"
    graft.Tables.deleteRecursively(s"/tmp/graft_o32/$dirName")
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    ev.filter(col("event_id") % 2 === 0)
      .repartitionByRange(4, col("event_id"))
      .write.format(CommitSink.NAME).option("path", path).mode("overwrite").save()
    val before = CommitSink.parseManifest(java.nio.file.Paths.get(path)).get
    // the upsert batch: re-keyed rows for a quarter of the ids (all of
    // which exist in the base — they replace) — key-unique by fixture
    ev.filter(col("event_id") % 4 === 2)
      .select(col("event_id"), lit("upserted").as("event_type"),
        (col("value") + 1000.0).as("value"))
      .coalesce(1)
      .write.format(CommitSink.NAME).option("path", path)
      .option("upsertKeys", "event_id").mode("append").save()
    val mid = CommitSink.parseManifest(java.nio.file.Paths.get(path)).get
    require(before.files.forall(mid.files.contains) && mid.deletes.isEmpty,
      "o32: the upsert write must carry every base file and record no vectors")
    val eqKeys = mid.eqDeletes.map(_.nkeys).sum
    require(eqKeys > 0, "o32: the upsert commit must record its key file")
    // maintenance: equality -> positional, retiring every key file
    CommitSink.convertEqDeletes(spark, path)
    val after = CommitSink.parseManifest(java.nio.file.Paths.get(path)).get
    require(after.eqDeletes.isEmpty, "o32: conversion must retire key files")
    val positions = after.files.flatMap(after.deletes.get).map(_.ndel).sum
    CommitSink.readCommitted(spark, path)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("value")).as("total_value"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
      .withColumn("n_eq_keys", lit(eqKeys))
      .withColumn("n_vector_positions", lit(positions))
  }

  /** o33: CHANGE FEED OVER A COPY-ON-WRITE REWRITE —
    * [[graft.sources.CommitSink.changeFeedWithRewrites]], the snapshot-
    * diff fallback that closes o29's "MERGE under default COW produces
    * no feed" gap: expressible commits (appends, vector deletes) replay
    * through the ordinary CDF scan, and the COW UPDATE commit — whose
    * removed files the scan must refuse — is replayed as a GROUP-
    * GRANULAR diff (pre-image of the touched files EXCEPT ALL their
    * post-image = 'delete' rows; the reverse = 'insert' rows). The
    * UPDATE's modulo predicate makes the expected delta purely
    * value-defined (every %5 row's old and new versions, unchanged rows
    * cancel in the multiset diff), so the oracle replays all three
    * commits from the raw table with no layout dependence. */
  def o33CowChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val (dml, root) = scopedCatalog(spark, "o33", dir)
    val path = s"$root/default/ev"
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    ev.filter(col("event_id") % 2 === 1)
      .repartitionByRange(4, col("event_id"))
      .write.format(CommitSink.NAME).option("path", path).mode("overwrite").save()
    ev.filter(col("event_id") % 2 === 0)
      .write.format(CommitSink.NAME).option("path", path).mode("append").save()
    // the rewrite: a copy-on-write UPDATE (default rowLevelMode)
    dml.sql(s"UPDATE $cat.`default`.ev SET value = value + 100.0D " +
      "WHERE event_id % 5 = 0")
    CommitSink.changeFeedWithRewrites(spark, path, 0L)
      .groupBy(col("_change_type").as("change_type"),
        col("_commit_version").as("commit_version"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("value")).as("total_value"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
  }

  /** o34: the LAKEHOUSE THROUGH THE HADOOP `FileSystem` BINDING — the
    * r15 proof that [[CommitIO]] is a real seam, not a wrapper around
    * one filesystem: the whole table lifecycle below (range-partitioned
    * overwrite, equality-delete upsert, key→vector conversion, a
    * compaction rewrite, the read-back) runs with [[HadoopCommitIO]]
    * selected — every staged file, deletion vector, key file and
    * manifest byte through `org.apache.hadoop.fs` handles and
    * parquet-java's Hadoop{Input,Output}File, the exact classes an
    * S3A/HDFS deployment binds. Proof columns: `n_files` pins the
    * compacted layout (2), `n_live_eq` that compaction retired the key
    * file (0), `n_positions_converted` that the conversion vectored
    * exactly the upsert's key matches (layout-independent: the count of
    * %4==2 rows, whatever files they lived in). The oracle replays the
    * upsert relationally, so the binding must produce hash-identical
    * CONTENT, not merely run. The same binding also carries the entire
    * test battery via `sbt -Dgraft.commit.io=hadoop test`. */
  def o34HadoopIo(spark: SparkSession, dir: String): DataFrame =
    CommitSink.withIo(new HadoopCommitIO) {
      import org.apache.spark.sql.functions.{count, lit, max, min}
      val out = s"/tmp/graft_o34/${new java.io.File(dir).getName}"
      graft.Tables.deleteRecursively(out)
      val ev = graft.Tables.events(spark, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      ev.filter(col("event_id") % 2 === 0)
        .repartitionByRange(4, col("event_id"))
        .write.format(CommitSink.NAME).option("path", out)
        .mode("overwrite").save()
      ev.filter(col("event_id") % 4 === 2)
        .withColumn("event_type", lit("hup"))
        .withColumn("value", col("value") + lit(500.0d))
        .write.format(CommitSink.NAME).option("path", out)
        .option("upsertKeys", "event_id").mode("append").save()
      CommitSink.convertEqDeletes(spark, out)
      val converted = CommitSink.parseManifest(java.nio.file.Paths.get(out)).get
      val nPositions = converted.files
        .flatMap(converted.deletes.get).map(_.ndel).sum
      CommitSink.compact(spark, out, 2)
      val m = CommitSink.parseManifest(java.nio.file.Paths.get(out)).get
      val res = CommitSink.readCommitted(spark, out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          graft.Tables.dsum(col("value")).as("total_value"),
          min(col("event_id")).as("min_event_id"),
          max(col("event_id")).as("max_event_id"))
        .withColumn("n_files", lit(m.files.size.toLong))
        .withColumn("n_live_eq", lit(m.eqDeletes.size.toLong))
        .withColumn("n_positions_converted", lit(nPositions))
      // materialize INSIDE the binding scope — a lazy return would scan
      // under the restored NIO binding (the withIo contract)
      graft.Tables.materialize(res)
    }

  /** Planned (post zone-map prune) file count of a single-commit-scan
    * DataFrame — plan introspection only ([[CommitScan.plannedPartitions]]
    * runs the scan's planning, never its execution). Shared by the
    * clustering entries' prune-proof columns. */
  private def plannedFiles(df: DataFrame): Long =
    CommitScan.plannedPartitions(df).size.toLong

  /** Per-file [min, max] of a LONG column from the manifest's zone maps
    * (the stats the write recorded — no file is opened). */
  private def longRanges(m: CommitSink.Manifest, c: String): Seq[(Long, Long)] =
    m.files.flatMap(f => m.stats.get(f)).map(CommitSink.FileStat.decode)
      .flatMap(_.cols.get(c).map(r => (r.min.toLong, r.max.toLong)))

  /** o35: CLUSTERING REWRITE — [[CommitSink.compactAndCluster]],
    * Iceberg's rewriteDataFiles-with-sort-order / `WRITE ORDERED BY`:
    * the events table lands HASH-scattered (8 files, every file's
    * event_id range spans the whole id space — the zone maps prune
    * nothing), then one clustering rewrite re-lands it as 4
    * range-disjoint files. Proof columns, all layout-derived:
    * `planned_before`/`planned_after` are the PLANNER's file counts for
    * the same narrow range predicate on each layout (8 → 1: the range
    * sits strictly inside one clustered file's recorded zone, so the
    * prune is exact, not probabilistic), `n_files` the compacted
    * count, `disjoint` that the clustered zone maps are pairwise
    * non-overlapping — the property that makes every future range scan
    * selectivity-proportional and arms the DML group-prune subquery.
    * Content is untouched: the aggregate equals the oracle's replay
    * over raw events. At 100 TB this rewrite is what turns a
    * stream-ingested (arrival-ordered) table into a range-scannable
    * one — the second 100× after partition pruning. */
  def o35ClusterRewrite(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val out = s"/tmp/graft_o35/${new java.io.File(dir).getName}"
    graft.Tables.deleteRecursively(out)
    graft.Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
      .repartition(8)
      .write.format(CommitSink.NAME).option("path", out).mode("overwrite").save()
    val rewritten = CommitSink.compactAndCluster(spark, out, 4, Seq("event_id"))
    val m = CommitSink.parseManifest(java.nio.file.Paths.get(out)).get
    // the probe range: strictly inside ONE clustered file's zone — the
    // prune counts are then exact layout constants, not samples
    val ranges = longRanges(m, "event_id").sortBy(_._1)
    val (fLo, fHi) = ranges(1)
    val (lo, hi) = (fLo + (fHi - fLo) / 4, fLo + (fHi - fLo) / 2)
    def probe(version: Option[Long]): Long = {
      val r = spark.read.format(CommitSink.NAME).option("path", out)
      plannedFiles(version.fold(r)(v => r.option("versionAsOf", v)).load()
        .filter(col("event_id") >= lo && col("event_id") < hi))
    }
    val disjoint = ranges.sliding(2).forall {
      case Seq((_, aHi), (bLo, _)) => aHi < bLo
      case _ => true
    }
    CommitSink.readCommitted(spark, out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("value")).as("total_value"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
      .withColumn("n_files", lit(m.files.size.toLong))
      .withColumn("n_rewritten", lit(rewritten.size.toLong))
      .withColumn("disjoint", lit(if (disjoint) 1L else 0L))
      .withColumn("planned_before", lit(probe(Some(0L))))
      .withColumn("planned_after", lit(probe(None)))
  }

  /** o36: Z-ORDER REWRITE — the multi-dimensional clustering variant
    * (Delta's `OPTIMIZE ... ZORDER BY`): (event_id, user_id) normalize
    * to 16-bit coordinates whose bits interleave into one z-value the
    * rewrite clusters on, so EVERY file covers a bounded box in BOTH
    * dimensions — the property a lexicographic sort cannot give the
    * trailing column. Unlike a sampled z-range binning (where a
    * boundary sliver straddling a z-cell poisons the file's min/max
    * zone to the full dimension), the rewrite routes each
    * deterministic z-CELL to its own file (see compactAndCluster), so
    * the bound holds for every file, not just on average. Proof
    * columns: `bounded_both_dims` asserts every file's zone covers
    * < 3/4 of each dimension's span (8 z-files = 3 interleaved bits:
    * user quarters × event halves here), and `box_pruned` that a
    * quarter×quarter box predicate plans strictly fewer files than
    * the layout holds — the multi-dim prune the rewrite exists for.
    * Exact per-fixture pins (planned counts, subset targeting, carry,
    * quadrant-exact spans) live in Round15Spec; the oracle checks the
    * full CONTENT and these layout booleans. */
  def o36ZorderRewrite(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val out = s"/tmp/graft_o36/${new java.io.File(dir).getName}"
    graft.Tables.deleteRecursively(out)
    graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .repartition(8)
      .write.format(CommitSink.NAME).option("path", out).mode("overwrite").save()
    CommitSink.compactAndCluster(spark, out, 8, Seq("event_id", "user_id"),
      zOrder = true)
    val m = CommitSink.parseManifest(java.nio.file.Paths.get(out)).get
    val bounded = Seq("event_id", "user_id").forall { c =>
      val rs = longRanges(m, c)
      val (lo, hi) = (rs.map(_._1).min, rs.map(_._2).max)
      val span = (hi - lo).max(1L)
      // every file: the exact z-cell routing leaves no straddle slack
      rs.forall { case (a, b) => (b - a).toDouble / span < 0.75 }
    }
    val idRs = longRanges(m, "event_id")
    val uidRs = longRanges(m, "user_id")
    val (idLo, idHi) = (idRs.map(_._1).min, idRs.map(_._2).max)
    val (uLo, uHi) = (uidRs.map(_._1).min, uidRs.map(_._2).max)
    val boxPlanned = plannedFiles(
      spark.read.format(CommitSink.NAME).option("path", out).load()
        .filter(col("event_id") < idLo + (idHi - idLo) / 4 &&
          col("user_id") < uLo + (uHi - uLo) / 4))
    CommitSink.readCommitted(spark, out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("value")).as("total_value"),
        min(col("event_id")).as("min_event_id"),
        max(col("user_id")).as("max_user_id"))
      .withColumn("n_files", lit(m.files.size.toLong))
      .withColumn("bounded_both_dims", lit(if (bounded) 1L else 0L))
      .withColumn("box_pruned",
        lit(if (boxPlanned < m.files.size) 1L else 0L))
  }

  /** o37: PARTITION EVOLUTION — [[CommitSink.evolvePartitioning]],
    * Iceberg's partition-spec evolution: the unpartitioned events
    * table evolves to identity-partitioning on a bucket column in one
    * METADATA-ONLY commit (files carried byte-identical, stale
    * partition keys stripped — the correctness core: an old key under
    * the new column would group files wrongly), appends immediately
    * land under the NEW layout (mixed-layout table reads stay correct
    * on per-file planning), and one [[CommitSink.compact]] pass
    * migrates every file — one key per file, SPJ and per-key pruning
    * restored. Proof columns: `v1_metadata_only` (the evolution commit
    * lists exactly v0's files), `v2_mixed_layout` (carried files have
    * no key, appended files do), `n_files_migrated` (one per bucket),
    * `planned_one_bucket` (a bucket predicate plans exactly one file
    * post-migration). The 100 TB story: "we partitioned on the wrong
    * key" becomes a metadata flip + incremental migration instead of a
    * stop-the-world re-land — queries keep running throughout. */
  def o37PartitionEvolution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val out = s"/tmp/graft_o37/${new java.io.File(dir).getName}"
    graft.Tables.deleteRecursively(out)
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), (col("user_id") % 8).as("bucket"),
        col("event_type"), col("value"))
    ev.filter(col("event_id") % 2 === 0)
      .repartitionByRange(4, col("event_id"))
      .write.format(CommitSink.NAME).option("path", out).mode("overwrite").save()
    val m0 = CommitSink.parseManifest(java.nio.file.Paths.get(out)).get
    CommitSink.evolvePartitioning(spark, out, Some("bucket"))
    val m1 = CommitSink.parseManifest(java.nio.file.Paths.get(out)).get
    def pkOf(m: CommitSink.Manifest): Seq[Boolean] =
      m.files.flatMap(f => m.stats.get(f))
        .map(e => CommitSink.FileStat.decode(e).pk.isDefined)
    ev.filter(col("event_id") % 2 === 1)
      .write.format(CommitSink.NAME).option("path", out)
      .option("partitionBy", "bucket").mode("append").save()
    val m2 = CommitSink.parseManifest(java.nio.file.Paths.get(out)).get
    CommitSink.compact(spark, out, 1)
    val m3 = CommitSink.parseManifest(java.nio.file.Paths.get(out)).get
    val planned = plannedFiles(
      spark.read.format(CommitSink.NAME).option("path", out).load()
        .filter(col("bucket") === 3L))
    CommitSink.readCommitted(spark, out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("value")).as("total_value"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
      .withColumn("v1_metadata_only",
        lit(if (m1.files == m0.files && m1.partCol.contains("bucket") &&
          pkOf(m1).forall(!_)) 1L else 0L))
      .withColumn("v2_mixed_layout",
        lit(if (pkOf(m2).exists(identity) && pkOf(m2).exists(!_)) 1L else 0L))
      .withColumn("n_files_migrated", lit(m3.files.size.toLong))
      .withColumn("planned_one_bucket", lit(planned))
  }

  /** o38: BLOOM FILE INDEX — [[CommitSink.buildBloomIndex]], Delta's
    * bloom-filter index as a maintenance op: the events table lands
    * HASH-scattered on purpose (8 files, user_id everywhere — zone maps
    * cannot prune a point lookup), one distributed pass records a
    * per-file bloom sidecar for user_id, and the planner then answers
    * `user_id = ?` by opening only the files whose bloom might contain
    * the key. The committed content is the EVEN-user_id subset so the
    * absent probe (an odd key between min and max) sits inside every
    * file's zone range — the prune can only come from the blooms, never
    * from zone maps (r15 ADVICE: the old max+12345 probe was out of
    * range, so zone maps answered and the entry never exercised the
    * bloom path). Proof columns: `bloom_prunes_absent` (the absent key
    * plans ≤ 2 of 8 files — ≤, not =, because a bloom's false
    * positives are part of its contract; 0 is the common case),
    * `present_planned` (a real key still plans somewhere), and
    * `n_absent_rows` (the residual filter keeps correctness whatever
    * the prune did). At 100 TB this is the "find one document by id
    * without clustering on id" path — KBs of sidecar per file, loaded
    * at planning only for zone-surviving files under an equality
    * predicate on an indexed column. */
  def o38BloomIndex(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val out = s"/tmp/graft_o38/${new java.io.File(dir).getName}"
    graft.Tables.deleteRecursively(out)
    // EVEN user_ids only: the absent probe is then an ODD key sitting
    // INSIDE every file's zone range, so zone maps alone cannot plan it
    // away and the prune proof exercises the BLOOM (the Round15Spec
    // device — an out-of-range probe would let zone maps answer and
    // never touch the sidecars)
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .filter(col("user_id") % 2 === 0)
    ev.repartition(8)
      .write.format(CommitSink.NAME).option("path", out).mode("overwrite").save()
    val indexed = CommitSink.buildBloomIndex(spark, out, Seq("user_id"),
      fpp = 0.01, expectedItemsPerFile = 100000L)
    require(indexed.size == 8, s"all 8 files indexed, got ${indexed.size}")
    val r = ev.agg(min(col("user_id")), max(col("user_id"))).head()
    require(r.getLong(1) >= r.getLong(0) + 2, "fixture needs an in-range odd gap")
    val (present, absent) = (r.getLong(0), r.getLong(0) + 1L)
    def read() = spark.read.format(CommitSink.NAME).option("path", out).load()
    val plannedAbsent = plannedFiles(read().filter(col("user_id") === absent))
    val plannedPresent = plannedFiles(read().filter(col("user_id") === present))
    val absentRows = read().filter(col("user_id") === absent).count()
    CommitSink.readCommitted(spark, out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("value")).as("total_value"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
      .withColumn("n_absent_rows", lit(absentRows))
      .withColumn("bloom_prunes_absent",
        lit(if (plannedAbsent <= 2L) 1L else 0L))
      .withColumn("present_planned",
        lit(if (plannedPresent >= 1L) 1L else 0L))
  }

  /** o39: PARTITIONED SORT-ORDER REWRITE — [[CommitSink
    * .compactAndCluster]] on an identity-partitioned table (Iceberg's
    * `ALTER ... WRITE ORDERED BY` within the partition spec): the
    * events table lands one-file-per-bucket, so an event_id range scan
    * within a bucket must read the bucket's whole file; the rewrite
    * range-splits each key into event_id-disjoint sub-files (the
    * `preShaped` write skips the partitioned writer's own shuffle —
    * Spark re-clustering would destroy the secondary split) while
    * every file still holds exactly ONE key, so the SPJ grouping and
    * per-key pruning survive. Proof columns: `single_key_files` (the
    * layout invariant), `disjoint_within_key` (each bucket's sub-files
    * carve disjoint event_id slices), `split_keys` (the rewrite
    * actually multiplied files), `planned_point` (a (bucket, narrow
    * range) probe plans exactly ONE file — derived from the rewritten
    * manifest's own zones, so the count is exact). At 100 TB: a date
    * range inside one tenant's partition reads slices, not the tenant's
    * terabytes. */
  def o39PartitionedCluster(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val out = s"/tmp/graft_o39/${new java.io.File(dir).getName}"
    graft.Tables.deleteRecursively(out)
    graft.Tables.events(spark, dir)
      .select(col("event_id"), (col("user_id") % 4).as("bucket"),
        col("event_type"), col("value"))
      .write.format(CommitSink.NAME).option("path", out)
      .option("partitionBy", "bucket").mode("overwrite").save()
    CommitSink.compactAndCluster(spark, out, 8, Seq("event_id"))
    val m = CommitSink.parseManifest(java.nio.file.Paths.get(out)).get
    val stats = m.files.map(f => CommitSink.FileStat.decode(m.stats(f)))
    val singleKey = stats.forall(_.pk.isDefined)
    val perKey = stats.groupBy(_.pk.getOrElse(-1L)).view.mapValues(
      _.flatMap(_.cols.get("event_id"))
        .map(r => (r.min.toLong, r.max.toLong)).sortBy(_._1)).toMap
    val disjoint = perKey.values.forall(rs => rs.sliding(2).forall {
      case Seq((_, aHi), (bLo, _)) => aHi < bLo
      case _ => true
    })
    // a probe strictly inside ONE sub-file's zone for bucket 1
    val (fLo, fHi) = perKey(1L).head
    val (lo, hi) = (fLo + (fHi - fLo) / 4, fLo + (fHi - fLo) / 2)
    val planned = plannedFiles(
      spark.read.format(CommitSink.NAME).option("path", out).load()
        .filter(col("bucket") === 1L &&
          col("event_id") >= lo && col("event_id") < hi))
    CommitSink.readCommitted(spark, out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("value")).as("total_value"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
      .withColumn("single_key_files", lit(if (singleKey) 1L else 0L))
      .withColumn("disjoint_within_key", lit(if (disjoint) 1L else 0L))
      .withColumn("split_keys",
        lit(if (m.files.size > 4) 1L else 0L))
      .withColumn("planned_point", lit(planned))
  }

  /** o40: BUCKET-TRANSFORM PARTITIONING — Iceberg's `bucket(N, col)`
    * ([[BucketFunction]], the published murmur3 transform), the
    * scale-correct form of o16/o37: identity partitioning on a
    * HIGH-CARDINALITY key lands one file per key (absurd at 10⁹ user
    * ids), while `PARTITIONED BY (bucket(8, user_id))` bounds the file
    * count at 8 per write with every file holding exactly ONE bucket id.
    * Both tables here are CATALOG tables (Iceberg's arrangement): the
    * catalog's FunctionCatalog face serves the canonical `bucket`
    * function, which is what lets Spark plan the INSERT's clustered
    * distribution and align the two scans' KeyGroupedPartitionings into
    * a storage-partitioned join — the fact⋈dim equi-join on user_id
    * runs with ZERO exchange on either side (`spj_zero_exchange`).
    * Equality predicates on the key project onto the bucket id
    * (Iceberg's partition-predicate projection), so a point lookup
    * plans exactly one bucket group (`planned_point`) where zone maps
    * are structurally blind (every bucket file's key range spans
    * everything — the hash scatters on purpose). At 100 TB: the join
    * shuffle for every fact⋈fact / fact⋈dim on the bucketed key is
    * paid ONCE at write time, and re-bucketing arrives via o37
    * evolution + compact migration, not a stop-the-world re-land. */
  def o40BucketPartitioning(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, sum}
    // the join-shaping confs serve the SPJ readout; nothing else here
    // plans a join
    val (lake, root) = scopedCatalog(spark, "o40", dir,
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    lake.sql(s"CREATE TABLE $cat.`default`.fact (event_id BIGINT, " +
      "user_id BIGINT, event_type STRING, value DOUBLE) " +
      "PARTITIONED BY (bucket(8, user_id))")
    lake.sql(s"CREATE TABLE $cat.`default`.dim (user_id BIGINT, " +
      "segment BIGINT) PARTITIONED BY (bucket(8, user_id))")
    graft.Tables.events(lake, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .createOrReplaceTempView("o40_events_src")
    // fact and dim land concurrently — independent tables (guide §2.6)
    graft.Tables.inParallel(
      () => lake.sql(s"INSERT INTO $cat.`default`.fact " +
        "SELECT event_id, user_id, event_type, value FROM o40_events_src"),
      () => lake.sql(s"INSERT INTO $cat.`default`.dim " +
        "SELECT DISTINCT user_id, user_id % 10 AS segment FROM o40_events_src"))
    // layout proof: bounded file count, one bucket id per file, and the
    // recorded id is the Iceberg transform of the file's rows
    def layoutOk(tbl: String): Boolean = {
      val m = CommitSink.parseManifest(java.nio.file.Paths.get(s"$root/default/$tbl")).get
      m.partCol.contains("bucket(8,user_id)") &&
        m.files.nonEmpty && m.files.size <= 8 &&
        m.files.forall(f => CommitSink.FileStat.decode(m.stats(f)).pk
          .exists(k => k >= 0 && k < 8))
    }
    val bounded = layoutOk("fact") && layoutOk("dim")
    val joined = lake.sql(
      s"SELECT f.event_type, f.value, d.segment FROM $cat.`default`.fact f " +
        s"JOIN $cat.`default`.dim d ON f.user_id = d.user_id")
    val zeroExchange = !joined.queryExecution.executedPlan.toString.contains("Exchange")
    // point prune: an equality on the bucket source column plans ONE
    // bucket group (the predicate projects onto the recorded bucket id)
    val probeKey = lake.table(s"$cat.`default`.fact")
      .agg(org.apache.spark.sql.functions.min(col("user_id"))).head().getLong(0)
    val planned = plannedFiles(
      lake.table(s"$cat.`default`.fact").filter(col("user_id") === probeKey))
    joined.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("value")).as("total_value"),
        sum(col("segment")).as("seg_sum"))
      .withColumn("files_bounded", lit(if (bounded) 1L else 0L))
      .withColumn("spj_zero_exchange", lit(if (zeroExchange) 1L else 0L))
      .withColumn("planned_point", lit(planned))
  }

  /** o41: WRITE-AUDIT-PUBLISH + TAGS — Iceberg's refs workflow over the
    * version ledger: a write with `option("stageOnly", true)` lands its
    * full immutable version manifest WITHOUT moving main (readers are
    * unaffected — the staged data is invisible), auditors read exactly
    * that version via `versionAsOf`/a named TAG, and
    * [[CommitSink.publishStaged]] fast-forwards main to it atomically
    * once the audit passes (refusing if another commit landed meanwhile
    * — re-stage, never cherry-pick stale content). Tags are named
    * version pins AND retention roots: [[CommitSink.expireVersions]]
    * never drops a tagged version, so `VERSION AS OF 'pre-wap'` stays
    * answerable after aggressive expiry. At 100 TB this is how a
    * training-data pipeline gates ingest: land the candidate corpus,
    * run the contamination/dedup audits against the staged version,
    * publish on green — main never serves unaudited rows. Proof
    * columns: `pre_publish_rows` (main's count while staged),
    * `staged_invisible` (main did not move on stage),
    * `audit_saw_all` (the staged version read the full candidate set),
    * `tag_protects` (the pre-WAP tag survives keepLast=1 expiry). */
  def o41WriteAuditPublish(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val out = s"/tmp/graft_o41/${new java.io.File(dir).getName}"
    graft.Tables.deleteRecursively(out)
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    ev.filter(col("event_id") % 2 === 0)
      .write.format(CommitSink.NAME).option("path", out).mode("overwrite").save()
    val preRows = CommitSink.readCommitted(spark, out).count()
    // pre-WAP tag: a retention root on version 0
    CommitSink.createTag(out, "pre-wap", 0L)
    // stage the odd half: version 1 exists, main stays at 0
    ev.filter(col("event_id") % 2 === 1)
      .write.format(CommitSink.NAME).option("path", out)
      .option("stageOnly", "true").mode("append").save()
    val mainWhileStaged = CommitSink.readCommitted(spark, out).count()
    val auditRows = spark.read.format(CommitSink.NAME).option("path", out)
      .option("versionAsOf", 1).load().count()
    val total = ev.count()
    // audit green → publish (fast-forward main to the staged version)
    CommitSink.publishStaged(out, 1L)
    // aggressive expiry: keepLast=1 would drop version 0, but the tag
    // pins it — the pre-WAP snapshot stays time-travel readable
    CommitSink.expireVersions(out, keepLast = 1)
    val taggedRows = spark.read.format(CommitSink.NAME).option("path", out)
      .option("tagAsOf", "pre-wap").load().count()
    CommitSink.readCommitted(spark, out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("value")).as("total_value"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
      .withColumn("pre_publish_rows", lit(preRows))
      .withColumn("staged_invisible",
        lit(if (mainWhileStaged == preRows) 1L else 0L))
      .withColumn("audit_saw_all", lit(if (auditRows == total) 1L else 0L))
      .withColumn("tag_protects", lit(if (taggedRows == preRows) 1L else 0L))
  }

  /** o42: TRUNCATE/DAYS PARTITION TRANSFORMS — the rest of the Iceberg
    * transform family ([[CommitSink.PartSpec]]): `days(ts)` lands the
    * events table one FILE GROUP PER DAY (the time-series layout: a
    * date-range scan plans day groups, not the corpus), and
    * `truncate(w, event_id)` lands contiguous w-wide id bands. Both
    * transforms are MONOTONE, so the write plans an ORDERED (range)
    * distribution on the raw column — value-sorted tasks keep every
    * transformed key contiguous for the rolling writer, no function
    * resolution anywhere, and zone maps keep doing range/point pruning
    * (unlike bucket, order survives the transform). Proof columns:
    * `one_day_per_file` (every file's recorded pk is its rows' epoch
    * day), `planned_day` (a one-day time filter plans only that day's
    * group), `band_planned` (a point probe on the truncate table plans
    * one band). At 100 TB this is ingest-by-date partitioning — the
    * first 100× of every time-scoped query — without one-file-per-
    * timestamp, plus o37 evolution to re-derive either layout. */
  def o42TemporalTransforms(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, countDistinct, lit, max, min, to_date}
    val out = s"/tmp/graft_o42/${new java.io.File(dir).getName}"
    val outT = s"$out-trunc"
    graft.Tables.deleteRecursively(out)
    graft.Tables.deleteRecursively(outT)
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    // two independent layout writes (distinct tables) run concurrently:
    // guide §2.6 — the truncate table's 100 one-band files are commit
    // metadata ops that alone leave the cores idle; the days write
    // overlaps them instead of waiting behind them
    graft.Tables.inParallel(
      () => ev.write.format(CommitSink.NAME).option("path", out)
        .option("partitionBy", "days(ts)").mode("overwrite").save(),
      () => ev.select(col("event_id"), col("value"))
        .write.format(CommitSink.NAME).option("path", outT)
        .option("partitionBy", "truncate(1000, event_id)").mode("overwrite").save())
    val m = CommitSink.parseManifest(java.nio.file.Paths.get(out)).get
    // every file records its day; the day is the file's ts range's day
    val oneDayPerFile = m.files.forall { f =>
      val st = CommitSink.FileStat.decode(m.stats(f))
      st.pk.isDefined && st.cols.get("ts").forall { r =>
        Math.floorDiv(r.min.toLong, 86400000000L) == st.pk.get &&
          Math.floorDiv(r.max.toLong, 86400000000L) == st.pk.get
      }
    }
    def read() = spark.read.format(CommitSink.NAME).option("path", out).load()
    // the middle day: [min+2d, min+3d) — a one-day scan plans its group
    // (NTZ columns surface as LocalDateTime on the driver)
    val lo = ev.agg(min(col("ts"))).head().getAs[java.time.LocalDateTime](0)
    val dayLo = lo.toLocalDate.plusDays(2).atStartOfDay()
    val dayHi = dayLo.plusDays(1)
    val planned = plannedFiles(read().filter(
      col("ts") >= lit(dayLo) && col("ts") < lit(dayHi)))
    val dayGroup = m.files.count { f =>
      CommitSink.FileStat.decode(m.stats(f)).pk
        .contains(dayLo.toLocalDate.toEpochDay)
    }
    // point probe on the truncated table: one 1000-wide band
    val bandPlanned = plannedFiles(
      spark.read.format(CommitSink.NAME).option("path", outT).load()
        .filter(col("event_id") === 4242L))
    CommitSink.readCommitted(spark, out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("value")).as("total_value"),
        countDistinct(to_date(col("ts"))).as("n_days"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
      .withColumn("one_day_per_file", lit(if (oneDayPerFile) 1L else 0L))
      .withColumn("planned_day",
        lit(if (planned == dayGroup && planned >= 1) 1L else 0L))
      .withColumn("band_planned", lit(if (bandPlanned == 1L) 1L else 0L))
  }

  /** o43: METADATA INSPECTION TABLES ([[CommitMeta]]) — Iceberg's
    * `table$files`/`$history`/`$manifests` surface: the version ledger,
    * per-file stats, and delete inventory as queryable DataFrames. The
    * fixture lands events identity-partitioned by `k = event_id % 4`
    * (4 one-key files), appends the `event_id % 3 = 0` subset (4 more —
    * multiples of 3 cover every residue mod 4), with the two-level
    * manifest forced (group size 3 → the 8-file version roots 3 group
    * manifests). Output grain: one row per partition key from the
    * `$files` meta — file count and summed meta rows are replayed by
    * the oracle from raw data; the booleans pin the inventory contract
    * (positive byte counts, add-sequences {0,1} per key, clean dv/eq
    * inventory, a 2-version history whose totals match the data, and a
    * root+3-group manifest fan-out). At 100 TB this surface is the
    * daily ops read — "how many files, which versions, is compaction
    * due" — answered from manifest-granular rows, never a data scan. */
  def o43MetadataTables(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, countDistinct, lit, max, min, sum}
    val out = s"/tmp/graft_o43/${new java.io.File(dir).getName}"
    graft.Tables.deleteRecursively(out)
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), (col("event_id") % 4).as("k"),
        col("event_type"), col("value"))
    // force the two-level root so $manifests shows real group fan-out
    // (scoped: property read per writeManifest call, restored in finally)
    val prevGroup = System.getProperty("graft.manifest.group.size")
    try {
      System.setProperty("graft.manifest.group.size", "3")
      ev.write.format(CommitSink.NAME).option("path", out)
        .option("partitionBy", "k").mode("overwrite").save()
      ev.filter(col("event_id") % 3 === 0)
        .write.format(CommitSink.NAME).option("path", out)
        .option("partitionBy", "k").mode("append").save()
    } finally {
      if (prevGroup == null) System.clearProperty("graft.manifest.group.size")
      else System.setProperty("graft.manifest.group.size", prevGroup)
    }
    def meta(kind: String) = spark.read.format(CommitSink.NAME)
      .option("path", out).option("metaTable", kind).load()
    // ground truth for the history proof (events is cached in bench)
    val baseRows = ev.count()
    val subRows = ev.filter(col("event_id") % 3 === 0).count()
    val hist = meta("history")
      .select("version", "n_files", "total_rows", "is_staged", "is_current")
      .collect().sortBy(_.getLong(0))
    val historyOk = hist.length == 2 &&
      hist(0).getLong(1) == 4 && hist(0).getLong(2) == baseRows &&
      !hist(0).getBoolean(3) && !hist(0).getBoolean(4) &&
      hist(1).getLong(1) == 8 && hist(1).getLong(2) == baseRows + subRows &&
      !hist(1).getBoolean(3) && hist(1).getBoolean(4)
    val mans = meta("manifests").collect()
    val roots = mans.filter(_.getString(1) == "root")
    val groups = mans.filter(_.getString(1) == "group")
    val manifestsOk = roots.length == 1 && groups.length == 3 &&
      roots(0).getLong(2) == 8 && groups.map(_.getLong(2)).sum == 8 &&
      groups.map(_.getLong(3)).sum == roots(0).getLong(3) &&
      roots(0).getLong(3) == baseRows + subRows
    meta("files")
      .groupBy(col("part_key"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("rows")).as("meta_rows"),
        (min(col("bytes")) > 0).cast("long").as("bytes_positive"),
        (countDistinct(col("seq")) === 2 &&
          min(col("seq")) === 0 && max(col("seq")) === 1)
          .cast("long").as("seq_ok"),
        (max(col("dv_deleted")) === 0 && max(col("n_eq_deletes")) === 0 &&
          max(col("n_bloom_cols")) === 0)
          .cast("long").as("clean_inventory"))
      .withColumn("n_versions", lit(hist.length.toLong))
      .withColumn("history_ok", lit(if (historyOk) 1L else 0L))
      .withColumn("manifests_ok", lit(if (manifestsOk) 1L else 0L))
  }

  /** o44: WRITABLE BRANCHES over the refs ledger ([[CommitSink
    * .createBranch]]/[[CommitSink.publishBranch]], Iceberg's branch
    * refs): `option("branch", name)` reads the branch HEAD and commits
    * onto it — main's manifest never moves — and publish fast-forwards
    * main to the head, refusing when main diverged past the fork base
    * (a forced publish would silently drop main's commit — the same
    * CAS argument as o41's staged publish, which this re-uses). The
    * fixture: the even half lands on main (v0); branch `exp` forks v0
    * and takes the odd half (v1) — main still reads the even half
    * (isolation), the branch reads everything; publish fast-forwards
    * main to v1; then branch `exp2` forks v1, main moves (the %3
    * append, v2), the branch takes the %5 subset (v3), and its publish
    * REFUSES. At 100 TB this is the experimentation workflow: land a
    * risky backfill on a branch, validate it with the same queries
    * (and o43's metadata tables), publish atomically or drop it — no
    * table copy, no main downtime. */
  def o44Branches(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val out = s"/tmp/graft_o44/${new java.io.File(dir).getName}"
    graft.Tables.deleteRecursively(out)
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    ev.filter(col("event_id") % 2 === 0)
      .write.format(CommitSink.NAME).option("path", out).mode("overwrite").save()
    val mainRows = CommitSink.readCommitted(spark, out).count()
    CommitSink.createBranch(out, "exp", 0L)
    ev.filter(col("event_id") % 2 === 1)
      .write.format(CommitSink.NAME).option("path", out)
      .option("branch", "exp").mode("append").save()
    val total = ev.count()
    val mainWhileBranched = CommitSink.readCommitted(spark, out).count()
    val branchRows = spark.read.format(CommitSink.NAME).option("path", out)
      .option("branch", "exp").load().count()
    // audit green: fast-forward main to the branch head
    CommitSink.publishBranch(out, "exp")
    val mainAfterPublish = CommitSink.readCommitted(spark, out).count()
    // divergence: exp2 forks v1, main moves first, publish must refuse
    CommitSink.createBranch(out, "exp2", 1L)
    ev.filter(col("event_id") % 3 === 0)
      .write.format(CommitSink.NAME).option("path", out).mode("append").save()
    ev.filter(col("event_id") % 5 === 0)
      .write.format(CommitSink.NAME).option("path", out)
      .option("branch", "exp2").mode("append").save()
    val refused =
      try { CommitSink.publishBranch(out, "exp2"); false }
      catch { case _: CommitSink.ConcurrentCommitException => true }
    CommitSink.readCommitted(spark, out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("value")).as("total_value"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
      .withColumn("branch_isolated",
        lit(if (mainWhileBranched == mainRows) 1L else 0L))
      .withColumn("branch_saw_all", lit(if (branchRows == total) 1L else 0L))
      .withColumn("publish_ff", lit(if (mainAfterPublish == total) 1L else 0L))
      .withColumn("divergent_refused", lit(if (refused) 1L else 0L))
  }

  /** o45: YEARS/MONTHS TRANSFORMS + TEMPORAL PREDICATE PROJECTION —
    * the rest of the Iceberg temporal family over [[CommitSink
    * .PartSpec]] (o42 landed truncate/days): `months(o_orderdate)` and
    * `years(o_orderdate)` lay orders out one file group per month/year
    * (ordered distribution — both transforms are monotone), and pushed
    * point/RANGE predicates on the source timestamp now PROJECT onto
    * the recorded partition keys ([[CommitSink.keyIntervalOf]],
    * Iceberg's inclusive projection) the way o40 projects equality
    * onto bucket ids. The key-only proof is strict: a second manifest
    * version is committed with every `o_orderdate` zone entry STRIPPED
    * (rows/bytes/pk kept), and a one-month BETWEEN still plans exactly
    * the month's files — pruning that can only have come from the key
    * projection, zone maps had nothing to read. Group manifests carry
    * a `_graft_pk` key-span summary, so at 100 TB a `ts BETWEEN` plans
    * month GROUPS from the root alone — partition pruning before any
    * per-file metadata is touched, the first 100× of every time-scoped
    * query. */
  def o45TemporalProjection(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, countDistinct, lit, max, min, month, year}
    val out = s"/tmp/graft_o45/${new java.io.File(dir).getName}"
    val outY = s"$out-years"
    graft.Tables.deleteRecursively(out)
    graft.Tables.deleteRecursively(outY)
    val od = graft.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"), col("o_orderpriority"))
    // the months and years tables are independent: write them
    // concurrently (guide §2.6, see o42)
    graft.Tables.inParallel(
      () => od.write.format(CommitSink.NAME).option("path", out)
        .option("partitionBy", "months(o_orderdate)").mode("overwrite").save(),
      () => od.write.format(CommitSink.NAME).option("path", outY)
        .option("partitionBy", "years(o_orderdate)").mode("overwrite").save())
    val m = CommitSink.parseManifest(java.nio.file.Paths.get(out)).get
    def monthOrd(micros: Long): Long = {
      val d = java.time.LocalDate.ofEpochDay(Math.floorDiv(micros, 86400000000L))
      (d.getYear - 1970).toLong * 12 + (d.getMonthValue - 1)
    }
    // every file records its month, and its date range sits inside it
    val oneMonthPerFile = m.files.nonEmpty && m.files.forall { f =>
      val st = CommitSink.FileStat.decode(m.stats(f))
      st.pk.isDefined && st.cols.get("o_orderdate").forall { r =>
        monthOrd(r.min.toLong) == st.pk.get && monthOrd(r.max.toLong) == st.pk.get
      }
    }
    val march97 = 27L * 12 + 2 // months(1997-03) — Iceberg's ordinal
    val marchFiles = m.files.count(f =>
      CommitSink.FileStat.decode(m.stats(f)).pk.contains(march97))
    val lo = java.time.LocalDateTime.of(1997, 3, 1, 0, 0)
    val hi = java.time.LocalDateTime.of(1997, 3, 31, 23, 59, 59)
    def probe(path: String) = plannedFiles(
      spark.read.format(CommitSink.NAME).option("path", path).load()
        .filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") <= lit(hi)))
    val monthPlanned = probe(out) == marchFiles && marchFiles >= 1
    // the STRICT proof: strip every o_orderdate zone entry (keep
    // rows/bytes/pk) and commit it as the next version — the re-probe
    // can only prune through the key projection
    val stripped = m.stats.map { case (f, e) =>
      val st = CommitSink.FileStat.decode(e)
      f -> st.copy(cols = st.cols - "o_orderdate").encode
    }
    CommitSink.writeManifest(java.nio.file.Paths.get(out), m.ddl, m.files,
      m.commit + 1, m.epochs, expectedPrev = m.commit, partCol = m.partCol,
      stats = stripped, tableId = m.tableId,
      fileSeq = m.fileSeq)
    val keyOnlyPlanned = probe(out) == marchFiles
    // years table: a point predicate projects to one year's files
    val mY = CommitSink.parseManifest(java.nio.file.Paths.get(outY)).get
    val y1999Files = mY.files.count(f =>
      CommitSink.FileStat.decode(mY.stats(f)).pk.contains(29L))
    val yearPlanned = plannedFiles(
      spark.read.format(CommitSink.NAME).option("path", outY).load()
        .filter(col("o_orderdate") >=
            lit(java.time.LocalDateTime.of(1999, 1, 1, 0, 0)) &&
          col("o_orderdate") <
            lit(java.time.LocalDateTime.of(1999, 12, 31, 23, 59, 59)))
      ) == y1999Files && y1999Files >= 1
    CommitSink.readCommitted(spark, out)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("o_totalprice")).as("total_price"),
        countDistinct(year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .as("n_months"),
        min(col("o_orderkey")).as("min_orderkey"),
        max(col("o_orderkey")).as("max_orderkey"))
      .withColumn("march_key", lit(march97))
      .withColumn("one_month_per_file", lit(if (oneMonthPerFile) 1L else 0L))
      .withColumn("month_planned", lit(if (monthPlanned) 1L else 0L))
      .withColumn("key_only_planned", lit(if (keyOnlyPlanned) 1L else 0L))
      .withColumn("year_planned", lit(if (yearPlanned) 1L else 0L))
  }

  /** o46: MULTI-TRANSFORM PARTITION SPECS — `PARTITIONED BY (days(ts),
    * bucket(4, user_id))`, THE standard 100 TB fact-table layout (time
    * for retention/range scans × key for point lookups and bounded file
    * counts). The catalog's FunctionCatalog now serves days/months/
    * years/truncate beside bucket ([[TransformFunctions]], Iceberg's
    * SparkFunctions arrangement), which is what lets Spark resolve the
    * INSERT's CLUSTERED distribution over every component; the rolling
    * writer rolls per COMPOSITE key and records the full key vector
    * (leading key + `pkr` rest) in each file's stats; scans plan one
    * partition per composite group and prune each dimension
    * INDEPENDENTLY through the o45 key projection — a one-day range
    * plans that day's ≤4 bucket files, adding a user point predicate
    * plans exactly the (day, bucket) file, with zero zone-map
    * involvement on the hash dimension. Maintenance (compact/cluster)
    * and row-level DML refuse multi layouts with named errors for now
    * (rewrite through INSERT OVERWRITE); single-transform behavior is
    * byte-identical. Proof columns: every file carries a 2-key vector
    * whose day matches its ts range and whose bucket is in [0,4);
    * file count ≤ days×4; the day plan and the (day, user) point plan
    * match the manifest's own composite inventory. */
  def o46MultiTransform(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, countDistinct, lit, max, min, to_date}
    val (lake, root) = scopedCatalog(spark, "o46", dir)
    val path = s"$root/default/ev"
    lake.sql(s"CREATE TABLE $cat.`default`.ev (event_id BIGINT, " +
      "ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, value DOUBLE) " +
      "USING `graft-commit` PARTITIONED BY (days(ts), bucket(4, user_id))")
    graft.Tables.events(lake, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .createOrReplaceTempView("o46_src")
    lake.sql(s"INSERT INTO $cat.`default`.ev SELECT * FROM o46_src")
    val m = CommitSink.parseManifest(java.nio.file.Paths.get(path)).get
    def stat(f: String) = CommitSink.FileStat.decode(m.stats(f))
    // every file: a full 2-key vector, day == its ts range's day,
    // bucket id in range
    val composite = m.files.nonEmpty && m.files.forall { f =>
      val st = stat(f)
      st.pks.size == 2 &&
        st.cols.get("ts").forall { r =>
          Math.floorDiv(r.min.toLong, 86400000000L) == st.pks.head &&
            Math.floorDiv(r.max.toLong, 86400000000L) == st.pks.head
        } && st.pks(1) >= 0 && st.pks(1) < 4
    }
    val nDays = m.files.map(f => stat(f).pks.head).distinct.size
    val bounded = m.files.size <= nDays * 4
    // the middle day + a user present in it
    val ev = graft.Tables.events(lake, dir)
    val lo0 = ev.agg(min(col("ts"))).head().getAs[java.time.LocalDateTime](0)
    val dayLo = lo0.toLocalDate.plusDays(2).atStartOfDay()
    val dayHi = dayLo.plusDays(1)
    val dayKey = dayLo.toLocalDate.toEpochDay
    val u = ev.filter(col("ts") >= lit(dayLo) && col("ts") < lit(dayHi))
      .agg(min(col("user_id"))).head().getLong(0)
    val dayFiles = m.files.count(f => stat(f).pks.head == dayKey)
    val pointFiles = m.files.count { f =>
      val st = stat(f)
      st.pks.head == dayKey &&
        st.pks(1) == BucketFunction.bucketId(4, u).toLong
    }
    def read() = lake.read.format(CommitSink.NAME).option("path", path).load()
    val dayPlanned = plannedFiles(read()
      .filter(col("ts") >= lit(dayLo) && col("ts") < lit(dayHi)))
    val pointPlanned = plannedFiles(read()
      .filter(col("ts") >= lit(dayLo) && col("ts") < lit(dayHi) &&
        col("user_id") === u))
    CommitSink.readCommitted(lake, path)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("value")).as("total_value"),
        countDistinct(to_date(col("ts"))).as("n_days"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
      .withColumn("composite_keys", lit(if (composite) 1L else 0L))
      .withColumn("files_bounded", lit(if (bounded) 1L else 0L))
      .withColumn("planned_day",
        lit(if (dayPlanned == dayFiles && dayFiles >= 1) 1L else 0L))
      .withColumn("planned_point",
        lit(if (pointPlanned == pointFiles && pointFiles >= 1 &&
          pointFiles <= dayFiles) 1L else 0L))
  }

  /** o47: ALTER TABLE DROP COLUMNS — the second half of metadata-only
    * schema evolution (o31 landed ADD): the manifest DDL narrows in ONE
    * commit, every file/stat/vector/epoch carries verbatim, and readers
    * simply stop asking committed files for the field (both payload
    * decoders project BY NAME). Time travel keeps each version's own
    * shape — `VERSION AS OF` a pre-DROP commit still reads the column —
    * and appends must carry the narrowed schema. Load-bearing columns
    * refuse: the partition spec's source and live equality-delete keys
    * (Round17Spec pins the matrix). The fixture drops events' `props`
    * payload column, appends a narrowed subset (every 4th event), and
    * replays the mixed pre/post-DROP content; proofs pin the dropped
    * column's absence, the metadata-only commit (files carried
    * verbatim), and time travel's pre-DROP shape. At 100 TB this is
    * "stop paying for a dead column" without rewriting a byte. */
  def o47DropColumn(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val (lake, root) = scopedCatalog(spark, "o47", dir)
    val path = s"$root/default/ev"
    val ev = graft.Tables.events(lake, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("props"))
    ev.write.format(CommitSink.NAME).option("path", path)
      .mode("overwrite").save()
    val m0 = CommitSink.parseManifest(java.nio.file.Paths.get(path)).get
    lake.sql(s"ALTER TABLE $cat.`default`.ev DROP COLUMN props")
    val m1 = CommitSink.parseManifest(java.nio.file.Paths.get(path)).get
    val metadataOnly = m1.files == m0.files && m1.commit == m0.commit + 1
    val narrowed = !lake.table(s"$cat.`default`.ev").columns.contains("props")
    // time travel keeps the pre-DROP shape (and its rows still decode)
    val oldShape = lake.read.format(CommitSink.NAME).option("path", path)
      .option("versionAsOf", m0.commit).load()
    val travelKeeps = oldShape.columns.contains("props") &&
      oldShape.filter(col("props").isNotNull).count() > 0
    ev.filter(col("event_id") % 4 === 0).drop("props")
      .write.format(CommitSink.NAME).option("path", path).mode("append").save()
    CommitSink.readCommitted(lake, path)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("value")).as("total_value"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
      .withColumn("dropped_gone", lit(if (narrowed) 1L else 0L))
      .withColumn("metadata_only", lit(if (metadataOnly) 1L else 0L))
      .withColumn("travel_keeps", lit(if (travelKeeps) 1L else 0L))
  }

  /** o48: ALTER TABLE RENAME COLUMN — the third leg of metadata-only
    * schema evolution (o31 ADD, o47 DROP): ONE manifest commit, zero
    * byte rewrites. The manifest's schema ledger records the rename
    * keyed on its commit — committed files KEEP their old physical
    * name, and every reader maps the current name back per file by
    * add-sequence (CommitSink.physNamesFor — the graft analog of
    * Iceberg's field-id projection). Zone maps remap through the same
    * ledger, so file skipping keeps pruning on the renamed column
    * (proved here: the renamed range probe plans 1-2 of 8
    * range-clustered files whose stats were recorded under the OLD
    * name). Appends write current names; DML runs over the mixed
    * shapes; time travel keeps each version's own name. The fixture
    * renames events' `event_id` to `ev_id` over an 8-file
    * range-clustered layout, appends a narrowed %4 slice post-rename,
    * and DELETEs a %10 residue across both shapes. At 100 TB this is
    * "fix the column name" without rewriting a byte. */
  def o48RenameColumn(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val (lake, root) = scopedCatalog(spark, "o48", dir)
    val path = s"$root/default/ev"
    val ev = graft.Tables.events(lake, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    ev.repartitionByRange(8, col("event_id"))
      .write.format(CommitSink.NAME).option("path", path)
      .mode("overwrite").save()
    val m0 = CommitSink.parseManifest(java.nio.file.Paths.get(path)).get
    lake.sql(s"ALTER TABLE $cat.`default`.ev RENAME COLUMN event_id TO ev_id")
    val m1 = CommitSink.parseManifest(java.nio.file.Paths.get(path)).get
    val metadataOnly = m1.files == m0.files && m1.commit == m0.commit + 1 &&
      m1.schemaLog.exists {
        case CommitSink.RenameEvt("event_id", "ev_id", s) => s == m1.commit
        case _ => false
      }
    def read() = lake.read.format(CommitSink.NAME).option("path", path).load()
    // old files' values surface under the NEW name (no silent nulls)
    val renamedReads = read().filter(col("ev_id").isNull).count() == 0L &&
      read().columns.contains("ev_id") && !read().columns.contains("event_id")
    // zone maps remapped: a range probe on the CURRENT name prunes old
    // files whose stats were recorded under the old one
    val pruned = plannedFiles(
      read().filter(col("ev_id") >= 100L && col("ev_id") < 2000L)) <= 2
    // time travel keeps the pre-rename shape
    val travelKeeps = lake.read.format(CommitSink.NAME).option("path", path)
      .option("versionAsOf", m0.commit).load().columns.contains("event_id")
    // append post-rename (current names) + DML across the mixed shapes
    ev.filter(col("event_id") % 4 === 0).withColumnRenamed("event_id", "ev_id")
      .write.format(CommitSink.NAME).option("path", path).mode("append").save()
    lake.sql(s"DELETE FROM $cat.`default`.ev WHERE ev_id % 10 = 3")
    CommitSink.readCommitted(lake, path)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("value")).as("total_value"),
        min(col("ev_id")).as("min_ev_id"),
        max(col("ev_id")).as("max_ev_id"))
      .withColumn("metadata_only", lit(if (metadataOnly) 1L else 0L))
      .withColumn("renamed_reads", lit(if (renamedReads) 1L else 0L))
      .withColumn("prune_remapped", lit(if (pruned) 1L else 0L))
      .withColumn("travel_keeps", lit(if (travelKeeps) 1L else 0L))
  }

  /** o49: TIMESTAMP AS OF time travel — the half users actually type
    * (o17 landed `VERSION AS OF`): every commit stamps its wall time
    * (`committs`) in the manifest header, and `TIMESTAMP AS OF t` /
    * `option("timestampAsOf", t)` resolves to the newest main version
    * committed at or before t (CommitSink.versionAtTimestamp — staged
    * and branch versions excluded, pre-table timestamps refuse).
    * Commit times here come from an injected test clock
    * (CommitSink.withClock), so the oracle readout is deterministic —
    * wall-clock nondeterminism never reaches a checked value. The
    * fixture lands three slices at t=1000/2000/3000 ms and probes epoch
    * millis, ISO, boundary-exact, SQL-surface and refusal shapes. */
  def o49TimestampTravel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val (lake, root) = scopedCatalog(spark, "o49", dir)
    val path = s"$root/default/ev"
    val ev = graft.Tables.events(lake, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    def slice(r: Int) = ev.filter(col("event_id") % 3 === r)
    CommitSink.withClock(() => 1000L) {
      slice(0).write.format(CommitSink.NAME).option("path", path)
        .mode("overwrite").save()
    }
    CommitSink.withClock(() => 2000L) {
      slice(1).write.format(CommitSink.NAME).option("path", path).mode("append").save()
    }
    CommitSink.withClock(() => 3000L) {
      slice(2).write.format(CommitSink.NAME).option("path", path).mode("append").save()
    }
    val n0 = slice(0).count(); val n1 = slice(1).count()
    def at(t: String): Long = lake.read.format(CommitSink.NAME)
      .option("path", path).option("timestampAsOf", t).load().count()
    // epoch millis between commits → first slice; ISO + boundary-exact
    // (≤) → first two; late timestamp → everything
    val millisMid = at("1500") == n0
    val isoExact = at("1970-01-01 00:00:02") == n0 + n1
    val late = at("2099-01-01T00:00:00") == ev.count()
    // SQL surface through the catalog (micros via Spark's analyzer)
    val sqlRows = lake.sql(
      s"SELECT COUNT(*) FROM $cat.`default`.ev " +
        "TIMESTAMP AS OF TIMESTAMP'1970-01-01 00:00:01.500'").head().getLong(0)
    val sqlMid = sqlRows == n0
    // a pre-table timestamp refuses loudly — never silently reads v0
    val preRefuses =
      try { at("500"); false }
      catch { case e: IllegalArgumentException =>
        e.getMessage.contains("committed at or before") }
    CommitSink.readCommitted(lake, path)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("value")).as("total_value"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
      .withColumn("millis_mid", lit(if (millisMid) 1L else 0L))
      .withColumn("iso_exact", lit(if (isoExact) 1L else 0L))
      .withColumn("late_full", lit(if (late) 1L else 0L))
      .withColumn("sql_mid", lit(if (sqlMid) 1L else 0L))
      .withColumn("pre_refuses", lit(if (preRefuses) 1L else 0L))
  }

  /** o50: COLUMN NDV STATISTICS → CBO — per-file mergeable HLL sketches
    * (DataSketches, lgK=12) recorded at write time
    * (`option("ndvColumns", ...)`) or by the distributed
    * [[CommitSink.analyzeNdv]] maintenance pass (one `_metadata
    * .file_name`-grouped scan, never a per-file loop), surfaced to
    * Spark as `SupportsReportStatistics.columnStats` — the scan unions
    * the SURVIVING files' sketches at planning, so distinctCount
    * composes with file pruning. Under `spark.sql.cbo.enabled` the
    * optimizer's attribute stats carry these cardinalities into join
    * estimation/reordering — the decision size alone gets wrong at
    * 100 TB (a huge low-cardinality dim vs a small high-cardinality
    * one). Proofs: write-time and analyze sketches agree, the CBO
    * attribute stats surface both columns, the low-cardinality
    * estimate is EXACT (HLL is exact below its coupon threshold) and
    * the high-cardinality estimate lands within 5%. */
  def o50NdvStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, countDistinct, lit, max, min}
    val out = s"/tmp/graft_o50/${new java.io.File(dir).getName}"
    graft.Tables.deleteRecursively(out)
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    ev.repartition(4)
      .write.format(CommitSink.NAME).option("path", out)
      .option("ndvColumns", "user_id,event_type")
      .mode("overwrite").save()
    val m = CommitSink.parseManifest(java.nio.file.Paths.get(out)).get
    val recorded = m.files.nonEmpty && m.files.forall { f =>
      val nd = CommitSink.FileStat.decode(m.stats(f)).ndv
      nd.contains("user_id") && nd.contains("event_type")
    }
    val trueUsers = ev.agg(countDistinct(col("user_id"))).head().getLong(0)
    val trueTypes = ev.agg(countDistinct(col("event_type"))).head().getLong(0)
    // CBO surface: attribute stats of the optimized plan under cbo
    val stats = graft.Tables.isolated(spark, "spark.sql.cbo.enabled" -> "true")
      .read.format(CommitSink.NAME).option("path", out)
      .load().queryExecution.optimizedPlan.stats.attributeStats
    def ndvOf(c: String): Long = stats.collectFirst {
      case (a, s) if a.name == c && s.distinctCount.isDefined =>
        s.distinctCount.get.toLong
    }.getOrElse(-1L)
    val (estUsers, estTypes) = (ndvOf("user_id"), ndvOf("event_type"))
    val typesExact = estTypes == trueTypes // HLL exact at low cardinality
    val usersClose = estUsers > 0 &&
      math.abs(estUsers - trueUsers).toDouble / trueUsers < 0.05
    // the maintenance pass lands the same sketches on an UN-sketched
    // table (one distributed scan, metadata-only commit)
    val out2 = s"/tmp/graft_o50b/${new java.io.File(dir).getName}"
    graft.Tables.deleteRecursively(out2)
    ev.repartition(4).write.format(CommitSink.NAME).option("path", out2)
      .mode("overwrite").save()
    CommitSink.analyzeNdv(spark, out2, Seq("user_id"))
    val m2 = CommitSink.parseManifest(java.nio.file.Paths.get(out2)).get
    val analyzed = m2.files.nonEmpty && m2.files.forall(f =>
      CommitSink.FileStat.decode(m2.stats(f)).ndv.contains("user_id")) &&
      m2.commit == 1L // metadata-only commit on top of the write
    graft.Tables.deleteRecursively(out2)
    CommitSink.readCommitted(spark, out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("value")).as("total_value"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
      .withColumn("ndv_recorded", lit(if (recorded) 1L else 0L))
      .withColumn("types_exact", lit(if (typesExact) 1L else 0L))
      .withColumn("users_close", lit(if (usersClose) 1L else 0L))
      .withColumn("analyze_lands", lit(if (analyzed) 1L else 0L))
  }

  /** o51: the `hours(ts)` partition transform — the last member of the
    * Iceberg temporal family (days o42, months/years o45): key =
    * floorDiv(micros, 3600s), monotone, so the single-transform write
    * plans the o42 ORDERED distribution on the raw column (no function
    * resolution anywhere) and predicate projection prunes hour groups
    * through the o45 key-interval algebra. TIMESTAMP-only (an hour of
    * a DATE is meaningless — Iceberg's rule too). The fixture lands
    * ONE day of events (24 hour keys — the file count a
    * high-frequency layout is chosen to bound), probes a one-hour plan
    * and a two-hour band, and pins the ordinal parity per file. */
  def o51HoursTransform(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, countDistinct, hour, lit, max, min, to_date}
    val (lake, root) = scopedCatalog(spark, "o51", dir)
    val path = s"$root/default/ev"
    lake.sql(s"CREATE TABLE $cat.`default`.ev (event_id BIGINT, " +
      "ts TIMESTAMP_NTZ, event_type STRING, value DOUBLE) " +
      "USING `graft-commit` PARTITIONED BY (hours(ts))")
    val ev = graft.Tables.events(lake, dir)
    val day0 = ev.agg(min(to_date(col("ts")))).head().getDate(0).toLocalDate
    val dayLo = day0.atStartOfDay(); val dayHi = day0.plusDays(1).atStartOfDay()
    ev.filter(col("ts") >= lit(dayLo) && col("ts") < lit(dayHi))
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .createOrReplaceTempView("o51_src")
    lake.sql(s"INSERT INTO $cat.`default`.ev SELECT * FROM o51_src")
    val m = CommitSink.parseManifest(java.nio.file.Paths.get(path)).get
    // ordinal parity: each file's recorded key IS floorDiv(micros, 1h)
    // of its whole ts range (one hour per file)
    val oneHour = m.files.nonEmpty && m.files.forall { f =>
      val st = CommitSink.FileStat.decode(m.stats(f))
      st.pk.isDefined && st.cols.get("ts").forall { r =>
        Math.floorDiv(r.min.toLong, 3600000000L) == st.pk.get &&
          Math.floorDiv(r.max.toLong, 3600000000L) == st.pk.get
      }
    }
    def read() = lake.read.format(CommitSink.NAME).option("path", path).load()
    // hour 12 of the day: exactly one planned group; a 2-hour band: two
    val h12 = dayLo.plusHours(12); val h13 = dayLo.plusHours(13)
    val hourPlanned = plannedFiles(read()
      .filter(col("ts") >= lit(h12) && col("ts") < lit(h13))) == 1L
    val bandPlanned = plannedFiles(read()
      .filter(col("ts") >= lit(h12) && col("ts") < lit(dayLo.plusHours(14)))) == 2L
    CommitSink.readCommitted(lake, path)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("value")).as("total_value"),
        countDistinct(hour(col("ts"))).as("n_hours"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
      .withColumn("one_hour_per_file", lit(if (oneHour) 1L else 0L))
      .withColumn("hour_planned", lit(if (hourPlanned) 1L else 0L))
      .withColumn("band_planned", lit(if (bandPlanned) 1L else 0L))
  }

  /** o14: zone-map FILE SKIPPING on the commit sink — the manifest
    * records each file's per-column ranges during the write (one pass,
    * the parquet-footer design), and a selective range predicate prunes
    * whole files at PLANNING: the events table lands range-partitioned
    * by event_id into 8 files, so the [100, 2000) filter plans 1-2 of
    * them and never opens the rest. Pruning is advisory — every filter
    * stays residual, so correctness never depends on the stats
    * (LakeSpec pins the prune counts, the OR/no-stats conservatism, and
    * the residual re-evaluation). At 100 TB this is the second 100×
    * after partition pruning: a sorted-write layout turns every range
    * scan into a file-count proportional to selectivity. */
  def o14Dsv2FileSkipping(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val out = s"/tmp/graft_o14/${new java.io.File(dir).getName}"
    graft.Tables.deleteRecursively(out)
    graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .repartitionByRange(8, col("event_id"))
      .write.format(CommitSink.NAME).option("path", out).mode("overwrite").save()
    spark.read.format(CommitSink.NAME).option("path", out).load()
      .filter(col("event_id") >= 100L && col("event_id") < 2000L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("value")).as("total_value"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
  }

  /** o15: DSv2 STATISTICS REPORTING — the scan hands the optimizer the
    * manifest's exact row/byte totals (SupportsReportStatistics), so a
    * small committed dimension AUTO-broadcasts in a join with the events
    * fact table: no hint, no shuffle of the fact side. Without the
    * interface a V2 relation reports "unknown = infinite" and this join
    * would sort-merge both sides. LakeSpec pins the BroadcastHashJoin
    * plan and the exact reported numbers (post-prune). The broadcast
    * decision is THE first join lever at 100 TB — it is made by
    * statistics, and a connector that reports none opts out. */
  def o15Dsv2StatsBroadcast(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max}
    val out = s"/tmp/graft_o15/${new java.io.File(dir).getName}"
    graft.Tables.deleteRecursively(out)
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("type_n"), graft.Tables.dsum(col("value")).as("type_total"))
      .write.format(CommitSink.NAME).option("path", out).mode("overwrite").save()
    val dim = spark.read.format(CommitSink.NAME).option("path", out).load()
    ev.join(dim, "event_type") // no hint: the reported stats pick broadcast
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        max(col("type_n")).as("type_n"),
        max(col("type_total")).as("type_total"),
        graft.Tables.dsum(col("value")).as("total_value"))
  }

  /** o16: STORAGE-PARTITIONED JOIN — the exchange-free join negotiated
    * entirely through the DSv2 contract (SPARK-37375, the Iceberg
    * bucket-join design): both tables are written
    * `option("partitionBy", "bucket")` — the write declares a
    * clustered+sorted distribution, each committed file holds exactly
    * one key, the manifest records it — and both scans report
    * KeyGroupedPartitioning, so the equi-join on the partition key plans
    * with NO exchange on either side (LakeSpec pins the zero-Exchange
    * plan and value parity with the shuffled join). o02 buys this with
    * Hive bucketing; o16 is the same paid-once-at-write shuffle for a
    * CONNECTOR table — at 100 TB the fact-to-summary join this query
    * shapes (per-user state ⋈ per-bucket rollup) never moves the fact
    * table again. */
  def o16Dsv2Spj(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, countDistinct, lit, max, sum}
    val base = s"/tmp/graft_o16/${new java.io.File(dir).getName}"
    graft.Tables.deleteRecursively(base)
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        (col("user_id") % 32).as("bucket"))
    // A: per-user state from the even event slice (many rows per bucket)
    ev.filter(col("event_id") % 2 === 0)
      .groupBy(col("bucket"), col("user_id"))
      .agg(count(lit(1)).as("a_n"), sum(col("event_id")).as("a_sum"))
      .write.format(CommitSink.NAME).option("path", s"$base/a")
      .option("partitionBy", "bucket").mode("overwrite").save()
    // B: per-bucket rollup from the odd slice (one row per bucket)
    ev.filter(col("event_id") % 2 === 1)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("b_n"), sum(col("event_id")).as("b_sum"))
      .write.format(CommitSink.NAME).option("path", s"$base/b")
      .option("partitionBy", "bucket").mode("overwrite").save()
    // without the broadcast threshold at -1 the o15 stats would
    // (correctly) broadcast tiny B — the point here is the co-partitioned
    // path a 100 TB B-side needs
    val spj = graft.Tables.isolated(spark,
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val a = spj.read.format(CommitSink.NAME).option("path", s"$base/a").load()
    val b = spj.read.format(CommitSink.NAME).option("path", s"$base/b").load()
    a.join(b, "bucket")
      .groupBy(col("bucket"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        sum(col("a_n")).as("a_events"), sum(col("a_sum")).as("a_sum_eid"),
        max(col("b_n")).as("b_events"), max(col("b_sum")).as("b_sum_eid"))
  }

  /** o17: TIME TRAVEL — every commit also lands an immutable
    * `_MANIFEST-v<n>.json`, so any past version is readable forever
    * (`option("versionAsOf", n)` / SQL `VERSION AS OF n` through the
    * catalog): three commits land the three event_id%3 slices
    * (overwrite, append, overwrite), and the query reads ALL THREE
    * versions — including v0/v1 across the truncation, whose data files
    * the truncate must keep because version manifests still reference
    * them — into one per-version audit row. The reproducibility story a
    * training pipeline needs: "the corpus as of run N" stays readable
    * after compaction/deletes rewrite the current version (Iceberg
    * snapshots; GC of expired versions is the operational knob on top).
    * LakeSpec pins the version ledger, the read-only version pin, and
    * the cross-truncate survival. */
  def o17Dsv2TimeTravel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val out = s"/tmp/graft_o17/${new java.io.File(dir).getName}"
    graft.Tables.deleteRecursively(out)
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    ev.filter(col("event_id") % 3 === 0)
      .write.format(CommitSink.NAME).option("path", out).mode("overwrite").save()
    ev.filter(col("event_id") % 3 === 1)
      .write.format(CommitSink.NAME).option("path", out).mode("append").save()
    ev.filter(col("event_id") % 3 === 2)
      .write.format(CommitSink.NAME).option("path", out).mode("overwrite").save()
    def at(v: Int): DataFrame =
      spark.read.format(CommitSink.NAME).option("path", out)
        .option("versionAsOf", v.toString).load()
        .agg(count(lit(1)).as("n"),
          graft.Tables.dsum(col("value")).as("total_value"),
          min(col("event_id")).as("min_event_id"),
          max(col("event_id")).as("max_event_id"))
        .select(lit(v.toLong).as("version"), col("n"), col("total_value"),
          col("min_event_id"), col("max_event_id"))
    at(0).unionByName(at(1)).unionByName(at(2))
  }

  /** o18: METADATA-ONLY aggregation — an unfiltered, ungrouped
    * COUNT(*)/MIN/MAX over a committed table is answered entirely from
    * the manifest's per-file statistics via DSv2 aggregate pushdown
    * (`CommitMetaAggScan`): one input partition, one row, ZERO data
    * files opened (LakeSpec proves it by deleting the data files and
    * aggregating anyway; a WHERE clause or a NaN-unsafe double column
    * declines to the honest scan). The Iceberg metadata-query device:
    * at 100 TB the row counts and key ranges every pipeline health
    * check runs first become O(manifest) driver work instead of a
    * corpus scan. */
  def o18Dsv2MetaAgg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val out = s"/tmp/graft_o18/${new java.io.File(dir).getName}"
    graft.Tables.deleteRecursively(out)
    graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .repartition(4, col("user_id"))
      .write.format(CommitSink.NAME).option("path", out).mode("overwrite").save()
    spark.read.format(CommitSink.NAME).option("path", out).load()
      .agg(count(lit(1)).as("n"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"),
        min(col("user_id")).as("min_user_id"),
        max(col("user_id")).as("max_user_id"))
  }

  /** o19: COMPACTION + SNAPSHOT EXPIRY — the two maintenance commands
    * that complete the sink's version lifecycle (Iceberg's
    * rewrite_data_files + expire_snapshots): two event slices land as
    * 16 small files across two commits (the steady state of a streaming
    * ingest — one file per task per trigger), `CommitSink.compact`
    * rewrites them as 4 files in ONE new version (values untouched,
    * previous versions still time-travel readable), and
    * `expireVersions(keepLast = 2)` drops the pre-compaction manifests
    * and deletes the data files only they referenced. The readout pins
    * the whole lifecycle: the post-compact aggregate must equal the
    * oracle over both slices (nothing lost), file/version counts must
    * land exactly (4 files, versions {1, 2} live), and the retained
    * pre-compact version must still read (200-file time travel after
    * GC). LakeSpec additionally proves expiry never touches files a
    * kept version references and refuses keepLast = 0. */
  def o19Dsv2Compaction(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val out = s"/tmp/graft_o19/${new java.io.File(dir).getName}"
    graft.Tables.deleteRecursively(out)
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    ev.filter(col("event_id") % 2 === 0).repartition(8)
      .write.format(CommitSink.NAME).option("path", out).mode("overwrite").save()
    ev.filter(col("event_id") % 2 === 1).repartition(8)
      .write.format(CommitSink.NAME).option("path", out).mode("append").save()
    CommitSink.compact(spark, out, 4)                  // version 2
    val (expired, _) = CommitSink.expireVersions(out, keepLast = 2)
    val p = java.nio.file.Paths.get(out)
    val m = CommitSink.parseManifest(p).get
    spark.read.format(CommitSink.NAME).option("path", out).load()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("value")).as("total_value"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
      .withColumn("n_files", lit(m.files.size.toLong))
      .withColumn("n_versions_expired", lit(expired.size.toLong))
      .withColumn("n_versions_live",
        lit(CommitSink.listVersions(p).size.toLong))
  }

  /** w16: the STREAMING CDC-upsert-to-lakehouse topology — the
    * reference's whole consumer loop (consume → accumulate per-key state
    * → upsert into the store, consumer_to_file.py:183-224) as one
    * declarative pipeline on our own connectors: the DSv2 micro-batch
    * sensor stream drives foreachBatch, and EACH micro-batch folds its
    * per-sensor aggregate into the catalog table with a real SQL MERGE
    * INTO (matched rows accumulate exact long sums, new sensors insert) —
    * every batch lands as ONE copy-on-write version under the CAS'd
    * manifest swap, so a reader mid-stream sees a consistent per-batch
    * state, never a torn upsert. Exact long arithmetic makes the final
    * state batch-boundary invariant: the read-back must equal the
    * one-shot oracle over `range()` no matter how the 4 triggers tiled
    * the ids. (foreachBatch MERGE is at-least-once under restart — a
    * replayed batch would re-accumulate; the batchId-ledger dedup that
    * w08 hand-rolls, or the o11 sink's native epoch ledger, is the
    * exactly-once upgrade. This query runs a single uninterrupted
    * stream, where the two semantics coincide; LakeSpec pins the
    * 4-trigger shape and the per-batch version ledger.) */
  def w16StreamMergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, sum}
    val (lake, root) = scopedCatalog(spark, "w16", dir)
    val ck = s"$root/ck"
    lake.sql(s"CREATE TABLE $cat.`default`.sensor_state " +
      "(sensor INT, n BIGINT, sum_id BIGINT) USING `graft-commit`")
    val q = lake.readStream.format("graft-sensors")
      .option("rows", 20000).option("slices", 8)
      .option("streamBatchRows", 5000).load()
      .select(col("id"), col("sensor"))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        batch.groupBy(col("sensor"))
          .agg(count(lit(1)).as("n"), sum(col("id")).as("s"))
          .createOrReplaceTempView("w16_batch")
        s.sql(s"""MERGE INTO $cat.`default`.sensor_state t
                 USING w16_batch b ON t.sensor = b.sensor
                 WHEN MATCHED THEN UPDATE SET
                   n = t.n + b.n, sum_id = t.sum_id + b.s
                 WHEN NOT MATCHED THEN INSERT (sensor, n, sum_id)
                   VALUES (b.sensor, b.n, b.s)""")
        ()
      }
      .option("checkpointLocation", ck)
      .start()
    q.processAllAvailable()
    q.stop()
    CommitSink.readCommitted(lake, s"$root/default/sensor_state")
  }

  /** w17: streaming dedup with BOUNDED state —
    * `dropDuplicatesWithinWatermark` (the Spark 3.5+ API), the scale
    * correction to w04's plain `dropDuplicates`: unbounded dedup keeps
    * one state row per key FOREVER (at 100 TB of events that state is
    * the job's death), while within-watermark dedup evicts a key's
    * state once the watermark passes its event time + delay — state is
    * bounded by the duplicate-arrival horizon, the contract
    * at-least-once sources (Kafka redeliveries, the reference's
    * fresh-group-id restarts) actually need. The sensor stream plants
    * exact duplicates via `k = id % 2000` (10 arrivals per key across
    * the 20000-id span); the 30000 s watermark delay exceeds the span,
    * so every re-arrival is suppressed and the survivor key set is
    * exactly DISTINCT(k) — the readout aggregates ONLY key-derived
    * values (never the nondeterministic surviving row's timestamp), so
    * the result is batch-boundary- and arrival-order-invariant and
    * DuckDB-replayable. */
  def w17DedupWithinWatermark(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, sum}
    val ck = s"/tmp/graft_w17/${new java.io.File(dir).getName}"
    graft.Tables.deleteRecursively(ck)
    // Store choice is per-workload, like a real deployment: this query
    // keeps one tiny bounded-state family — the HDFS-backed in-memory
    // provider is the right store for it, and the RocksDB open/commit
    // tax per (trigger x state partition) was most of w17's r11 cost.
    // The pin is explicit: the entry must choose its store no matter
    // what a caller's session carries (the provider is read at query
    // start; the fresh checkpoint pins it per run).
    // State-partition sizing is per-stream, like the store choice: this
    // query keeps 2000 keys of state across TWO stateful operators, and
    // the per-trigger cost is dominated by (partitions x operators)
    // store commits + provider maintenance, not by data. 8 partitions
    // is the right size for the state volume; the session's 32 stays
    // for the batch registry. (At 100 TB the same knob is what sizes a
    // production stream's state shards to its key cardinality.)
    val s = graft.Tables.isolated(spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
      "spark.sql.shuffle.partitions" -> "8")
    // 2 triggers (20000 ids / 10000 per batch): the multi-batch proof
    // shape at half the r11 trigger tax — duplicates still arrive both
    // within and ACROSS batches (k = id % 2000 spans every batch), so
    // the suppress-across-triggers property is exercised either way
    // (the c17/o10 precedent: trigger count halved, property kept)
    val q = s.readStream.format("graft-sensors")
      .option("rows", 20000).option("slices", 8)
      .option("streamBatchRows", 10000).load()
      // watermarks require TIMESTAMP (LTZ); the source's ts is NTZ under
      // Verify's UTC session — the cast is value-stable in UTC and the
      // readout never reads ts anyway
      .select((col("id") % 2000L).as("k"), col("ts").cast("timestamp").as("ts"))
      .withWatermark("ts", "30000 seconds")
      .dropDuplicatesWithinWatermark("k")
      .groupBy((col("k") % 10L).as("bucket"))
      .agg(count(lit(1)).as("n_keys"), sum(col("k")).as("sum_k"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("w17_dedup")
      .option("checkpointLocation", ck)
      .start()
    q.processAllAvailable()
    q.stop()
    s.table("w17_dedup")
  }

  /** o20: the table AS A STREAM — the changelog micro-batch read
    * ([[CommitTableMicroBatchStream]]), the last edge of the connector
    * matrix (streaming INTO the table landed with o11; this streams OUT
    * of it, the Delta/Iceberg table-stream device): three commits land
    * the three event_id%3 slices, then `readStream` consumes the table
    * with `maxCommitsPerTrigger=1` — the offset IS the commit id, each
    * micro-batch reads exactly the files its commit range ADDED (a set
    * difference of two immutable version manifests, so offsets are
    * restart-safe with zero driver state), and the complete-mode
    * aggregate after 3 real triggers must equal the one-shot oracle
    * over the whole events table. Append-only ranges are the contract —
    * a truncate/DML/compaction inside a consumed range fails loudly
    * (LakeSpec pins the trigger count, incremental pickup of a commit
    * made WHILE the stream runs, and the rewrite refusal). */
  def o20Dsv2TableStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val out = s"/tmp/graft_o20/${new java.io.File(dir).getName}"
    graft.Tables.deleteRecursively(out)
    val ck = s"/tmp/graft_o20_ck/${new java.io.File(dir).getName}"
    graft.Tables.deleteRecursively(ck)
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    ev.filter(col("event_id") % 3 === 0)
      .write.format(CommitSink.NAME).option("path", out).mode("overwrite").save()
    ev.filter(col("event_id") % 3 === 1)
      .write.format(CommitSink.NAME).option("path", out).mode("append").save()
    ev.filter(col("event_id") % 3 === 2)
      .write.format(CommitSink.NAME).option("path", out).mode("append").save()
    // per-stream state sizing (w17/o23 device): 5 event_type keys over
    // 3 per-commit triggers — 8 state shards, not the session's 32
    val s = graft.Tables.isolated(spark, "spark.sql.shuffle.partitions" -> "8")
    val q = s.readStream.format(CommitSink.NAME)
      .option("path", out).option("maxCommitsPerTrigger", "1").load()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Tables.dsum(col("value")).as("total_value"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("o20_table_stream")
      .option("checkpointLocation", ck)
      .start()
    q.processAllAvailable()
    q.stop()
    s.table("o20_table_stream")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "o20_dsv2_table_stream" -> o20Dsv2TableStream _,
    "w17_dedup_within_watermark" -> w17DedupWithinWatermark _,
    "w16_stream_merge_upsert" -> w16StreamMergeUpsert _,
    "o19_dsv2_compaction" -> o19Dsv2Compaction _,
    "o18_dsv2_meta_agg" -> o18Dsv2MetaAgg _,
    "o17_dsv2_time_travel" -> o17Dsv2TimeTravel _,
    "o16_dsv2_spj" -> o16Dsv2Spj _,
    "o15_dsv2_stats_broadcast" -> o15Dsv2StatsBroadcast _,
    "o14_dsv2_file_skipping" -> o14Dsv2FileSkipping _,
    "o13_dsv2_merge_upsert" -> o13Dsv2MergeUpsert _,
    "o21_dsv2_merge_groupprune" -> o21Dsv2MergeGroupPrune _,
    "o22_xml_roundtrip" -> o22XmlRoundtrip _,
    "o23_state_introspection" -> o23StateIntrospection _,
    "o24_typed_commit" -> o24TypedCommit _,
    "o25_typed_cdc_merge" -> o25TypedCdcMerge _,
    "o26_state_families" -> o26StateFamilies _,
    "o27_delete_vectors" -> o27DeleteVectors _,
    "o28_mor_merge" -> o28MorMerge _,
    "o29_change_data_feed" -> o29ChangeDataFeed _,
    "o30_vector_maintenance" -> o30VectorMaintenance _,
    "o31_schema_evolution" -> o31SchemaEvolution _,
    "o32_equality_deletes" -> o32EqualityDeletes _,
    "o33_cow_change_feed" -> o33CowChangeFeed _,
    "o34_hadoop_io" -> o34HadoopIo _,
    "o35_cluster_rewrite" -> o35ClusterRewrite _,
    "o36_zorder_rewrite" -> o36ZorderRewrite _,
    "o37_partition_evolution" -> o37PartitionEvolution _,
    "o38_bloom_index" -> o38BloomIndex _,
    "o39_partitioned_cluster" -> o39PartitionedCluster _,
    "o40_bucket_partitioning" -> o40BucketPartitioning _,
    "o41_write_audit_publish" -> o41WriteAuditPublish _,
    "o42_temporal_transforms" -> o42TemporalTransforms _,
    "o43_metadata_tables" -> o43MetadataTables _,
    "o44_branches" -> o44Branches _,
    "o45_temporal_projection" -> o45TemporalProjection _,
    "o46_multi_transform" -> o46MultiTransform _,
    "o47_drop_column" -> o47DropColumn _,
    "o48_rename_column" -> o48RenameColumn _,
    "o49_timestamp_travel" -> o49TimestampTravel _,
    "o50_ndv_stats" -> o50NdvStats _,
    "o51_hours_transform" -> o51HoursTransform _,
    "o12_dsv2_delete_where" -> o12Dsv2DeleteWhere _,
    "o11_dsv2_stream_sink" -> o11Dsv2StreamSink _,
    "o10_dsv2_stream_read" -> o10Dsv2StreamRead _,
    "o09_dsv2_commit_write" -> o09Dsv2CommitWrite _,
    "o01_orc_roundtrip" -> o01OrcRoundtrip _,
    "o02_bucketed_join" -> o02BucketedJoin _,
    "o03_partitioned_prune" -> o03PartitionedPrune _,
    "o04_schema_merge" -> o04SchemaMerge _,
    "o05_dsv2_source" -> o05Dsv2Source _,
    "o06_dsv2_agg_pushdown" -> o06Dsv2AggPushdown _,
    "o07_dsv2_topn_pushdown" -> o07Dsv2TopNPushdown _,
    "o08_dsv2_runtime_filter" -> o08Dsv2RuntimeFilter _,
  )

  val oracles: Map[String, String] = Map(
    // clustering rewrite: content untouched (full-table replay); the
    // layout proofs are exact constants of the rewrite contract — the
    // narrow probe range sits strictly inside one clustered file's
    // recorded zone, so 8 hash files plan before and exactly 1 after
    "o35_cluster_rewrite" ->
      s"""SELECT event_type, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("value")} AS total_value,
                 MIN(event_id) AS min_event_id,
                 MAX(event_id) AS max_event_id,
                 CAST(4 AS BIGINT) AS n_files,
                 CAST(8 AS BIGINT) AS n_rewritten,
                 CAST(1 AS BIGINT) AS disjoint,
                 CAST(8 AS BIGINT) AS planned_before,
                 CAST(1 AS BIGINT) AS planned_after
          FROM events GROUP BY 1""",
    // partitioned sort-order rewrite: content untouched (full-table
    // replay); the layout proofs are constants of the rewrite contract
    // (one key per file, disjoint secondary slices per key, keys split,
    // exact one-file probe)
    "o39_partitioned_cluster" ->
      s"""SELECT event_type, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("value")} AS total_value,
                 MIN(event_id) AS min_event_id,
                 MAX(event_id) AS max_event_id,
                 CAST(1 AS BIGINT) AS single_key_files,
                 CAST(1 AS BIGINT) AS disjoint_within_key,
                 CAST(1 AS BIGINT) AS split_keys,
                 CAST(1 AS BIGINT) AS planned_point
          FROM events GROUP BY 1""",
    // bloom file index: content = the even-user_id subset (the absent
    // probe is an in-range ODD key, so zone maps can't answer and the
    // prune proof exercises the bloom sidecars); the layout booleans pin
    // the point-lookup contract — the absent key plans almost nothing
    // (<= 2 of 8 allows the bloom's documented false positives), a
    // present key still plans, and the residual filter returns zero
    // rows for the absent key regardless
    "o38_bloom_index" ->
      s"""SELECT event_type, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("value")} AS total_value,
                 MIN(event_id) AS min_event_id,
                 MAX(event_id) AS max_event_id,
                 CAST(0 AS BIGINT) AS n_absent_rows,
                 CAST(1 AS BIGINT) AS bloom_prunes_absent,
                 CAST(1 AS BIGINT) AS present_planned
          FROM events WHERE user_id % 2 = 0 GROUP BY 1""",
    // bucket partitioning: content = the fact⋈dim join aggregate (the
    // dim is DISTINCT user_id with a derived segment, so the join is a
    // key-preserving enrichment — row count equals the fact's); layout
    // booleans pin the bucket contract (bounded files, one bucket id
    // per file, SPJ zero-exchange, one-group point prune)
    "o40_bucket_partitioning" ->
      s"""WITH d AS (SELECT DISTINCT user_id, user_id % 10 AS segment FROM events)
          SELECT f.event_type, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("f.value")} AS total_value,
                 CAST(SUM(d.segment) AS BIGINT) AS seg_sum,
                 CAST(1 AS BIGINT) AS files_bounded,
                 CAST(1 AS BIGINT) AS spj_zero_exchange,
                 CAST(1 AS BIGINT) AS planned_point
          FROM events f JOIN d ON f.user_id = d.user_id
          GROUP BY 1""",
    // temporal transforms: content = the days(ts)-partitioned events
    // replay (n_days is the real distinct-day count); the layout
    // booleans pin one-day-per-file, the one-day plan, and the band probe
    "o42_temporal_transforms" ->
      s"""SELECT event_type, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("value")} AS total_value,
                 COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
                 MIN(event_id) AS min_event_id,
                 MAX(event_id) AS max_event_id,
                 CAST(1 AS BIGINT) AS one_day_per_file,
                 CAST(1 AS BIGINT) AS planned_day,
                 CAST(1 AS BIGINT) AS band_planned
          FROM events GROUP BY 1""",
    // metadata inspection tables: content = the $files inventory grouped
    // by partition key, replayed from raw data (2 one-key files per
    // residue, meta row sums = base + the %3 append); the booleans pin
    // the inventory contract (positive bytes, {0,1} add-sequences,
    // clean dv/eq/bloom inventory, matching 2-version history, root+3-
    // group manifest fan-out)
    "o43_metadata_tables" ->
      """SELECT CAST(event_id % 4 AS BIGINT) AS part_key,
                CAST(2 AS BIGINT) AS n_files,
                CAST(COUNT(*) + COUNT(CASE WHEN event_id % 3 = 0 THEN 1 END)
                  AS BIGINT) AS meta_rows,
                CAST(1 AS BIGINT) AS bytes_positive,
                CAST(1 AS BIGINT) AS seq_ok,
                CAST(1 AS BIGINT) AS clean_inventory,
                CAST(2 AS BIGINT) AS n_versions,
                CAST(1 AS BIGINT) AS history_ok,
                CAST(1 AS BIGINT) AS manifests_ok
         FROM events GROUP BY 1""",
    // drop column: content = the full events table plus the narrowed
    // %4 append, read under the post-DROP schema; the booleans pin the
    // dropped column's absence, the metadata-only commit, and time
    // travel's pre-DROP shape
    "o47_drop_column" ->
      s"""WITH t AS (
            SELECT event_id, user_id, event_type, value FROM events
            UNION ALL
            SELECT event_id, user_id, event_type, value FROM events
            WHERE event_id % 4 = 0)
          SELECT event_type, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("value")} AS total_value,
                 MIN(event_id) AS min_event_id,
                 MAX(event_id) AS max_event_id,
                 CAST(1 AS BIGINT) AS dropped_gone,
                 CAST(1 AS BIGINT) AS metadata_only,
                 CAST(1 AS BIGINT) AS travel_keeps
          FROM t GROUP BY 1""",
    // rename column: content = the base table plus the narrowed %4
    // append, minus the %10=3 DELETE, read under the post-RENAME name;
    // the booleans pin the metadata-only ledger commit, old-file reads
    // under the new name, zone-map remapping (the renamed range probe
    // still prunes), and time travel's pre-rename shape
    "o48_rename_column" ->
      s"""WITH t AS (
            SELECT event_id, event_type, value FROM events
            UNION ALL
            SELECT event_id, event_type, value FROM events
            WHERE event_id % 4 = 0)
          SELECT event_type, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("value")} AS total_value,
                 MIN(event_id) AS min_ev_id,
                 MAX(event_id) AS max_ev_id,
                 CAST(1 AS BIGINT) AS metadata_only,
                 CAST(1 AS BIGINT) AS renamed_reads,
                 CAST(1 AS BIGINT) AS prune_remapped,
                 CAST(1 AS BIGINT) AS travel_keeps
          FROM t WHERE event_id % 10 <> 3 GROUP BY 1""",
    // timestamp travel: content = the full three-slice replay (main's
    // head); the booleans pin epoch-millis/ISO/boundary/SQL resolution
    // against the injected test clock and the pre-table refusal
    "o49_timestamp_travel" ->
      s"""SELECT event_type, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("value")} AS total_value,
                 MIN(event_id) AS min_event_id,
                 MAX(event_id) AS max_event_id,
                 CAST(1 AS BIGINT) AS millis_mid,
                 CAST(1 AS BIGINT) AS iso_exact,
                 CAST(1 AS BIGINT) AS late_full,
                 CAST(1 AS BIGINT) AS sql_mid,
                 CAST(1 AS BIGINT) AS pre_refuses
          FROM events GROUP BY 1""",
    // NDV column stats: content = the events replay with the real
    // per-type user cardinality; the booleans pin write-time sketch
    // recording, the CBO attribute-stats surface (low-cardinality
    // exact, high-cardinality within 5%), and the distributed analyze
    // pass landing sketches as a metadata-only commit
    "o50_ndv_stats" ->
      s"""SELECT event_type, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("value")} AS total_value,
                 COUNT(DISTINCT user_id) AS n_users,
                 MIN(event_id) AS min_event_id,
                 MAX(event_id) AS max_event_id,
                 CAST(1 AS BIGINT) AS ndv_recorded,
                 CAST(1 AS BIGINT) AS types_exact,
                 CAST(1 AS BIGINT) AS users_close,
                 CAST(1 AS BIGINT) AS analyze_lands
          FROM events GROUP BY 1""",
    // hours transform: content = one day of events under the hours(ts)
    // layout (n_hours is the real distinct-hour count); the booleans
    // pin one-hour-per-file ordinal parity, the one-hour plan, and the
    // two-hour band plan
    "o51_hours_transform" ->
      s"""SELECT event_type, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("value")} AS total_value,
                 CAST(COUNT(DISTINCT EXTRACT(hour FROM ts)) AS BIGINT) AS n_hours,
                 MIN(event_id) AS min_event_id,
                 MAX(event_id) AS max_event_id,
                 CAST(1 AS BIGINT) AS one_hour_per_file,
                 CAST(1 AS BIGINT) AS hour_planned,
                 CAST(1 AS BIGINT) AS band_planned
          FROM events
          WHERE CAST(ts AS DATE) =
            (SELECT MIN(CAST(ts AS DATE)) FROM events)
          GROUP BY 1""",
    // multi-transform spec: content = the (days(ts), bucket(4, user_id))-
    // partitioned events replay; the booleans pin the composite key
    // vectors, the days*4 file bound, and the two-dimensional pruning
    // (a one-day plan, then the (day, user) point plan)
    "o46_multi_transform" ->
      s"""SELECT event_type, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("value")} AS total_value,
                 COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
                 MIN(event_id) AS min_event_id,
                 MAX(event_id) AS max_event_id,
                 CAST(1 AS BIGINT) AS composite_keys,
                 CAST(1 AS BIGINT) AS files_bounded,
                 CAST(1 AS BIGINT) AS planned_day,
                 CAST(1 AS BIGINT) AS planned_point
          FROM events GROUP BY 1""",
    // temporal projection: content = the months(o_orderdate)-partitioned
    // orders replay (n_months is the real distinct-month count); the
    // layout booleans pin one-month-per-file, the month plan, the
    // zone-stripped KEY-ONLY plan, and the years point plan; march_key
    // pins Iceberg's month ordinal ((1997-1970)*12 + 2)
    "o45_temporal_projection" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("o_totalprice")} AS total_price,
                 CAST(COUNT(DISTINCT year(o_orderdate) * 12 +
                   month(o_orderdate)) AS BIGINT) AS n_months,
                 MIN(o_orderkey) AS min_orderkey,
                 MAX(o_orderkey) AS max_orderkey,
                 CAST(326 AS BIGINT) AS march_key,
                 CAST(1 AS BIGINT) AS one_month_per_file,
                 CAST(1 AS BIGINT) AS month_planned,
                 CAST(1 AS BIGINT) AS key_only_planned,
                 CAST(1 AS BIGINT) AS year_planned
          FROM orders GROUP BY 1""",
    // writable branches: content = main after the branch publish plus
    // main's own %3 append (the divergence fixture); the workflow
    // booleans pin branch isolation, branch completeness, the
    // fast-forward publish, and the divergent-publish refusal
    "o44_branches" ->
      s"""WITH t AS (
            SELECT event_id, event_type, value FROM events
            UNION ALL
            SELECT event_id, event_type, value FROM events
            WHERE event_id % 3 = 0)
          SELECT event_type, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("value")} AS total_value,
                 MIN(event_id) AS min_event_id,
                 MAX(event_id) AS max_event_id,
                 CAST(1 AS BIGINT) AS branch_isolated,
                 CAST(1 AS BIGINT) AS branch_saw_all,
                 CAST(1 AS BIGINT) AS publish_ff,
                 CAST(1 AS BIGINT) AS divergent_refused
          FROM t GROUP BY 1""",
    // write-audit-publish: content = the full table after the staged odd
    // half publishes; the workflow booleans pin staging invisibility,
    // audit completeness, and tag-rooted retention
    "o41_write_audit_publish" ->
      s"""SELECT event_type, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("value")} AS total_value,
                 MIN(event_id) AS min_event_id,
                 MAX(event_id) AS max_event_id,
                 CAST((SELECT COUNT(*) FROM events WHERE event_id % 2 = 0)
                   AS BIGINT) AS pre_publish_rows,
                 CAST(1 AS BIGINT) AS staged_invisible,
                 CAST(1 AS BIGINT) AS audit_saw_all,
                 CAST(1 AS BIGINT) AS tag_protects
          FROM events GROUP BY 1""",
    // partition evolution: content = even-id base + odd-id append (the
    // full table, bucket = user_id % 8); layout proofs are constants of
    // the evolution contract — metadata-only flip, mixed interim
    // layout, 8 one-key files after migration, exact one-file prune
    "o37_partition_evolution" ->
      s"""SELECT event_type, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("value")} AS total_value,
                 MIN(event_id) AS min_event_id,
                 MAX(event_id) AS max_event_id,
                 CAST(1 AS BIGINT) AS v1_metadata_only,
                 CAST(1 AS BIGINT) AS v2_mixed_layout,
                 CAST(8 AS BIGINT) AS n_files_migrated,
                 CAST(1 AS BIGINT) AS planned_one_bucket
          FROM events GROUP BY 1""",
    // z-order rewrite: content untouched; the layout booleans pin the
    // multi-dimensional locality contract (per-file zones bounded in
    // BOTH dims, a 2-D box predicate prunes)
    "o36_zorder_rewrite" ->
      s"""SELECT event_type, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("value")} AS total_value,
                 MIN(event_id) AS min_event_id,
                 MAX(user_id) AS max_user_id,
                 CAST(8 AS BIGINT) AS n_files,
                 CAST(1 AS BIGINT) AS bounded_both_dims,
                 CAST(1 AS BIGINT) AS box_pruned
          FROM events GROUP BY 1""",
    // Hadoop-binding lifecycle: even-id base with the %4==2 rows
    // replaced BY KEY by the upsert (value+500 under type 'hup'); the
    // proof columns are constants of the maintenance contract (2
    // compacted files, 0 live key files) plus the layout-independent
    // converted-position count (= the upsert's key count)
    "o34_hadoop_io" ->
      s"""WITH t AS (
            SELECT event_id, event_type, value FROM events
            WHERE event_id % 2 = 0 AND event_id % 4 <> 2
            UNION ALL
            SELECT event_id, 'hup' AS event_type, value + 500 AS value
            FROM events WHERE event_id % 4 = 2)
          SELECT event_type, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("value")} AS total_value,
                 MIN(event_id) AS min_event_id,
                 MAX(event_id) AS max_event_id,
                 CAST(2 AS BIGINT) AS n_files,
                 CAST(0 AS BIGINT) AS n_live_eq,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM events
                  WHERE event_id % 4 = 2) AS n_positions_converted
          FROM t GROUP BY 1""",
    // COW change feed: v0 odd-id inserts, v1 even-id inserts, v2 the
    // UPDATE's delta — pre-images as deletes, post-images as inserts
    // (unchanged rows of the rewritten groups cancel in the diff)
    "o33_cow_change_feed" ->
      s"""WITH ch AS (
            SELECT 'insert' AS change_type, CAST(0 AS BIGINT) AS commit_version,
                   event_id, event_type, value
            FROM events WHERE event_id % 2 = 1
            UNION ALL
            SELECT 'insert', 1, event_id, event_type, value
            FROM events WHERE event_id % 2 = 0
            UNION ALL
            SELECT 'delete', 2, event_id, event_type, value
            FROM events WHERE event_id % 5 = 0
            UNION ALL
            SELECT 'insert', 2, event_id, event_type, value + 100
            FROM events WHERE event_id % 5 = 0)
          SELECT change_type, commit_version, event_type, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("value")} AS total_value,
                 MIN(event_id) AS min_event_id,
                 MAX(event_id) AS max_event_id
          FROM ch GROUP BY 1, 2, 3""",
    // equality deletes: the upsert replaces every %4==2 row (all present
    // in the even-id base) by KEY; both proof counts equal the batch's
    // key count — n_eq_keys from the recorded key file, and
    // n_vector_positions from conversion finding exactly those old rows
    "o32_equality_deletes" ->
      s"""WITH t AS (
            SELECT event_id, event_type, value FROM events
            WHERE event_id % 2 = 0 AND event_id % 4 <> 2
            UNION ALL
            SELECT event_id, 'upserted' AS event_type, value + 1000 AS value
            FROM events WHERE event_id % 4 = 2)
          SELECT event_type, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("value")} AS total_value,
                 MIN(event_id) AS min_event_id,
                 MAX(event_id) AS max_event_id,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM events
                  WHERE event_id % 4 = 2) AS n_eq_keys,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM events
                  WHERE event_id % 4 = 2) AS n_vector_positions
          FROM t GROUP BY 1""",
    // schema evolution: generation 0 (pre-ALTER) reads the added column
    // as NULL, generation 1 carries real values; the version-0 read is
    // the unchanged 3-column table (n_v0_cols)
    "o31_schema_evolution" ->
      s"""WITH t AS (
            SELECT o_orderkey, o_custkey, o_totalprice,
                   CAST(NULL AS VARCHAR) AS o_orderpriority
            FROM orders WHERE o_orderkey % 3 = 0
            UNION ALL
            SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
            FROM orders WHERE o_orderkey % 3 = 1)
          SELECT o_orderkey % 10 AS bucket, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("o_totalprice")} AS total_price,
                 CAST(COUNT(o_orderpriority) AS BIGINT) AS n_with_priority,
                 MIN(CASE WHEN o_orderpriority IS NULL THEN o_orderkey END)
                   AS min_nullkey,
                 MAX(o_custkey) AS max_custkey,
                 CAST(3 AS INTEGER) AS n_v0_cols
          FROM t GROUP BY 1""",
    // XML write -> schema-on-read must be value-lossless
    "o22_xml_roundtrip" ->
      s"""SELECT event_type, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("value")} AS total_value,
                 MIN(event_id) AS min_event_id,
                 MAX(event_id) AS max_event_id
          FROM events GROUP BY 1""",
    // the checkpointed state buffers must hold exactly the aggregation
    // the stream accumulated — replayed over the sensor id domain
    "o23_state_introspection" ->
      """SELECT id % 97 AS k, COUNT(*) AS n_events,
                CAST(SUM(id) AS BIGINT) AS sum_id
         FROM range(20000) t(id) GROUP BY 1""",
    // o24: the c15 declared-cast replay (CdcQueries.declaredSnapshotSql's
    // sibling) plus the LTZ column read back as exact epoch micros — the
    // hash check covers every committed byte of the typed parquet payload
    "o24_typed_commit" ->
      """WITH latest AS (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY event_id DESC) AS rn
           FROM events)
         SELECT user_id AS id,
                CAST(event_id % 100 AS SMALLINT) AS tiny,
                CAST(event_id % 30000 AS SMALLINT) AS small,
                CAST(event_id % 8000000 AS INTEGER) AS med,
                CAST(event_id AS INTEGER) AS n,
                event_id * 1000000 AS big,
                CAST(CAST(event_id % 97 AS VARCHAR) || '.5' AS DOUBLE) AS f,
                CAST(CAST(event_id % 89 AS VARCHAR) || '.25' AS DOUBLE) AS d,
                CAST(CAST(event_id % 10000 AS VARCHAR) || '.25'
                     AS DOUBLE) AS price,
                value > 10 AS flag,
                event_type AS name,
                CAST(ts AS DATE) AS born,
                CAST(date_trunc('second', ts) AS TIMESTAMP) AS updated,
                epoch_us(CAST(date_trunc('second', ts) AS TIMESTAMP)) AS upd_us,
                strftime(ts, '%H:%M:%S') AS t,
                CAST(1900 + event_id % 155 AS SMALLINT) AS y,
                md5(CAST(event_id AS VARCHAR)) AS u,
                props AS j,
                event_type AS e
         FROM latest WHERE rn = 1""",
    // o25: the same replay with the second MERGE's matched-branch
    // arithmetic folded in — even ids accumulate n and price through the
    // typed copy-on-write rewrite, odd ids ride the INSERT branch
    "o25_typed_cdc_merge" ->
      """WITH latest AS (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY event_id DESC) AS rn
           FROM events)
         SELECT user_id AS id,
                CAST(event_id % 100 AS SMALLINT) AS tiny,
                CAST(event_id % 30000 AS SMALLINT) AS small,
                CAST(event_id % 8000000 AS INTEGER) AS med,
                CAST(CASE WHEN user_id % 2 = 0 THEN 2 * event_id
                          ELSE event_id END AS INTEGER) AS n,
                event_id * 1000000 AS big,
                CAST(CAST(event_id % 97 AS VARCHAR) || '.5' AS DOUBLE) AS f,
                CAST(CAST(event_id % 89 AS VARCHAR) || '.25' AS DOUBLE) AS d,
                CAST((CASE WHEN user_id % 2 = 0 THEN 2 ELSE 1 END) *
                     CAST(CAST(event_id % 10000 AS VARCHAR) || '.25'
                          AS DECIMAL(12,4)) AS DOUBLE) AS price,
                value > 10 AS flag,
                event_type AS name,
                CAST(ts AS DATE) AS born,
                CAST(date_trunc('second', ts) AS TIMESTAMP) AS updated,
                strftime(ts, '%H:%M:%S') AS t,
                CAST(1900 + event_id % 155 AS SMALLINT) AS y,
                md5(CAST(event_id AS VARCHAR)) AS u,
                props AS j,
                event_type AS e
         FROM latest WHERE rn = 1""",
    // o26: the store read must reconstruct w14's leaderboard EXACTLY —
    // the oracle IS w14's (the strongest form of the state check)
    "o26_state_families" ->
      graft.ops.Streaming.oracles("w14_mapstate_leaderboard"),
    // the selective MERGE replayed as LEFT JOIN + anti-join INSERT; the
    // n_carried_files literal 7 is the group-prune proof — a fallback to
    // whole-table copy-on-write reports 0 carried and hash-mismatches
    "o21_dsv2_merge_groupprune" ->
      s"""WITH m AS (SELECT event_id, value FROM events WHERE event_id < 50),
               s AS (SELECT event_id, value + 1.0 AS v FROM m
                     UNION ALL
                     SELECT event_id + 100000000, value + 1.0 FROM m
                     WHERE event_id % 2 = 0),
               merged AS (
                 SELECT t.event_id, t.event_type,
                        CASE WHEN s.event_id IS NOT NULL
                             THEN t.value + s.v ELSE t.value END AS value
                 FROM events t LEFT JOIN s ON t.event_id = s.event_id
                 UNION ALL
                 SELECT s.event_id, 'merged', s.v
                 FROM s LEFT JOIN events t ON t.event_id = s.event_id
                 WHERE t.event_id IS NULL)
          SELECT event_type, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("value")} AS total_value,
                 MIN(event_id) AS min_event_id,
                 MAX(event_id) AS max_event_id,
                 CAST(7 AS INTEGER) AS n_carried_files
          FROM merged GROUP BY 1""",
    // merge-on-read MERGE: update/delete/insert replay; 8 untouched
    // files by construction (the delta write appends, never rewrites);
    // vector positions = the matched row count (each matched row's old
    // version becomes exactly one position)
    "o28_mor_merge" ->
      s"""WITH m AS (SELECT event_id, value FROM events WHERE event_id < 50),
               s AS (SELECT event_id, value + 1.0 AS v FROM m
                     UNION ALL
                     SELECT event_id + 100000000, value + 1.0 FROM m
                     WHERE event_id % 2 = 0),
               merged AS (
                 SELECT t.event_id, t.event_type,
                        CASE WHEN s.event_id IS NOT NULL
                             THEN t.value + s.v ELSE t.value END AS value
                 FROM events t LEFT JOIN s ON t.event_id = s.event_id
                 WHERE NOT (s.event_id IS NOT NULL AND t.value > 95.0)
                 UNION ALL
                 SELECT s.event_id, 'merged', s.v
                 FROM s LEFT JOIN events t ON t.event_id = s.event_id
                 WHERE t.event_id IS NULL)
          SELECT event_type, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("value")} AS total_value,
                 MIN(event_id) AS min_event_id,
                 MAX(event_id) AS max_event_id,
                 CAST(8 AS INTEGER) AS n_untouched_files,
                 CAST((SELECT COUNT(*) FROM events WHERE event_id < 50)
                      AS BIGINT) AS n_vector_positions
          FROM merged GROUP BY 1""",
    // vector maintenance: survivors after both deletes, with the
    // targeting proven — 1 file rewritten, and the positions still in
    // vectors = exactly the sparse delete's row count (q55 precedent:
    // percentile_cont == quantile_cont interpolation, cast to BIGINT)
    "o30_vector_maintenance" ->
      s"""WITH cut AS (
            SELECT CAST(FLOOR(quantile_cont(event_id, 0.22)) AS BIGINT) AS c,
                   CAST(FLOOR(quantile_cont(event_id, 0.40)) AS BIGINT) AS ch
            FROM events),
           survivors AS (
            SELECT event_id, event_type, value FROM events, cut
            WHERE NOT (event_id <= c)
              AND NOT (event_id % 97 = 0 AND event_id > ch))
          SELECT event_type, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("value")} AS total_value,
                 MIN(event_id) AS min_event_id,
                 MAX(event_id) AS max_event_id,
                 CAST(1 AS INTEGER) AS n_rewritten,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM events, cut
                  WHERE event_id % 97 = 0 AND event_id > ch) AS n_positions_left
          FROM survivors GROUP BY 1""",
    // the change feed's three commits replayed from the raw table:
    // v0 = odd-id inserts, v1 = even-id inserts, v2 = vector deletes
    "o29_change_data_feed" ->
      s"""WITH ch AS (
            SELECT 'insert' AS change_type, CAST(0 AS BIGINT) AS commit_version,
                   event_id, event_type, value
            FROM events WHERE event_id % 2 = 1
            UNION ALL
            SELECT 'insert', 1, event_id, event_type, value
            FROM events WHERE event_id % 2 = 0
            UNION ALL
            SELECT 'delete', 2, event_id, event_type, value
            FROM events WHERE value > 90.0)
          SELECT change_type, commit_version, event_type, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("value")} AS total_value,
                 MIN(event_id) AS min_event_id,
                 MAX(event_id) AS max_event_id
          FROM ch GROUP BY 1, 2, 3""",
    // the 3 commit-batches must compose to the whole-table aggregate
    "o20_dsv2_table_stream" ->
      s"""SELECT event_type, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("value")} AS total_value,
                 MIN(event_id) AS min_event_id,
                 MAX(event_id) AS max_event_id
          FROM events GROUP BY 1""",
    // the within-watermark dedup's survivor key set is exactly
    // DISTINCT(id % 2000) — the readout never touches the surviving
    // row's arrival-dependent columns
    "w17_dedup_within_watermark" ->
      """WITH s AS (SELECT DISTINCT id % 2000 AS k FROM range(20000) t(id))
         SELECT k % 10 AS bucket, COUNT(*) AS n_keys,
                CAST(SUM(k) AS BIGINT) AS sum_k
         FROM s GROUP BY 1""",
    // the 4 per-batch MERGEs must fold to the one-shot aggregate —
    // exact long arithmetic makes the state batch-boundary invariant
    "w16_stream_merge_upsert" ->
      """WITH s AS (
           SELECT id, CAST(id % 97 AS INT) AS sensor FROM range(20000) t(id))
         SELECT sensor, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(id) AS BIGINT) AS sum_id
         FROM s GROUP BY 1""",
    // compaction + expiry must be value-invisible; the file/version
    // counts are the pinned lifecycle invariants (4 compacted files,
    // 1 expired version, versions {1, 2} live)
    "o19_dsv2_compaction" ->
      s"""SELECT event_type, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("value")} AS total_value,
                 MIN(event_id) AS min_event_id,
                 MAX(event_id) AS max_event_id,
                 CAST(4 AS BIGINT) AS n_files,
                 CAST(1 AS BIGINT) AS n_versions_expired,
                 CAST(2 AS BIGINT) AS n_versions_live
          FROM events GROUP BY 1""",
    // the manifest-served totals must equal the honest corpus aggregate
    "o18_dsv2_meta_agg" ->
      """SELECT COUNT(*) AS n,
                MIN(event_id) AS min_event_id, MAX(event_id) AS max_event_id,
                MIN(user_id) AS min_user_id, MAX(user_id) AS max_user_id
         FROM events""",
    // the layout hop (range write → skipping read) must be value-invisible
    "o14_dsv2_file_skipping" ->
      s"""SELECT event_type, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("value")} AS total_value,
                 MIN(event_id) AS min_event_id,
                 MAX(event_id) AS max_event_id
          FROM events
          WHERE event_id >= 100 AND event_id < 2000
          GROUP BY 1""",
    // the broadcast-joined dim is itself a projection of events — replay
    // the whole chain
    "o15_dsv2_stats_broadcast" ->
      s"""WITH dim AS (
            SELECT event_type, COUNT(*) AS type_n,
                   ${graft.Tables.sqlDsum("value")} AS type_total
            FROM events GROUP BY 1)
          SELECT e.event_type, COUNT(*) AS n,
                 MAX(d.type_n) AS type_n,
                 MAX(d.type_total) AS type_total,
                 ${graft.Tables.sqlDsum("e.value")} AS total_value
          FROM events e JOIN dim d USING (event_type)
          GROUP BY 1""",
    // the two slices' per-user / per-bucket aggregates joined back —
    // exact integer arithmetic end to end
    "o16_dsv2_spj" ->
      """WITH a AS (
           SELECT user_id % 32 AS bucket, user_id,
                  CAST(COUNT(*) AS BIGINT) AS a_n,
                  CAST(SUM(event_id) AS BIGINT) AS a_sum
           FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2),
         b AS (
           SELECT user_id % 32 AS bucket,
                  CAST(COUNT(*) AS BIGINT) AS b_n,
                  CAST(SUM(event_id) AS BIGINT) AS b_sum
           FROM events WHERE event_id % 2 = 1 GROUP BY 1)
         SELECT a.bucket, CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users,
                CAST(SUM(a.a_n) AS BIGINT) AS a_events,
                CAST(SUM(a.a_sum) AS BIGINT) AS a_sum_eid,
                MAX(b.b_n) AS b_events, MAX(b.b_sum) AS b_sum_eid
         FROM a JOIN b USING (bucket)
         GROUP BY 1""",
    // each version is a deterministic event_id%3 slice union
    "o17_dsv2_time_travel" ->
      s"""WITH v AS (
            SELECT 0 AS version, event_id, value FROM events WHERE event_id % 3 = 0
            UNION ALL
            SELECT 1, event_id, value FROM events WHERE event_id % 3 IN (0, 1)
            UNION ALL
            SELECT 2, event_id, value FROM events WHERE event_id % 3 = 2)
          SELECT CAST(version AS BIGINT) AS version, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("value")} AS total_value,
                 MIN(event_id) AS min_event_id,
                 MAX(event_id) AS max_event_id
          FROM v GROUP BY 1""",
    // full replay of the three-branch MERGE over a FULL OUTER JOIN of the
    // two slices (+ the shifted no-match cohort): matched & capped →
    // deleted, matched → exact long sums, target-only → untouched,
    // source-only → inserted
    "o13_dsv2_merge_upsert" ->
      """WITH t AS (
           SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                  CAST(SUM(event_id) AS BIGINT) AS sum_eid
           FROM events WHERE event_id % 3 <> 0 GROUP BY 1),
         s2 AS (
           SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(event_id) AS BIGINT) AS s
           FROM events WHERE event_id % 3 = 0 GROUP BY 1),
         s AS (
           SELECT user_id, n, s FROM s2
           UNION ALL
           SELECT user_id + 10000000, n, s FROM s2 WHERE user_id % 10 = 0)
         SELECT COALESCE(t.user_id, s.user_id) AS user_id,
                CASE WHEN t.user_id IS NULL THEN s.n
                     WHEN s.user_id IS NULL THEN t.n_events
                     ELSE t.n_events + s.n END AS n_events,
                CASE WHEN t.user_id IS NULL THEN s.s
                     WHEN s.user_id IS NULL THEN t.sum_eid
                     ELSE t.sum_eid + s.s END AS sum_eid
         FROM t FULL OUTER JOIN s ON t.user_id = s.user_id
         WHERE NOT (t.user_id IS NOT NULL AND s.user_id IS NOT NULL
                    AND t.n_events + s.n > 66)""",
    // the survivors of the copy-on-write DELETE: NOT(cond) keeps a row
    // (the fixture has no NULL event_type/value, so NOT() is total)
    // merge-on-read: two stacked vector deletes must read back as the
    // one-shot NOT(c1) AND NOT(c2) survivor set
    "o27_delete_vectors" ->
      s"""SELECT event_type, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("value")} AS total_value,
                 MIN(event_id) AS min_event_id,
                 MAX(event_id) AS max_event_id
          FROM events
          WHERE NOT (event_id >= 100 AND event_id < 2000 AND event_type = 'click')
            AND NOT (value > 95.0)
          GROUP BY 1""",
    "o12_dsv2_delete_where" ->
      s"""SELECT event_type, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("value")} AS total_value,
                 MIN(event_id) AS min_event_id,
                 MAX(event_id) AS max_event_id
          FROM events
          WHERE NOT (event_type = 'error' OR value > 90.0)
          GROUP BY 1""",
    // the one-shot aggregate the 4 epoch commits must compose to
    "o11_dsv2_stream_sink" ->
      s"""WITH s AS (
            SELECT id, CAST(id % 97 AS INT) AS sensor,
                   ((id * 2654435761) % 100000) / 1000.0 AS reading
            FROM range(20000) t(id))
          SELECT sensor, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("reading")} AS total_reading,
                 MAX(id) AS max_id
          FROM s GROUP BY 1""",
    // the one-shot aggregate the 5 micro-batches must converge to
    "o10_dsv2_stream_read" ->
      s"""WITH s AS (
            SELECT id, CAST(id % 97 AS INT) AS sensor,
                   ((id * 2654435761) % 100000) / 1000.0 AS reading
            FROM range(50000) t(id))
          SELECT sensor, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("reading")} AS total_reading,
                 MAX(id) AS max_id
          FROM s WHERE id >= 5000 AND id < 45000
          GROUP BY 1""",
    // the read-back aggregate must equal the same aggregate over the
    // source table — the losslessness statement of the commit protocol
    "o09_dsv2_commit_write" ->
      s"""SELECT event_type, COUNT(*) AS n,
                 CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
                 ${graft.Tables.sqlDsum("value")} AS total_value,
                 MIN(event_id) AS min_event_id,
                 MAX(event_id) AS max_event_id
          FROM events GROUP BY 1""",
    "o01_orc_roundtrip" ->
      s"""SELECT l_returnflag, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("l_extendedprice")} AS total
          FROM lineitem GROUP BY 1""",
    "o02_bucketed_join" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("l_extendedprice * (1 - l_discount)")} AS revenue
          FROM lineitem JOIN orders ON o_orderkey = l_orderkey
          GROUP BY 1""",
    "o03_partitioned_prune" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("o_totalprice")} AS total
          FROM orders WHERE year(o_orderdate) = 1997
          GROUP BY 1""",
    // generational split + null-fill replayed over the original table
    "o04_schema_merge" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n,
                 CAST(SUM(CASE WHEN o_orderdate < DATE '1995-01-01'
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_old_generation,
                 CAST(SUM(CASE WHEN o_orderdate >= DATE '1995-01-01'
                                AND o_totalprice > 200000.0
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
                 ${graft.Tables.sqlDsum("o_totalprice")} AS total
          FROM orders GROUP BY 1""",
    // the SensorSource row formula replayed verbatim over range(n)
    "o05_dsv2_source" ->
      s"""WITH s AS (
            SELECT id, CAST(id % 97 AS INT) AS sensor,
                   TIMESTAMP '2024-01-01 00:00:00' + id * INTERVAL '1 second' AS ts,
                   ((id * 2654435761) % 100000) / 1000.0 AS reading,
                   CASE WHEN id % 13 = 0 THEN 'alert'
                        WHEN id % 5 = 0 THEN 'warn'
                        ELSE 'ok' END AS status
            FROM range(100000) t(id))
          SELECT sensor, COUNT(*) AS n,
                 ${graft.Tables.sqlDsum("reading")} AS total_reading,
                 MAX(ts) AS max_ts,
                 CAST(SUM(CASE WHEN status = 'warn' THEN 1 ELSE 0 END) AS BIGINT) AS n_warn
          FROM s WHERE id >= 20000 AND id < 60000 AND status <> 'alert'
          GROUP BY 1""",
    "o06_dsv2_agg_pushdown" ->
      """SELECT COUNT(*) AS n, MIN(id) AS min_id, MAX(id) AS max_id
         FROM range(1000000) t(id)
         WHERE id >= 250000 AND id < 750000""",
    "o07_dsv2_topn_pushdown" ->
      """WITH s AS (
           SELECT id, CAST(id % 97 AS INT) AS sensor,
                  ((id * 2654435761) % 100000) / 1000.0 AS reading,
                  CASE WHEN id % 13 = 0 THEN 'alert'
                       WHEN id % 5 = 0 THEN 'warn'
                       ELSE 'ok' END AS status
           FROM range(100000) t(id))
         SELECT id, sensor, reading, status FROM s
         WHERE id >= 20000 AND id < 90000
         ORDER BY id DESC LIMIT 25""",
    "o08_dsv2_runtime_filter" ->
      s"""WITH s AS (
            SELECT id, ((id * 2654435761) % 100000) / 1000.0 AS reading
            FROM range(1000000) t(id)),
          k AS (
            SELECT DISTINCT CAST((o_orderkey * 7919) % 100000 + 450000
                                 AS BIGINT) AS id
            FROM orders WHERE o_orderkey < 30)
          SELECT COUNT(*) AS n, MIN(s.id) AS min_id, MAX(s.id) AS max_id,
                 ${graft.Tables.sqlDsum("reading")} AS total_reading
          FROM s JOIN k USING (id)""",
  )
}
