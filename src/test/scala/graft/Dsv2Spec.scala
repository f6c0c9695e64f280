package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{SensorSource, Sources}

/** The custom DataSource V2 connector's three scan-time contracts —
  * column pruning, filter absorption, partition pruning — asserted
  * against real plans, plus value parity with an equivalent
  * `spark.range`-based computation.
  */
class Dsv2Spec extends AnyFunSuite {
  import TestSpark._

  private def sensors(rows: Long, slices: Int) =
    spark.read.format("graft-sensors")
      .option("rows", rows).option("slices", slices).load()

  /** The row formula restated over spark.range — the independent twin. */
  private def reference(rows: Long) =
    spark.range(rows).select(
      col("id"),
      (col("id") % 97).cast("int").as("sensor"),
      (lit(SensorSource.baseMicros) + col("id") * 1000000L).as("us"),
      ((col("id") * 2654435761L) % 100000L / 1000.0).as("reading"),
      when(col("id") % 13 === 0, "alert").when(col("id") % 5 === 0, "warn")
        .otherwise("ok").as("status"))
      .withColumn("ts", timestamp_micros(col("us")).cast("timestamp_ntz"))
      .drop("us")
      .select("id", "sensor", "ts", "reading", "status")

  test("short name resolves via DataSourceRegister and values match the formula") {
    val got = sensors(5000, 4).collect().sortBy(_.getLong(0))
    val want = reference(5000).collect().sortBy(_.getLong(0))
    assert(got.length == 5000)
    assert(got.toSeq == want.toSeq)
  }

  test("id predicates are absorbed by the source and prune partitions") {
    val df = sensors(100000, 16).filter(col("id") >= 20000L && col("id") < 60000L)
    val scan = sources.CommitScan.of(df)
    val desc = scan.description()
    assert(desc.contains("GreaterThanOrEqual(id,20000)"), desc)
    assert(desc.contains("LessThan(id,60000)"), desc)
    // 16 slices of 6250 over [0,100000); [20000,60000) touches slices 3..9
    assert(df.rdd.getNumPartitions == 7,
      s"expected 7 surviving partitions, got ${df.rdd.getNumPartitions}")
    assert(df.count() == 40000)
    // absorption is exact: min/max at the clamp edges
    val r = df.agg(min("id"), max("id")).head()
    assert(r.getLong(0) == 20000L && r.getLong(1) == 59999L)
  }

  test("non-id predicates stay residual but still filter") {
    val df = sensors(1000, 2).filter(col("status") === "alert")
    val desc = sources.CommitScan.of(df).description()
    val pushedSeg = desc.substring(desc.indexOf("PushedFilters=["))
      .takeWhile(_ != ']')
    assert(!pushedSeg.contains("status"),
      s"status must not appear in pushed filters: $desc")
    assert(pushedSeg == "PushedFilters=[", s"nothing should be pushed: $desc")
    // ids 0,13,26,... -> ceil(1000/13)
    assert(df.count() == 77)
  }

  test("column pruning reaches the reader") {
    val df = sensors(1000, 2).select("sensor", "reading")
    val desc = sources.CommitScan.of(df).description()
    assert(desc.contains("ReadSchema=sensor,reading"), desc)
    assert(df.columns.toSeq == Seq("sensor", "reading"))
    assert(df.distinct().count() > 0)
  }

  test("contradictory clamp plans zero partitions; COUNT(*) works on empty projection") {
    val empty = sensors(1000, 4).filter(col("id") < 0L)
    assert(empty.rdd.getNumPartitions == 0)
    assert(empty.count() == 0)
    assert(sensors(1000, 4).count() == 1000) // COUNT(*): empty required schema
  }

  /** Aggregate plans wrap in AdaptiveSparkPlanExec, which hides the scan
    * from collectFirst until execution — disable AQE around the plan
    * assertions (the pushdown itself is AQE-independent). */
  private def withoutAqe[A](body: => A): A = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("aggregate pushdown: closed-form partials, no data rows generated") { withoutAqe {
    val df = sensors(1000000, 32)
      .filter(col("id") >= 250000L && col("id") < 750000L)
      .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
        max(col("id")).as("max_id"))
    val scan = sources.CommitScan.of(df)
    val desc = scan.description()
    assert(desc.contains("PushedAggregates=[COUNT(*), MIN(id), MAX(id)]"), desc)
    // the scan emits one partial row per surviving slice, not 500k rows:
    // [250000, 750000) over 32 slices of 31250 tiles slices 8..23 = 16
    val parts = scan.asInstanceOf[org.apache.spark.sql.connector.read.Batch]
      .planInputPartitions().length
    assert(parts == 16, s"expected 16 partial partitions, got $parts")
    val r = df.head()
    assert(r.getLong(0) == 500000L && r.getLong(1) == 250000L && r.getLong(2) == 749999L)
  } }

  test("aggregate pushdown declines group-by and non-id aggregates") { withoutAqe {
    // grouped aggregate: not pushed — falls back to the row scan
    val grouped = sensors(10000, 4).groupBy(col("status")).agg(count(lit(1)).as("n"))
    val gdesc = sources.CommitScan.of(grouped).description()
    assert(!gdesc.contains("PushedAggregates"), gdesc)
    assert(grouped.collect().map(_.getLong(1)).sum == 10000L)
    // sum(reading): not closed-form — declined, answered from real rows
    val sums = sensors(10000, 4).agg(sum(col("reading")).as("s"), count(lit(1)).as("n"))
    val sdesc = sources.CommitScan.of(sums).description()
    assert(!sdesc.contains("PushedAggregates"), sdesc)
    assert(sums.head().getLong(1) == 10000L)
  } }

  test("limit pushdown: the scan generates a k-row prefix and plans one slice") { withoutAqe {
    val df = sensors(100000, 16).limit(10)
    val scan = sources.CommitScan.of(df)
    assert(scan.description().contains("PushedLimit=10"), scan.description())
    // [0, 10) intersects only the first 6250-row slice
    val parts = scan.asInstanceOf[org.apache.spark.sql.connector.read.Batch]
      .planInputPartitions().length
    assert(parts == 1, s"expected 1 planned slice, got $parts")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (0L until 10L))
  } }

  test("topN pushdown on id DESC: k-row suffix of the clamp, ordered result intact") { withoutAqe {
    val df = sensors(100000, 16)
      .filter(col("id") >= 20000L && col("id") < 90000L)
      .orderBy(col("id").desc).limit(25)
    val scan = sources.CommitScan.of(df)
    val desc = scan.description()
    assert(desc.contains("PushedTopNDescLimit=25"), desc)
    // the 25-row suffix [89975, 90000) lives in one slice
    val parts = scan.asInstanceOf[org.apache.spark.sql.connector.read.Batch]
      .planInputPartitions().length
    assert(parts == 1, s"expected 1 planned slice, got $parts")
    assert(df.collect().map(_.getLong(0)).toSeq == (89999L to 89975L by -1L))
  } }

  test("topN pushdown on id ASC rides the prefix path") { withoutAqe {
    val df = sensors(100000, 16).orderBy(col("id").asc).limit(7)
    val desc = sources.CommitScan.of(df).description()
    assert(desc.contains("PushedLimit=7"), desc)
    assert(df.collect().map(_.getLong(0)).toSeq == (0L until 7L))
  } }

  test("topN on a non-id or multi-key sort is declined; sort runs above the scan") { withoutAqe {
    val df = sensors(1000, 4).orderBy(col("status").asc, col("id").asc).limit(5)
    val desc = sources.CommitScan.of(df).description()
    assert(!desc.contains("PushedLimit") && !desc.contains("PushedTopN"), desc)
    // 'alert' ids sort first: 0, 13, 26, 39, 52
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(0L, 13L, 26L, 39L, 52L))
  } }

  test("runtime filtering: the broadcast join's key set clamps the scan at execution") { withoutAqe {
    // the pruning rule requires a selective predicate on the build side —
    // a bare Range correctly plans RuntimeFilters: [] (no benefit inferred)
    val bare = sensors(1000000, 32)
      .join(broadcast(spark.range(450000, 450400).select(col("id"))), "id")
      .agg(count(lit(1)).as("n"))
    assert(bare.queryExecution.executedPlan.toString.contains("RuntimeFilters: []"))
    val keys = spark.range(1000000)
      .filter(col("id") >= 450000L && col("id") < 450400L)
    val df = sensors(1000000, 32).join(broadcast(keys), "id")
      .agg(count(lit(1)).as("n"), min(col("id")), max(col("id")))
    // collect() executes THIS queryExecution (head() would build its own,
    // leaving the inspected scan instance unfiltered)
    val row = df.collect()(0)
    assert(row.getLong(0) == 400L && row.getLong(1) == 450000L && row.getLong(2) == 450399L)
    // the executed plan must carry the runtime (dynamic pruning) filter on
    // the v2 scan, and the post-filter scan must have planned only the
    // slices intersecting [450000, 450400) — 1 of 32
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("RuntimeFilters: [dynamicpruning"), plan.take(2000))
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec if b.scan.description().contains("graft_sensors") => b
    }.getOrElse(fail("no sensor BatchScanExec in executed plan"))
    val parts = scan.scan.asInstanceOf[org.apache.spark.sql.connector.read.Batch]
      .planInputPartitions()
    assert(parts.length == 1,
      s"expected 1 runtime-pruned slice, got ${parts.length}")
  } }

  test("micro-batch streaming read: offsets tile the id space, several real triggers, result == batch") {
    // o10's run, instrumented: the stream must advance in streamBatchRows
    // windows (real incremental triggers, not one folded batch) and the
    // complete-mode agg must equal the batch read of the same options
    val ckpt = java.nio.file.Files.createTempDirectory("o10_spec").toString
    spark.catalog.dropTempView("o10_spec_stream")
    val q = spark.readStream.format("graft-sensors")
      .option("rows", 5000).option("slices", 4)
      .option("streamBatchRows", 1000).load()
      .filter(col("id") >= 500L && col("id") < 4500L)
      .groupBy(col("sensor") % 10)
      .agg(count(lit(1)).as("n"), max(col("id")).as("max_id"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("o10_spec_stream")
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    val progress = q.asInstanceOf[org.apache.spark.sql.streaming.StreamingQuery]
      .recentProgress
    q.stop()
    val withRows = progress.filter(_.numInputRows > 0)
    assert(withRows.length >= 3,
      s"expected several real micro-batches, saw ${withRows.length}")
    // offsets tile [0, rows) exactly once: total source rows == the full
    // id space (measured: Spark does NOT push the filter into the
    // micro-batch scan — it filters above, so the source emits every
    // admitted id exactly once)
    assert(withRows.map(_.numInputRows).sum == 5000L,
      "micro-batch windows must cover the id space exactly once")
    val streamed = spark.table("o10_spec_stream").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val batch = spark.read.format("graft-sensors")
      .option("rows", 5000).option("slices", 4).load()
      .filter(col("id") >= 500L && col("id") < 4500L)
      .groupBy(col("sensor") % 10)
      .agg(count(lit(1)).as("n"), max(col("id")).as("max_id"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(streamed.toSeq == batch.toSeq,
      "incremental state must converge to the one-shot batch aggregate")
  }

  test("o05 equals the same aggregate over the reference twin") {
    val got = Sources.o05Dsv2Source(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.get(3).toString, r.getLong(4)))
      .sortBy(_._1)
    val want = reference(100000)
      .filter(col("id") >= 20000L && col("id") < 60000L && col("status") =!= "alert")
      .groupBy(col("sensor"))
      .agg(count(lit(1)).as("n"), Tables.dsum(col("reading")).as("total_reading"),
        max(col("ts")).as("max_ts"),
        sum(when(col("status") === "warn", 1L).otherwise(0L)).as("n_warn"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.get(3).toString, r.getLong(4)))
      .sortBy(_._1)
    assert(got.toSeq == want.toSeq)
  }
}
