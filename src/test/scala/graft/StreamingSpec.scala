package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc.{Apply, Envelope}
import graft.gen.Workload
import graft.ops.Streaming

import java.sql.Timestamp

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double)

/** Stream-vs-batch parity: every Streaming transformation must produce the
  * same result when driven through a real StreamingQuery (MemoryStream →
  * memory sink) as when run in batch over the same rows.
  */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private lazy val rows: Seq[Ev] =
    Tables.events(spark, sf0001)
      .select($"event_id", $"ts".cast("timestamp"), $"user_id", $"event_type", $"value")
      .as[Ev].collect().toSeq

  private def runStream(name: String)(xform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Ev]
    ms.addData(rows.take(500))
    ms.addData(rows.drop(500))
    // event-time watermarks require TIMESTAMP (LTZ) — session TZ is UTC,
    // so instants match the batch NTZ values exactly
    val q = xform(ms.toDF().withWatermark("ts", "10 minutes"))
      .writeStream.outputMode("complete").format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    spark.table(name)
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet

  test("tumbling window: streaming == batch") {
    val streamed = runStream("tumble")(Streaming.tumblingCounts)
    val batch = Streaming.tumblingCounts(Tables.events(spark, sf0001))
    assert(canon(streamed) == canon(batch))
  }

  test("session window: streaming == batch") {
    val streamed = runStream("sess")(Streaming.sessionCounts)
    val batch = Streaming.sessionCounts(Tables.events(spark, sf0001))
    assert(canon(streamed) == canon(batch))
  }

  test("dynamic-gap session window: streaming == batch") {
    val streamed = runStream("dynsess")(Streaming.dynamicSessionCounts)
    val batch = Streaming.dynamicSessionCounts(Tables.events(spark, sf0001))
    assert(canon(streamed) == canon(batch))
  }

  test("stream-static join: streaming enrichment == batch") {
    val cust = Tables.customer(spark, sf0001)
    val streamed = runStream("enrich")(df => Streaming.enrichPerSegment(df, cust))
    val batch = Streaming.enrichPerSegment(Tables.events(spark, sf0001), cust)
    assert(canon(streamed) == canon(batch))
  }

  test("stream-stream interval join: streaming == batch") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Ev]
    ms.addData(rows.take(500))
    ms.addData(rows.drop(500))
    // two watermarked branches of the same source — Spark treats them as
    // two streams; the interval bound makes the join state evictable
    val s = Streaming.signupSide(ms.toDF()).withWatermark("s_ts", "1 hour")
    val c = Streaming.clickSide(ms.toDF()).withWatermark("c_ts", "1 hour")
    val q = Streaming.intervalJoin(s, c)
      .writeStream.outputMode("append").format("memory").queryName("ssjoin")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val batch = Streaming.w06StreamStreamJoin(spark, sf0001)
    assert(canon(spark.table("ssjoin")) == canon(batch))
  }

  test("outer interval join: unmatched signups emit once the watermark clears the horizon") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Ev]
    ms.addData(rows.take(500))
    ms.addData(rows.drop(500))
    // sentinels on BOTH branches: the query's global watermark is the MIN
    // across inputs, and each side's filter drops the other's sentinel —
    // a click-only sentinel leaves the signup watermark at the real max,
    // holding back the last signups' definitive-NULL rows
    val maxTs = rows.map(_.ts.getTime).max
    ms.addData(Seq(
      Ev(-2L, new Timestamp(maxTs + 86400000L), -2L, "signup", 0.0),
      Ev(-1L, new Timestamp(maxTs + 3L * 86400000L), -1L, "click", 0.0)))
    val s = Streaming.signupSide(ms.toDF()).withWatermark("s_ts", "1 hour")
    val c = Streaming.clickSide(ms.toDF()).withWatermark("c_ts", "1 hour")
    val q = Streaming.outerIntervalJoin(s, c)
      .writeStream.outputMode("append").format("memory").queryName("osjoin")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val batch = Streaming.w12OuterIntervalJoin(spark, sf0001)
    assert(canon(spark.table("osjoin").filter(col("user_id") >= 0)) == canon(batch))
    // and the outer rows are really there: some signups have no click
    assert(batch.filter(col("click_id").isNull).count() > 0)
  }

  test("chained windowed aggregation: streaming == batch") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Ev]
    ms.addData(rows.take(500))
    ms.addData(rows.drop(500))
    // sentinel far past the real data: advances the watermark so every
    // real hour window closes and emits (append mode holds open windows)
    val maxTs = rows.map(_.ts.getTime).max
    ms.addData(Seq(Ev(-1L, new Timestamp(maxTs + 86400000L), -1L, "sentinel", 0.0)))
    // chained time windows (second agg over window_time) — the streaming
    // form of Streaming.chainedWindowStats; multiple stateful aggs need
    // append mode + watermark
    val q = ms.toDF().withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "10 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .groupBy(window(window_time($"w"), "1 hour").as("h"), $"event_type")
      .agg(count(lit(1)).as("n_windows"),
           (sum($"n").cast("double") / count(lit(1))).as("avg_per_10min"),
           max($"n").as("max_per_10min"))
      .select($"h.start".cast("timestamp_ntz").as("hour_start"), $"event_type",
              $"n_windows", $"avg_per_10min", $"max_per_10min")
      .writeStream.outputMode("append").format("memory").queryName("chained")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("chained").filter($"event_type" =!= "sentinel")
    val batch = Streaming.chainedWindowStats(Tables.events(spark, sf0001))
    assert(canon(streamed) == canon(batch))
  }

  test("late rows beyond the watermark are dropped; closed windows never re-emit") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Ev]
    val base = rows.take(300)
    val q = ms.toDF().withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select($"w.start".cast("timestamp_ntz").as("ws"), $"n")
      .writeStream.outputMode("append").format("memory").queryName("late_drop")
      .start()
    // explicit micro-batch boundaries (one addData per batch — AvailableNow
    // would fold them into a single batch and the watermark would never
    // advance ahead of the late rows)
    ms.addData(base)
    q.processAllAvailable()
    // sentinel a day ahead: advances the watermark, closing every base window
    val maxTs = base.map(_.ts.getTime).max
    ms.addData(Seq(Ev(-1L, new Timestamp(maxTs + 86400000L), -1L, "sentinel", 0.0)))
    q.processAllAvailable()
    // then a very late burst re-sending old rows — all beyond the watermark
    ms.addData(base.take(50).map(e => e.copy(event_id = e.event_id + 1000000L)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("late_drop").as[(java.time.LocalDateTime, Long)].collect().toMap
    // every emitted window carries the pre-late-burst count, exactly once
    val expected = spark.createDataset(base)
      .groupBy(window($"ts", "1 hour").getField("start").cast("timestamp_ntz").as("ws"))
      .agg(count(lit(1)).as("n"))
      .as[(java.time.LocalDateTime, Long)].collect().toMap
    assert(got == expected, "closed windows must keep their on-time counts; late rows must be dropped")
  }

  test("streaming dedup-within-watermark emits one row per key") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Ev]
    // duplicate the whole feed — dedup must collapse the copies
    ms.addData(rows.take(200))
    ms.addData(rows.take(200))
    val q = ms.toDF()
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.outputMode("append").format("memory").queryName("dedupw")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("dedupw")
    assert(got.count() == 200)
    assert(got.select("event_id").distinct().count() == 200)
  }

  test("w14/w15: MapState leaderboard and ListState CEP — streaming == batch across micro-batches") {
    import ops.Streaming.UserEvent
    implicit val sq = spark.sqlContext
    withConf("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val feed = Tables.events(spark, sf0001)
        .select($"event_id", $"user_id", $"event_type", $"value")
        .as[UserEvent].collect().sortBy(_.event_id)

      // --- w14: the state is cumulative, so the FINAL emission per type
      // after two micro-batches must equal the one-batch run
      val ms = MemoryStream[UserEvent]
      val (half1, half2) = feed.splitAt(feed.length / 2)
      ms.addData(half1.toSeq)
      ms.addData(half2.toSeq)
      val perBatch = scala.collection.mutable.Map.empty[Long, Seq[(String, Int, Long, Double)]]
      val q = ops.Streaming.typeLeaderboard(ms.toDS())
        .writeStream.outputMode("update")
        .foreachBatch { (df: org.apache.spark.sql.Dataset[ops.Streaming.Leader], id: Long) =>
          perBatch(id) = df.collect().toSeq
            .map(l => (l.event_type, l.rank, l.user_id, l.total_value))
        }
        .start()
      q.processAllAvailable(); q.stop()
      val lastPerType = perBatch.toSeq.sortBy(_._1).flatMap(_._2)
        .groupBy(_._1).map { case (t, rows) =>
          // rows arrive batch-ordered; the final 3 are the last emission
          t -> rows.takeRight(3).toSet
        }
      val batch14 = ops.Streaming.w14MapStateLeaderboard(spark, sf0001)
        .as[(String, Int, Long, Double)].collect().toSeq
        .groupBy(_._1).map { case (t, rows) => t -> rows.toSet }
      assert(lastPerType == batch14,
        "final streaming leaderboard must equal the batch run")

      // --- w15: append emissions across the same two batches must equal
      // the batch run exactly (the bounded ListState suffix stitches the
      // pattern across the micro-batch boundary)
      val ms2 = MemoryStream[UserEvent]
      ms2.addData(half1.toSeq)
      ms2.addData(half2.toSeq)
      val q2 = ops.Streaming.risingValueAlerts(ms2.toDS())
        .writeStream.outputMode("append").format("memory").queryName("w15par")
        .start()
      q2.processAllAvailable(); q2.stop()
      val streamed = spark.table("w15par")
        .as[(Long, Long, Double, Double, Double)].collect().toSet
      val batch15 = ops.Streaming.w15ListStateCep(spark, sf0001)
        .as[(Long, Long, Double, Double, Double)].collect().toSet
      assert(streamed == batch15, "CEP emissions must match the batch LAG window form")
      assert(streamed.nonEmpty)
    }
  }

  test("event-time timers: inactive keys flush via handleExpiredTimer, open keys hold") {
    import ops.Streaming.{ClosedSession, TimedEvent}
    implicit val sq = spark.sqlContext
    // transformWithState (timers = extra column families) needs RocksDB
    withConf("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
    def ts(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val ms = MemoryStream[TimedEvent]
    val q = ops.Streaming.inactivitySessions(
        ms.toDS().withWatermark("ts", "10 minutes"),
        gapMs = 5 * 60000L)
      .writeStream.outputMode("append").format("memory").queryName("timers")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    // batch 1: users 1 (two events) and 2 (one) near t0 — timers armed
    ms.addData(Seq(
      TimedEvent(1L, 1L, ts(0), 1.0), TimedEvent(2L, 1L, ts(1), 1.0),
      TimedEvent(3L, 2L, ts(0), 1.0)))
    q.processAllAvailable()
    assert(spark.table("timers").count() == 0, "no watermark progress yet")
    // batch 2: sentinel (user 99) at t0+60m — watermark will reach t0+50m
    // — plus a LATE-but-within-watermark arrival for user 1 carrying a
    // SMALLER event_id (0 < 2): the state merge must keep both fields
    // monotone — last_ts_ms advances to t0+2m, last_event_id stays 2
    // (the r9 advisor finding: taking last_event_id from the current
    // batch alone would regress it to 0)
    ms.addData(Seq(TimedEvent(4L, 99L, ts(60), 1.0),
                   TimedEvent(0L, 1L, ts(2), 1.0)))
    q.processAllAvailable()
    // batch 3: the advanced watermark (t0+50m) fires users 1/2's timers
    // (t0+6m / t0+5m); the follow-up batch sees watermark t0+110m and
    // fires 99's (t0+65m) too. User 98's (t0+125m) stays armed — its key
    // holds open state, the exact bounded-store behavior timers buy.
    ms.addData(Seq(TimedEvent(5L, 98L, ts(120), 1.0)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("timers").as[ClosedSession].collect()
      .map(c => c.user_id -> ((c.n_events, c.last_event_id))).toMap
    assert(got.keySet == Set(1L, 2L, 99L),
      s"exactly the timed-out keys must emit, got ${got.keySet}")
    assert(got(1L) == ((3L, 2L)),
      "user 1: all three events; last_event_id must NOT regress to the late row's 0")
    assert(got(2L) == ((1L, 3L)), "user 2: single-event session")
    assert(got(99L) == ((1L, 4L)), "sentinel's own session flushes once passed")
    assert(!got.contains(98L), "open key must hold until its timer expires")
    }
  }

  test("Pipeline.ingestStream: startable streaming ingest converges to the batch pipeline") {
    implicit val sq = spark.sqlContext
    val raw = Workload.employeeCdc(spark, n = 200, nKeys = 20)
      .withColumn("value", when($"offset" === 5L, lit("not json")).otherwise($"value"))
    val feed = raw.as[(String, Long, String)].collect().sortBy(_._2)
    val ms = MemoryStream[(String, Long, String)]
    feed.grouped(80).foreach(b => ms.addData(b.toSeq))
    val outDir = java.nio.file.Files.createTempDirectory("ingest_stream").toString
    val q = cdc.Pipeline.ingestStream(
      ms.toDF().toDF("topic", "offset", "value"),
      outDir, outDir + "/_checkpoint")
    q.processAllAvailable(); q.stop()
    // the streamed append-only log replays to the same snapshot as batch
    val streamedLog = spark.read.parquet(s"$outDir/employees")
    val streamedSnap = Apply.snapshot(streamedLog, Seq("id"), Seq($"offset")).drop("_rn")
      .select($"id".cast("long"), $"salary".cast("double"))
    val batchSnap = cdc.Pipeline.ingest(raw).tables("employees").snapshot
      .select($"id".cast("long"), $"salary".cast("double"))
    assert(streamedSnap.exceptAll(batchSnap).count() == 0 &&
           batchSnap.exceptAll(streamedSnap).count() == 0)
    assert(spark.read.parquet(s"$outDir/_dlq").count() == 1)
  }

  test("foreachBatch CDC upsert converges to the batch snapshot") {
    implicit val sq = spark.sqlContext
    val envelopes = Envelope.parse(Workload.employeeCdc(spark, n = 300, nKeys = 30))
    val feed = envelopes.select($"offset", $"topic", $"value")
      .as[(Long, String, String)].collect().sortBy(_._1)
    val ms = MemoryStream[(Long, String, String)]
    feed.grouped(100).foreach(b => ms.addData(b.toSeq))
    // state table maintained by per-batch merge (the foreachBatch upsert)
    var state: Option[org.apache.spark.sql.DataFrame] = None
    val q = ms.toDF().toDF("offset", "topic", "value")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val parsed = Envelope.good(Envelope.parse(batch))
          .withColumn("id", coalesce(element_at($"after", "id"), element_at($"before", "id")).cast("int"))
          .select($"offset", $"op", $"id", $"after")
        val merged = state match {
          case None => parsed
          case Some(s) => s.unionByName(parsed)
        }
        // keep only latest per key — the merge step of an upsert sink
        state = Some(Apply.snapshot(merged, Seq("id"), Seq($"offset"))
          .unionByName(merged.filter($"op" === "d")) // retain tombstones for later batches
          .localCheckpoint(true))
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)

    val full = Envelope.good(Envelope.parse(Workload.employeeCdc(spark, n = 300, nKeys = 30)))
      .withColumn("id", coalesce(element_at($"after", "id"), element_at($"before", "id")).cast("int"))
      .select($"offset", $"op", $"id", $"after")
    val expect = Apply.snapshot(full, Seq("id"), Seq($"offset"))
      .select($"id", element_at($"after", "salary").as("salary"))
    val got = Apply.snapshot(state.get, Seq("id"), Seq($"offset"))
      .select($"id", element_at($"after", "salary").as("salary"))
    assert(canon(got) == canon(expect))
  }

  test("state-store provider choice is per query: RocksDB is an opt-in, not a session pin") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val caller = spark.conf.getOption(key)
    // a single-family entry runs green on the DEFAULT provider and does
    // not opt into anything (the r14 o23 cost finding); `get` surfaces
    // the conf default (HDFS-backed)
    val snap = sources.Sources.o23StateIntrospection(spark, sf0001)
    assert(snap.count() == 97L)
    assert(snap.sparkSession.conf.get(key).contains("HDFSBackedStateStoreProvider"),
      "a single-family entry must run on the default provider")
    // a multi-column-family entry opts into RocksDB on its own session —
    // the conf is there when the plan executes
    val w14 = ops.Streaming.w14MapStateLeaderboard(spark, sf0001)
    w14.write.format("noop").mode("overwrite").save()
    assert(w14.sparkSession.conf.get(key).contains("RocksDBStateStoreProvider"),
      "MapState requires the RocksDB opt-in")
    // w17 pins the HDFS-backed store for its own run, whatever the
    // caller's session carries
    val w17 =
      withConf(key -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        sources.Sources.w17DedupWithinWatermark(spark, sf0001)
      }
    w17.write.format("noop").mode("overwrite").save()
    assert(w17.sparkSession.conf.get(key).contains("HDFSBackedStateStoreProvider"),
      "w17 must choose its own store")
    assert(spark.conf.getOption(key) == caller, "no entry writes the caller's provider")
  }

}
