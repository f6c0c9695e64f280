package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import graft.Tables
import graft.Tables.dsum

/** Streaming operator surface (SURVEY.md §2.2 "Streaming"): windowed
  * aggregation (tumbling/sliding/session), watermarked dedup, and the
  * foreachBatch CDC upsert.
  *
  * Every transformation here is a plain `DataFrame => DataFrame` so the
  * SAME code runs in two execution modes:
  *  - batch over the events parquet → these are the oracle-checked
  *    `queries` entries below (window semantics are identical in batch);
  *  - streaming via `readStream`/`MemoryStream` → covered by
  *    StreamingSpec, which asserts stream-vs-batch parity on the same
  *    input. That parity is the correctness contract of this module.
  *
  * Scale: windowed aggs shuffle once on (window, key) — with watermarks
  * the state store evicts closed windows, so state is bounded by
  * (watermark horizon × key cardinality), not by stream length.
  */
object Streaming {

  type Q = (SparkSession, String) => DataFrame

  /** Tumbling 1-hour windows per event type. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .select(col("w.start").cast("timestamp_ntz").as("window_start"),
              col("event_type"), col("n"), col("total_value"))

  /** Sliding 1-hour windows every 15 minutes. */
  def slidingCounts(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").cast("timestamp_ntz").as("window_start"), col("n"))

  /** Session windows per user with a 5-minute inactivity gap. */
  def sessionCounts(events: DataFrame): DataFrame =
    events.groupBy(session_window(col("ts"), "5 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
              col("w.start").cast("timestamp_ntz").as("session_start"),
              col("n_events"))

  /** Chained windowed aggregation (window-over-window): 10-minute
    * tumbling counts per event type, re-aggregated per hour — the
    * "downsample a high-resolution rollup" shape. In streaming this is
    * the chained time-window feature (second groupBy on
    * `window(window_time(w), "1 hour")`, append mode — StreamingSpec
    * asserts parity); in batch the same two (window, key) aggs, both
    * map-side combined, both shuffled on the same event_type key. */
  def chainedWindowStats(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(date_trunc("hour", col("w.start")).cast("timestamp_ntz").as("hour_start"),
               col("event_type"))
      .agg(count(lit(1)).as("n_windows"),
           (sum(col("n")).cast("double") / count(lit(1))).as("avg_per_10min"),
           max(col("n")).as("max_per_10min"))

  /** First event per (user, type) — the deterministic batch twin of
    * dropDuplicatesWithinWatermark (streaming keeps first arrival; batch
    * keeps min event_id, which for the generator is arrival order). */
  def firstPerUserType(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"), col("event_type"))
      .agg(min(col("event_id")).as("first_event_id"))

  // --- stream-stream interval join --------------------------------------

  /** Signup-side / click-side preparation for the interval join, shared
    * by the batch oracle entry and the streaming parity test. */
  def signupSide(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("signup_id"), col("ts").as("s_ts"))

  def clickSide(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
              col("ts").as("c_ts"))

  /** Stream-stream interval join: each signup matched to the same user's
    * clicks within the following 10 minutes. In streaming BOTH sides are
    * watermarked and the interval bound is what lets the state store
    * evict buffered rows past the horizon — state is O(rows within the
    * watermark window), not O(stream). In batch the same plan is a plain
    * equi+range join shuffled by user. */
  def intervalJoin(signups: DataFrame, clicks: DataFrame): DataFrame =
    signups.join(clicks,
        col("user_id") === col("c_user") &&
        col("c_ts") >= col("s_ts") &&
        col("c_ts") <= col("s_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("user_id"), col("signup_id"), col("click_id"),
        (unix_millis(col("c_ts").cast("timestamp")) -
         unix_millis(col("s_ts").cast("timestamp"))).as("lag_ms"))

  // --- custom state: flatMapGroupsWithState -----------------------------

  case class UserEvent(event_id: Long, user_id: Long, event_type: String, value: Double)
  case class UserState(nEvents: Long, totalValue: Double, lastEventId: Long)
  case class UserUpdate(user_id: Long, n_events: Long, total_value: Double, last_event_id: Long)

  /** Per-user running totals as explicit keyed state — the engine's
    * `flatMapGroupsWithState` surface (what the reference's implicit
    * "state lives in ClickHouse" becomes when the aggregation can't be
    * expressed as a built-in windowed agg). Emits one update per user per
    * micro-batch; state is the scalable part: O(users), not O(events). */
  def statefulUserTotals(events: Dataset[UserEvent]): Dataset[UserUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, UserUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[UserEvent], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0.0, -1L))
          // fold in event_id order for a deterministic double sum;
          // last_event_id merges as max so a later micro-batch carrying
          // only smaller ids (late-but-in-order-per-key arrivals) cannot
          // regress it below the oracle's MAX (the r9-advisor bug class,
          // fixed here and in TotalsProcessor alike)
          val evs = batch.toSeq.sortBy(_.event_id)
          val next = evs.foldLeft(prev) { (s, e) =>
            UserState(s.nEvents + 1, s.totalValue + e.value,
              math.max(s.lastEventId, e.event_id))
          }
          state.update(next)
          Iterator.single(UserUpdate(userId, next.nEvents, next.totalValue, next.lastEventId))
      }
  }

  case class TransEvent(event_id: Long, user_id: Long, event_type: String,
                        ts: java.sql.Timestamp)
  case class TransState(lastType: String, lastTs: java.sql.Timestamp, lastEventId: Long)
  case class Transition(user_id: Long, from_type: String, to_type: String,
                        event_id: Long)

  /** Per-user event transitions as streaming state (the incremental twin
    * of q94's Markov matrix): state is ONE tuple per user — the last seen
    * event — and each arrival emits exactly one (from, to) edge, so state
    * size is O(users) forever, independent of stream length. The
    * per-key in-order-arrival contract is the one a keyed Kafka topic
    * provides (per-partition order); within a micro-batch events are
    * folded in (ts, event_id) order. */
  def userTransitions(events: Dataset[TransEvent]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, Transition](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[TransEvent], state: GroupState[TransState]) =>
          // full-precision order: getTime truncates to millis while the
          // parquet loader keeps micros — getNanos breaks sub-ms ties the
          // same way the oracle's ORDER BY ts does
          val evs = batch.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
          var last = state.getOption
          val out = Seq.newBuilder[Transition]
          evs.foreach { e =>
            last.foreach { s =>
              out += Transition(userId, s.lastType, e.event_type, e.event_id)
            }
            last = Some(TransState(e.event_type, e.ts, e.event_id))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  /** w13: the transition-state path run as one batch, rolled up to the
    * (from, to) count matrix — equal to q94's counts by construction,
    * which is what the DuckDB oracle replays. */
  def w13StreamTransitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    userTransitions(
      Tables.events(spark, dir)
        .select($"event_id", $"user_id", $"event_type", $"ts")
        .as[TransEvent])
      .groupBy($"from_type", $"to_type")
      .agg(count(lit(1)).as("n"))
  }

  // --- stream-static join -----------------------------------------------

  /** Stream-static enrichment: the event stream joined to the (static)
    * customer dimension, then aggregated per segment — the canonical
    * "enrich CDC stream against a dimension" topology. The static side
    * broadcasts (re-read per micro-batch, never stateful), so the join
    * adds NO state store and no extra shuffle; only the downstream agg
    * keeps state, bounded by group cardinality. */
  def enrichPerSegment(events: DataFrame, customers: DataFrame): DataFrame =
    events.join(broadcast(customers.select(col("c_custkey"), col("c_mktsegment"))),
        events("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))

  // --- transformWithState (Spark 4 arbitrary-state API) -----------------

  /** Per-user running totals on the transformWithState API — the
    * successor of flatMapGroupsWithState: typed per-key state handles
    * (ValueState/ListState/MapState), timers, and TTL, backed by the
    * RocksDB state store in streaming mode. Same fold as
    * [[statefulUserTotals]], so the two APIs are mutually checkable and
    * share the w05-style ordered-fold oracle. */
  class TotalsProcessor extends StatefulProcessor[Long, UserEvent, UserUpdate] {
    @transient private var state: ValueState[UserState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserState](
        "totals", Encoders.product[UserState], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
                                 timerValues: TimerValues): Iterator[UserUpdate] = {
      val prev = if (state.exists()) state.get() else UserState(0L, 0.0, -1L)
      // event_id order keeps the double fold deterministic (as in w05);
      // last_event_id merges as max — monotone under late batches
      val next = rows.toSeq.sortBy(_.event_id).foldLeft(prev) { (s, e) =>
        UserState(s.nEvents + 1, s.totalValue + e.value,
          math.max(s.lastEventId, e.event_id))
      }
      state.update(next)
      Iterator.single(UserUpdate(key, next.nEvents, next.totalValue, next.lastEventId))
    }
  }

  def statefulUserTotalsTws(events: Dataset[UserEvent]): Dataset[UserUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TotalsProcessor, TimeMode.None(), OutputMode.Update())
  }

  // --- transformWithState MAP STATE (per-sub-key cumulative store) -------

  case class Leader(event_type: String, rank: Int, user_id: Long,
                    total_value: Double)

  /** Per-event-type top-3 spenders on MAP state — the transformWithState
    * handle [[TotalsProcessor]]'s ValueState can't model: state under the
    * key `event_type` is a (user → cumulative value) MAP, and an arrival
    * touches ONLY its user's sub-key (a point get/put in the state
    * store). The ValueState alternative — one blob holding the whole map
    * — would deserialize + rewrite every user of the type on every
    * arrival; MapState is the API whose cost is per-sub-key, which is
    * what makes a per-key sub-keyed store viable when sub-key
    * cardinality is large. Emission scans the map for the current top-3
    * (value desc, user_id asc tie-break) — the leaderboard read. Batch
    * oracle: final per-(type, user) ordered-fold totals → top-3; the
    * per-user double fold is in event_id order, so cumulative values are
    * bit-deterministic on any batch slicing that preserves per-key
    * order. */
  class LeaderboardProcessor extends StatefulProcessor[String, UserEvent, Leader] {
    @transient private var totals: MapState[Long, Double] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getMapState[Long, Double](
        "totals", Encoders.scalaLong, Encoders.scalaDouble, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[UserEvent],
                                 timerValues: TimerValues): Iterator[Leader] = {
      // event_id order keeps each user's double fold deterministic
      rows.toSeq.sortBy(_.event_id).foreach { e =>
        val cur = if (totals.containsKey(e.user_id)) totals.getValue(e.user_id) else 0.0
        totals.updateValue(e.user_id, cur + e.value)
      }
      val top = totals.iterator().map(p => (p._1, p._2)).toSeq
        .sortBy { case (uid, v) => (-v, uid) }.take(3)
      top.iterator.zipWithIndex.map { case ((uid, v), i) =>
        Leader(key, i + 1, uid, v)
      }
    }
  }

  def typeLeaderboard(events: Dataset[UserEvent]): Dataset[Leader] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .transformWithState(new LeaderboardProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** The MapState path run as one batch (w14): final top-3 per type. In
    * streaming the same processor re-emits the running top-3 every
    * micro-batch; StreamingSpec feeds two batches and asserts the LAST
    * emission per type equals this batch run. */
  def w14MapStateLeaderboard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    typeLeaderboard(
      Tables.events(rocksDb(spark), dir)
        .select($"event_id", $"user_id", $"event_type", $"value")
        .as[UserEvent])
      .toDF()
  }

  /** Multi-column-family state (MapState/ListState — w14/w15/o26)
    * requires the RocksDB state store; the default HDFS-backed provider
    * throws STATE_STORE_MULTIPLE_COLUMN_FAMILIES. The choice is PER QUERY
    * (the r14 o23 finding: a session-global RocksDB default taxed every
    * single-family entry with its per-(trigger × partition) open/commit
    * cost): an entry that needs it builds its plan on this isolated
    * session ([[Tables.isolated]], plus `confs`), so the opt-in never
    * reaches the caller's session, the next query or the next pass. */
  private[graft] def rocksDb(spark: SparkSession, confs: (String, String)*): SparkSession = {
    val s = Tables.isolated(spark, ("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") +: confs: _*)
    // RocksDB registers with the driver's StateStoreCoordinator RPC
    // endpoint, which only a StreamingQueryManager creates — in a
    // pure-batch session it doesn't exist yet and executors fail with
    // RpcEndpointNotFoundException. The endpoint is one per SparkContext,
    // so the caller's `streams` serves: touching the isolated session's
    // would register one more streaming listener bus on the context's
    // shared bus per call, and nothing ever removes it.
    spark.streams
    s
  }

  // --- transformWithState LIST STATE (bounded CEP pattern window) --------

  case class Ascent(user_id: Long, event_id: Long, v_prev2: Double,
                    v_prev1: Double, v_cur: Double)

  /** Three-rising-values pattern detection on LIST state — the CEP
    * (complex-event-processing) shape: alert when a user's last three
    * event values are strictly increasing. State is the user's last TWO
    * values as a ListState, trimmed on every arrival — bounded at
    * pattern-length−1 per key FOREVER, the property that separates a CEP
    * sliding window from unbounded event buffering (contrast w05/w09,
    * whose state is an unbounded-input fold into fixed-size aggregates;
    * here the state is a bounded suffix of the raw sequence itself).
    * Arrival order inside a batch is event_id order — the keyed-topic
    * per-partition order contract, as in w13. Batch oracle: the LAG(1)/
    * LAG(2) window form — the streaming operator IS the incremental
    * evaluation of that window. */
  class AscentProcessor extends StatefulProcessor[Long, UserEvent, Ascent] {
    @transient private var lastTwo: ListState[Double] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastTwo = getHandle.getListState[Double](
        "last_two", Encoders.scalaDouble, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
                                 timerValues: TimerValues): Iterator[Ascent] = {
      var window = lastTwo.get().toSeq
      val out = Seq.newBuilder[Ascent]
      rows.toSeq.sortBy(_.event_id).foreach { e =>
        if (window.length == 2 && window(0) < window(1) && window(1) < e.value)
          out += Ascent(key, e.event_id, window(0), window(1), e.value)
        window = (window :+ e.value).takeRight(2)
      }
      lastTwo.put(window.toArray)
      out.result().iterator
    }
  }

  def risingValueAlerts(events: Dataset[UserEvent]): Dataset[Ascent] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new AscentProcessor, TimeMode.None(), OutputMode.Append())
  }

  /** The ListState CEP path run as one batch (w15): every strictly-rising
    * triple in each user's event_id-ordered value sequence. */
  def w15ListStateCep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // per-workload store sizing (w17/o23 device): RocksDB opens one
    // instance PER STATE PARTITION — 150 users of 2-double state don't
    // need the session's 32 shards, and instance open/commit dominates
    // this entry's cost
    risingValueAlerts(
      Tables.events(rocksDb(spark, "spark.sql.shuffle.partitions" -> "8"), dir)
        .select($"event_id", $"user_id", $"event_type", $"value")
        .as[UserEvent])
      .toDF()
  }

  // --- transformWithState TIMERS (event-time state eviction) -------------

  case class TimedEvent(event_id: Long, user_id: Long,
                        ts: java.sql.Timestamp, value: Double)
  case class OpenSession(n_events: Long, last_event_id: Long, last_ts_ms: Long)
  case class ClosedSession(user_id: Long, n_events: Long, last_event_id: Long)

  /** Inactivity-timeout sessionization on EVENT-TIME TIMERS — the
    * transformWithState surface [[TotalsProcessor]] doesn't touch: a
    * key's output is emitted not when input arrives but when the
    * WATERMARK passes its registered expiry (last event time + gap).
    * This is the state-EVICTION half of the arbitrary-state API: a key
    * that goes quiet is flushed and its state cleared by the expired
    * timer, so the store holds only open sessions — bounded by active
    * keys, never by stream length. Each arrival re-arms the key's single
    * timer (delete + register — timers don't overwrite implicitly);
    * output order is driven by watermark advancement, which StreamingSpec
    * scripts deterministically with sentinel rows. */
  class InactivityProcessor(gapMs: Long)
      extends StatefulProcessor[Long, TimedEvent, ClosedSession] {
    @transient private var st: ValueState[OpenSession] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[OpenSession](
        "session", Encoders.product[OpenSession], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[TimedEvent],
                                 timerValues: TimerValues): Iterator[ClosedSession] = {
      val evs = rows.toSeq.sortBy(_.event_id)
      val prev = if (st.exists()) st.get() else OpenSession(0L, -1L, Long.MinValue)
      val maxTs = math.max(prev.last_ts_ms, evs.map(_.ts.getTime).max)
      // Merge monotonically on BOTH fields: a later micro-batch carrying
      // only smaller event_ids (late-but-within-watermark arrivals) must
      // not regress last_event_id while last_ts_ms keeps the max.
      val lastId = math.max(prev.last_event_id, evs.last.event_id)
      st.update(OpenSession(prev.n_events + evs.size, lastId, maxTs))
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(maxTs + gapMs)
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[ClosedSession] = {
      val s = st.get()
      st.clear()
      Iterator.single(ClosedSession(key, s.n_events, s.last_event_id))
    }
  }

  /** Timer-closed sessions over a watermarked event stream (spec-driven;
    * emission time depends on watermark progress, so this is streaming-
    * only surface — StreamingSpec scripts the watermark with sentinels
    * and asserts exactly the timed-out keys emit, with open keys held). */
  def inactivitySessions(events: Dataset[TimedEvent],
                         gapMs: Long): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new InactivityProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  // --- foreachBatch upsert sink (the O10 apply loop, actually streamed) --

  /** The CDC apply loop as a REAL streaming query: the events table is
    * split into multiple files, streamed with maxFilesPerTrigger=1
    * (AvailableNow), and every micro-batch foreachBatch-merges its
    * latest-per-key rows into a versioned parquet state table — the
    * compacted-upsert (merge-on-write) pattern a lakehouse sink runs at
    * scale. The merge keeps the max-(ts, event_id) row per user, an
    * associative rule, so the final state is independent of batch
    * boundaries — which is what lets the oracle state it as one
    * latest-per-key query over the whole log. */
  def w08ForeachBatchUpsert(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.events(spark, dir)
    val tmp = s"/tmp/graft_w08/${new java.io.File(dir).getName}"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true) // fresh checkpoint + state
    val srcDir = s"$tmp/src"
    events.repartitionByRange(4, $"event_id").write.parquet(srcDir)

    def latestPerUser(df: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
      df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
    }

    @volatile var statePath: Option[String] = None
    // 4 range files, 2 per trigger → TWO real micro-batches (r19): keeps
    // the state-carried-across-a-trigger-boundary property (the merged
    // state of batch 1 is re-read and re-upserted by batch 2) at half
    // the per-trigger harness latency — the c17/o10/w17 trigger-count
    // precedent. The declared result is batch-boundary-agnostic.
    val q = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", 2).parquet(srcDir)
      .writeStream
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val upserts = latestPerUser(batch.toDF())
        val merged = statePath match {
          case None    => upserts
          case Some(p) => latestPerUser(batch.sparkSession.read.parquet(p).unionByName(upserts))
        }
        val next = s"$tmp/state_v$batchId"
        merged.write.parquet(next)
        statePath = Some(next)
      }
      .start()
    q.awaitTermination()
    spark.read.parquet(statePath.getOrElse(sys.error("w08: stream produced no state")))
      .select(col("user_id"), col("ts"), col("event_id").as("last_event_id"),
        col("event_type").as("last_type"), col("value").as("last_value"))
  }

  // --- oracle-checked batch instantiations ------------------------------

  def w01Tumbling(spark: SparkSession, dir: String): DataFrame =
    tumblingCounts(Tables.events(spark, dir))

  def w02Sliding(spark: SparkSession, dir: String): DataFrame =
    slidingCounts(Tables.events(spark, dir))

  def w03Session(spark: SparkSession, dir: String): DataFrame =
    sessionCounts(Tables.events(spark, dir))

  def w04DedupFirst(spark: SparkSession, dir: String): DataFrame =
    firstPerUserType(Tables.events(spark, dir))

  /** The flatMapGroupsWithState path run as one batch: the per-user fold
    * is in event_id order, so even the double accumulation is
    * deterministic and the oracle replays it with an ordered list fold. */
  def w05StatefulTotals(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    statefulUserTotals(
      Tables.events(spark, dir)
        .select($"event_id", $"user_id", $"event_type", $"value")
        .as[UserEvent])
      .toDF()
  }

  def w06StreamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
    intervalJoin(signupSide(events), clickSide(events))
  }

  /** LEFT OUTER stream-stream interval join: every signup emits, matched
    * or not — the "conversion funnel with explicit non-converters" read.
    * In streaming the outer row can only be emitted once the click-side
    * watermark passes the signup's 10-minute horizon (that's what bounds
    * the state and makes the NULL definitive); in batch the same plan is
    * a plain left-outer range join. StreamingSpec drives the streaming
    * form with a watermark-advancing sentinel and asserts parity. */
  def outerIntervalJoin(signups: DataFrame, clicks: DataFrame): DataFrame =
    signups.join(clicks,
        col("user_id") === col("c_user") &&
        col("c_ts") >= col("s_ts") &&
        col("c_ts") <= col("s_ts") + expr("INTERVAL 10 MINUTES"),
        "left_outer")
      .select(col("user_id"), col("signup_id"), col("click_id"),
        (unix_millis(col("c_ts").cast("timestamp")) -
         unix_millis(col("s_ts").cast("timestamp"))).as("lag_ms"))

  def w12OuterIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
    outerIntervalJoin(signupSide(events), clickSide(events))
  }

  def w07ChainedWindows(spark: SparkSession, dir: String): DataFrame =
    chainedWindowStats(Tables.events(spark, dir))

  /** The transformWithState path run as one batch (same contract as w05:
    * batch execution of the arbitrary-state operator; StreamingSpec
    * asserts the streaming run over MemoryStream matches). */
  def w09TransformWithState(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    statefulUserTotalsTws(
      Tables.events(rocksDb(spark), dir)
        .select($"event_id", $"user_id", $"event_type", $"value")
        .as[UserEvent])
      .toDF()
  }

  /** Per-event-type session gap: errors close fast, purchases linger —
    * the dynamic-gap expression shared by the batch entry and any
    * streaming instantiation. */
  def dynamicGap: Column =
    // string durations: session_window casts them to CalendarInterval
    // (ANSI INTERVAL literals are DayTimeIntervalType, which it rejects)
    when(col("event_type") === "error", "2 minutes")
      .when(col("event_type") === "purchase", "15 minutes")
      .otherwise("5 minutes")

  /** Session windows with a DYNAMIC, per-event gap (Spark's
    * `session_window(ts, gapExpr)`): each event extends its session to
    * ts + gap(event), sessions merge while they overlap — the real-world
    * sessionization rule (a purchase keeps the visit alive longer than a
    * stray error). The oracle replays the interval-union semantics with
    * a cumulative-max-of-ends window: a session breaks exactly where an
    * event's start clears every previous end. Same one-exchange-per-user
    * shape as w03; in streaming the same expression runs watermarked with
    * state merge (the session-window state store). */
  def dynamicSessionCounts(events: DataFrame): DataFrame =
    events.groupBy(session_window(col("ts"), dynamicGap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
           sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
             .as("n_purchases"))
      .select(col("user_id"),
              col("w.start").cast("timestamp_ntz").as("session_start"),
              col("w.end").cast("timestamp_ntz").as("session_end"),
              col("n_events"), col("n_purchases"))

  def w11DynamicSession(spark: SparkSession, dir: String): DataFrame =
    dynamicSessionCounts(Tables.events(spark, dir))

  val queries: Map[String, Q] = Map(
    "w11_dynamic_session" -> w11DynamicSession _,
    "w12_outer_interval_join" -> w12OuterIntervalJoin _,
    "w06_stream_stream_join" -> w06StreamStreamJoin _,
    "w01_tumbling_window" -> w01Tumbling _,
    "w02_sliding_window"  -> w02Sliding _,
    "w03_session_window"  -> w03Session _,
    "w04_dedup_first"     -> w04DedupFirst _,
    "w05_stateful_totals" -> w05StatefulTotals _,
    "w13_stream_transitions" -> w13StreamTransitions _,
    "w07_chained_windows" -> w07ChainedWindows _,
    "w08_foreachbatch_upsert" -> w08ForeachBatchUpsert _,
    "w09_transform_with_state" -> w09TransformWithState _,
    "w10_stream_static_join" -> ((s: SparkSession, d: String) =>
      enrichPerSegment(Tables.events(s, d), Tables.customer(s, d))),
    "w14_mapstate_leaderboard" -> w14MapStateLeaderboard _,
    "w15_liststate_cep" -> w15ListStateCep _,
  )

  val oracles: Map[String, String] = Map(
    "w13_stream_transitions" ->
      """WITH pairs AS (
           SELECT event_type AS from_type,
                  LEAD(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS to_type
           FROM events)
         SELECT from_type, to_type, COUNT(*) AS n
         FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2""",
    "w11_dynamic_session" ->
      """WITH e AS (
           SELECT user_id, ts, event_id, event_type,
                  ts + CASE event_type WHEN 'error' THEN INTERVAL 2 MINUTE
                                       WHEN 'purchase' THEN INTERVAL 15 MINUTE
                                       ELSE INTERVAL 5 MINUTE END AS fin
           FROM events),
         flagged AS (
           SELECT user_id, ts, event_id, event_type, fin,
                  CASE WHEN MAX(fin) OVER wp IS NULL OR ts >= MAX(fin) OVER wp
                       THEN 1 ELSE 0 END AS new_session
           FROM e
           WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         numbered AS (
           SELECT user_id, ts, event_type, fin,
                  SUM(new_session) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS sid
           FROM flagged)
         SELECT user_id,
                CAST(MIN(ts) AS TIMESTAMP) AS session_start,
                CAST(MAX(fin) AS TIMESTAMP) AS session_end,
                COUNT(*) AS n_events,
                CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_purchases
         FROM numbered GROUP BY user_id, sid""",
    "w12_outer_interval_join" ->
      """SELECT s.user_id, s.event_id AS signup_id, c.event_id AS click_id,
                date_diff('millisecond', s.ts, c.ts) AS lag_ms
         FROM (SELECT * FROM events WHERE event_type = 'signup') s
         LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON c.user_id = s.user_id
          AND c.ts >= s.ts AND c.ts <= s.ts + INTERVAL 10 MINUTE""",
    "w06_stream_stream_join" ->
      """SELECT s.user_id, s.event_id AS signup_id, c.event_id AS click_id,
                date_diff('millisecond', s.ts, c.ts) AS lag_ms
         FROM events s JOIN events c
           ON s.event_type = 'signup' AND c.event_type = 'click'
          AND c.user_id = s.user_id
          AND c.ts >= s.ts AND c.ts <= s.ts + INTERVAL 10 MINUTE""",
    "w01_tumbling_window" ->
      s"""SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP) AS window_start,
          event_type, COUNT(*) AS n, ${Tables.sqlDsum("value")} AS total_value
          FROM events GROUP BY 1, 2""",
    "w07_chained_windows" ->
      """WITH w AS (
           SELECT time_bucket(INTERVAL '10 minutes', ts) AS wstart,
                  event_type, COUNT(*) AS n
           FROM events GROUP BY 1, 2)
         SELECT CAST(date_trunc('hour', wstart) AS TIMESTAMP) AS hour_start,
                event_type, COUNT(*) AS n_windows,
                CAST(SUM(n) AS DOUBLE) / COUNT(*) AS avg_per_10min,
                MAX(n) AS max_per_10min
         FROM w GROUP BY 1, 2""",
    // Spark's sliding window: event belongs to windows starting at
    // floor_to_slide(ts) - k*slide for k = 0..(size/slide - 1)
    "w02_sliding_window" ->
      """SELECT CAST(time_bucket(INTERVAL '15 minutes', ts)
                     - k * INTERVAL '15 minutes' AS TIMESTAMP) AS window_start,
                COUNT(*) AS n
         FROM (SELECT ts, unnest(range(0, 4)) AS k FROM events)
         GROUP BY 1""",
    // session windows via the gaps-and-islands rewrite: a new session
    // starts when the previous event of the user is >= 5 minutes older
    "w03_session_window" ->
      """WITH flagged AS (
           SELECT user_id, ts, event_id,
                  CASE WHEN ts >= LAG(ts) OVER w + INTERVAL '5 minutes'
                         OR LAG(ts) OVER w IS NULL
                       THEN 1 ELSE 0 END AS new_session
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         numbered AS (
           -- event_id tie-break keeps the running sum's peer order aligned
           -- with the LAG window above when two events share a ts
           SELECT user_id, ts,
                  SUM(new_session) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM flagged)
         SELECT user_id, CAST(MIN(ts) AS TIMESTAMP) AS session_start,
                COUNT(*) AS n_events
         FROM numbered GROUP BY user_id, sid""",
    "w04_dedup_first" ->
      """SELECT user_id, event_type, MIN(event_id) AS first_event_id
         FROM events GROUP BY user_id, event_type""",
    "w05_stateful_totals" ->
      """SELECT user_id, COUNT(*) AS n_events,
                -- ordered left fold from 0.0 = the state fold's exact
                -- double accumulation sequence
                list_reduce(list_prepend(0.0, list(value ORDER BY event_id)),
                            (a, b) -> a + b) AS total_value,
                MAX(event_id) AS last_event_id
         FROM events GROUP BY user_id""",
    // the batch-boundary-independent final state: latest row per user
    "w08_foreachbatch_upsert" ->
      """WITH r AS (
           SELECT user_id, ts, event_id, event_type, value,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
           FROM events)
         SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                event_id AS last_event_id, event_type AS last_type,
                value AS last_value
         FROM r WHERE rn = 1""",
    "w10_stream_static_join" ->
      s"""SELECT c.c_mktsegment, e.event_type, COUNT(*) AS n,
                 ${Tables.sqlDsum("e.value")} AS total_value
          FROM events e JOIN customer c ON e.user_id = c.c_custkey
          GROUP BY 1, 2""",
    // the MapState totals are per-(type, user) event_id-ordered folds;
    // the leaderboard is a plain top-3 window over them
    "w14_mapstate_leaderboard" ->
      """WITH totals AS (
           SELECT event_type, user_id,
                  list_reduce(list_prepend(0.0, list(value ORDER BY event_id)),
                              (a, b) -> a + b) AS total_value
           FROM events GROUP BY 1, 2),
         ranked AS (
           SELECT event_type, user_id, total_value,
                  ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY total_value DESC, user_id) AS rank
           FROM totals)
         SELECT event_type, CAST(rank AS INT) AS rank, user_id, total_value
         FROM ranked WHERE rank <= 3""",
    // the streaming CEP operator IS the incremental evaluation of this
    // double-LAG window
    "w15_liststate_cep" ->
      """WITH w AS (
           SELECT user_id, event_id, value,
                  LAG(value, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS v1,
                  LAG(value, 2) OVER (PARTITION BY user_id ORDER BY event_id) AS v2
           FROM events)
         SELECT user_id, event_id, v2 AS v_prev2, v1 AS v_prev1, value AS v_cur
         FROM w WHERE v2 IS NOT NULL AND v2 < v1 AND v1 < value""",
    // identical fold to w05 — the two arbitrary-state APIs must agree
    "w09_transform_with_state" ->
      """SELECT user_id, COUNT(*) AS n_events,
                list_reduce(list_prepend(0.0, list(value ORDER BY event_id)),
                            (a, b) -> a + b) AS total_value,
                MAX(event_id) AS last_event_id
         FROM events GROUP BY user_id""",
  )
}
