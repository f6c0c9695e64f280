package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

/** The reference's own job, open loop.
  *
  * A generator thread lands seeded `gen.Workload.employeeCdc` Debezium
  * envelopes (about 1% deliberately malformed) into a MemoryStream at a
  * fixed rate, in chunks every `chunkMs`; each event is due at
  * `t0 + (j+1)/rate`. A Structured Streaming `foreachBatch` applier on a
  * fixed processing-time trigger runs `cdc.Pipeline.ingest` per batch,
  * appends the typed log and the DLQ to graft-commit tables, and MERGEs the
  * batch's latest row per key (deletes included) into a graft-commit
  * current-state table through `CommitCatalog` SQL. One reader thread runs
  * closed-loop snapshot queries (an aggregate or a point lookup) against
  * the latest committed version of the current-state table. */
final class CdcIngest(ctx: Ctx) extends Workload {
  import CdcIngest._

  private val seed = ctx.args.seed
  private val root = ctx.dir("tables")
  private val curPath = root.resolve("default").resolve("cur")
  private val logPath = root.resolve("default").resolve("log").toString
  private val dlqPath = root.resolve("default").resolve("dlq").toString

  /** Snapshot (`r`) envelopes, then the stream's c/u/d envelopes. */
  private var snapshot: Array[(String, Long, String)] = Array.empty
  private var stream: Array[(String, Long, String)] = Array.empty
  private var malformed: Set[Long] = Set.empty

  private var ms: MemoryStream[(String, Long, String)] = _
  private var query: StreamingQuery = _
  private var progressListener: StreamingQueryListener = _
  private val version = new AtomicLong(-1)

  private final case class Chunk(k: Int, first: Int, last: Int, dueNs: Long, landNs: Long, offset: Long)
  private final case class Batch(id: Long, version: Long, endNs: Long, error: Option[String],
                                 ingestMs: Double, appendMs: Double, mergeMs: Double, dlqRows: Long)
  private final case class Progress(id: Long, rows: Long, triggerMs: Double, commitMs: Double,
                                    start: Long, end: Long, atNs: Long)
  private val chunks = new java.util.concurrent.ConcurrentLinkedQueue[Chunk]()
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
  private val ops = mutable.ArrayBuffer.empty[OpRec]
  def opRecs: Seq[OpRec] = ops.toSeq
  private var t0Ns = 0L
  private var readerEndNs = 0L
  private var snapshotVersion = -1L

  /** Envelopes are generated once, in the first setup; the time is not
    * part of setup_s. */
  private def generate(spark: SparkSession): Unit = if (snapshot.isEmpty) {
    val n = (Rate * (ctx.args.seconds + 5)).toLong
    val all = graft.gen.Workload.employeeCdc(spark, n, NKeys, seed)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(_._2)
    val rnd = new scala.util.Random(seed)
    val (snap, rest) = all.partition(_._2 < NKeys)
    // about 1% of the stream is malformed: half truncated JSON, half
    // envelopes without a payload
    malformed = rest.iterator.map(_._2).filter(_ => rnd.nextDouble() < MalformedFrac).toSet
    snapshot = snap
    stream = rest.map { case e @ (t, o, v) =>
      if (!malformed(o)) e
      else if (o % 2 == 0) (t, o, v.take(v.length / 2))
      else (t, o, """{"schema":null,"ts_ms":""" + o + "}")
    }
  }

  def setup(spark: SparkSession): Unit = {
    val prep0 = System.nanoTime()
    generate(spark)
    prepNs += System.nanoTime() - prep0
    import spark.implicits._
    graft.Tables.deleteRecursively(root.toString)
    graft.Tables.deleteRecursively(ctx.dir("checkpoint").toString)
    spark.conf.set(s"spark.sql.catalog.$Cat", "graft.sources.CommitCatalog")
    spark.conf.set(s"spark.sql.catalog.$Cat.root", root.toString)
    // the initial `r` snapshot load
    val res = graft.cdc.Pipeline.ingest(snapshot.toSeq.toDF("topic", "offset", "value"))
    val flow = res.tables("employees")
    flow.log.write.format("graft-commit").option("path", logPath).mode("overwrite").save()
    flow.snapshot.select(curCols: _*)
      .write.format("graft-commit").option("path", curPath.toString).mode("overwrite").save()
    res.dlq.select(dlqCols: _*)
      .write.format("graft-commit").option("path", dlqPath).mode("overwrite").save()
    res.cleanup()
    snapshotVersion = latestVersion(curPath)
    version.set(snapshotVersion)
    // the stream; the topic has nproc partitions, however many chunks land
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    ms = MemoryStream[(String, Long, String)](ctx.cpus)
    progressListener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0 || p.sources.exists(s => s.startOffset != s.endOffset)) {
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
          val src = p.sources.head
          def off(s: String) = Option(s).filter(_ != "null").map(_.trim.toLong).getOrElse(-1L)
          progress.add(Progress(p.batchId, p.numInputRows, d.getOrElse("triggerExecution", 0L).toDouble,
            (d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)).toDouble,
            off(src.startOffset), off(src.endOffset), System.nanoTime()))
        }
      }
    }
    spark.streams.addListener(progressListener)
    query = ms.toDF().toDF("topic", "offset", "value").writeStream
      .option("checkpointLocation", ctx.dir("checkpoint").toString)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .foreachBatch((b: DataFrame, id: Long) => apply(b, id))
      .start()
  }

  def release(): Unit = {
    snapshot = Array.empty
    stream = Array.empty
    ops.clear()
    Seq(chunks, batches, progress).foreach(_.clear())
  }

  override def teardown(spark: SparkSession): Unit = {
    if (query != null) query.stop()
    spark.streams.removeListener(progressListener)
  }

  /** The workload itself, on tables the next setup recreates; it neither
    * waits for a trigger boundary nor drains. */
  override def warmup(spark: SparkSession, deadlineNs: Long): Unit = {
    loop(spark, deadlineNs, timed = false)
    Seq(chunks, batches, progress).foreach(_.clear())
    ops.clear()
  }

  private val curCols =
    Seq(col("id"), col("name"), col("position"), col("salary"), col("offset").as("src_offset"))
  private val dlqCols = Seq(col("offset"), col("error"), col("raw"))

  /** One micro-batch: ingest → append (log, DLQ) → MERGE into current state. */
  private def apply(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    ctx.args.stalls.find(s => s.where == "applier" && s.at == batchId).foreach(s => Thread.sleep(s.ms))
    val op = s"batch$batchId"
    val sc = spark.sparkContext
    val prevOp = sc.getLocalProperty(ExecListener.OpKey)
    sc.setLocalProperty(ExecListener.OpKey, op)
    val tr = ctx.tracer
    val rootId = tr.nextId()
    var ingestNs, appendNs, mergeNs = 0L
    var dlqRows = 0L
    def timed[A](acc: Long => Unit, name: String)(f: => A): A = {
      val t = System.nanoTime()
      try tr.span(op, name, rootId)(f) finally acc(System.nanoTime() - t)
    }
    val err = try {
      tr.span(op, "batch", 0, rootId) {
        val res = timed(ingestNs = _, "ingest")(graft.cdc.Pipeline.ingest(batch))
        try {
          timed(appendNs = _, "append") {
            res.tables.get("employees").foreach(f =>
              f.log.write.format("graft-commit").option("path", logPath).mode("append").save())
            val dlq = res.dlq.select(dlqCols: _*).localCheckpoint()
            dlqRows = dlq.count()
            if (dlqRows > 0) dlq.write.format("graft-commit").option("path", dlqPath).mode("append").save()
          }
          res.tables.get("employees").foreach { f =>
            timed(mergeNs = _, "merge") {
              val w = Window.partitionBy(col("id")).orderBy(col("offset").desc)
              f.log.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
                .select((curCols :+ col("op")): _*)
                .createOrReplaceTempView("bench_src")
              spark.sql(
                s"""MERGE INTO $Cat.`default`.cur t USING bench_src s ON t.id = s.id
                   |WHEN MATCHED AND s.op = 'd' THEN DELETE
                   |WHEN MATCHED THEN UPDATE SET name = s.name, position = s.position,
                   |  salary = s.salary, src_offset = s.src_offset
                   |WHEN NOT MATCHED AND s.op <> 'd' THEN INSERT (id, name, position, salary, src_offset)
                   |  VALUES (s.id, s.name, s.position, s.salary, s.src_offset)""".stripMargin)
            }
          }
        } finally res.cleanup()
      }
      None
    } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    finally sc.setLocalProperty(ExecListener.OpKey, prevOp)
    val v = latestVersion(curPath)
    batches.add(Batch(batchId, v, System.nanoTime(), err, ingestNs / 1e6, appendNs / 1e6, mergeNs / 1e6, dlqRows))
    version.set(v)
  }

  def run(spark: SparkSession, deadlineNs: Long): Unit = loop(spark, deadlineNs, timed = true)

  /** A reader query against version `v`: the point lookup of `key`, or
    * with no key the aggregate. */
  private def sqlAt(v: Long, key: Option[Int]): String = key match {
    case Some(k) => s"SELECT id, name, position, salary FROM $Cat.`default`.cur VERSION AS OF $v WHERE id = $k"
    case None => s"SELECT position, count(*) AS n, sum(salary) AS total FROM $Cat.`default`.cur VERSION AS OF $v GROUP BY position"
  }

  /** Wait for the timed phase's start: just after a processing-time
    * trigger boundary (triggers fire at wall-clock multiples of the
    * interval) at least `SettleMs` away, so every run meets the same batch
    * schedule (batches at about t0 + 3.9 s, t0 + 7.9 s, ..., then the
    * drain). The wait runs reader queries, untimed and unchecked, against
    * the snapshot: without them the readers' first seconds in the timed
    * session ran up to 1.7 times slower than the rest, in some runs only. */
  private def settle(spark: SparkSession): Unit = {
    val nowMs = System.currentTimeMillis()
    var startMs = nowMs / TriggerMs * TriggerMs + TriggerMs + 100
    if (startMs - nowMs < SettleMs) startMs += TriggerMs
    val rnd = new scala.util.Random(seed ^ 0x5e77)
    var n = 0
    while (System.currentTimeMillis() < startMs - 300) {
      spark.sql(sqlAt(snapshotVersion, if (n % 4 != 3) Some(rnd.nextInt(NKeys)) else None)).collect()
      n += 1
    }
    val rest = startMs - System.currentTimeMillis()
    if (rest > 0) Thread.sleep(rest)
  }

  private def loop(spark: SparkSession, deadlineNs: Long, timed: Boolean): Unit = {
    val lengthNs = deadlineNs - System.nanoTime()
    if (timed) settle(spark)
    t0Ns = System.nanoTime()
    val end = t0Ns + lengthNs
    val perChunk = Rate * ChunkMs / 1000.0
    val gen = new Thread(() => {
      var k = 0
      var next = 0
      var go = true
      while (go) {
        val dueNs = t0Ns + (k + 1) * ChunkMs * 1000000L
        if (dueNs > end) go = false
        else {
          val wait = dueNs - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          ctx.args.stalls.find(s => s.where == "gen" && s.at == k).foreach(s => Thread.sleep(s.ms))
          val upto = math.min(stream.length, math.round((k + 1) * perChunk).toInt)
          val off = ms.addData(stream.slice(next, upto).toSeq)
          chunks.add(Chunk(k, next, upto, dueNs, System.nanoTime(),
            off.json().trim.toLong))
          next = upto
          k += 1
        }
      }
    }, "graftbench-generator")
    gen.start()
    val rnd = new scala.util.Random(seed ^ 0x5eed)
    val sc = spark.sparkContext
    var n = 0
    while (System.nanoTime() < end) {
      val v = version.get()
      // three point lookups, then an aggregate
      val point = n % 4 != 3
      val key = rnd.nextInt(NKeys)
      val name = if (point) "reader_point" else "reader_agg"
      val sql = sqlAt(v, if (point) Some(key) else None)
      val id = s"op$n"
      n += 1
      sc.setLocalProperty(ExecListener.OpKey, id)
      val tr = ctx.tracer
      val rootId = tr.nextId()
      val t0 = System.nanoTime()
      val res = try Right(tr.span(id, "op", 0, rootId)(tr.span(id, "scan", rootId) {
        val df = spark.sql(sql)
        (df.columns.toSeq, df.collect())
      })) catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      val t1 = System.nanoTime()
      sc.setLocalProperty(ExecListener.OpKey, null)
      ops += (res match {
        case Right((cols, rows)) => OpRec(id, name, v.toInt, t0, t1, None, None, rows.length,
          extra = Map("key" -> (if (point) key else null), "cols" -> cols,
            "data" -> rows.map(r => r.toSeq.map {
              case d: java.math.BigDecimal => d.doubleValue
              case x => x
            })))
        case Left(e) => OpRec(id, name, v.toInt, t0, t1, Some(e), None, 0,
          extra = Map("key" -> (if (point) key else null)))
      })
    }
    readerEndNs = System.nanoTime()
    gen.join()
    // drain what was landed, then stop the stream
    if (timed) query.processAllAvailable()
    query.stop()
    spark.streams.removeListener(progressListener)
  }

  def finish(spark: SparkSession): Map[String, Any] = {
    val out = ctx.dir("out")
    Files.createDirectories(out)
    val finalVersion = latestVersion(curPath)
    val Seq(_, _, dlqRows) = Main.inParallel(3)(Seq(
      () => { graft.sources.CommitSink.readCommitted(spark, curPath.toString)
        .coalesce(1).write.mode("overwrite").parquet(out.resolve("cur_final").toString); 0L },
      () => { graft.sources.CommitSink.readCommitted(spark, logPath)
        .coalesce(1).write.mode("overwrite").parquet(out.resolve("log_final").toString); 0L },
      () => graft.sources.CommitSink.readCommitted(spark, dlqPath).count()))
    // landed envelopes, for the DuckDB replay
    val landed = chunks.asScala.toSeq.sortBy(_.k)
    val nLanded = landed.lastOption.map(_.last).getOrElse(0)
    val envPath = out.resolve("envelopes.jsonl")
    Files.write(envPath, (snapshot.toSeq ++ stream.take(nLanded)).map { case (_, o, v) =>
      Json(Map("offset" -> o, "value" -> v))
    }.asJava)
    val liveBytes = dirBytes(out.resolve("cur_final"), _.endsWith(".parquet"))
    val tableBytes = dirBytes(curPath, _ => true)
    val files = listNames(curPath).count(_.startsWith("part-"))
    val manifestBytes = dirBytes(curPath, _.startsWith("_MANIFEST"))
    val written = Seq(curPath, Path.of(logPath), Path.of(dlqPath))
      .map(p => dirBytes(p, _.startsWith("part-"))).sum
    Map(
      "ops" -> ops.map(RegistryMix.opJson),
      "cdc" -> Map(
        "rate" -> Rate, "chunk_ms" -> ChunkMs, "trigger_ms" -> TriggerMs, "n_keys" -> NKeys,
        "t0_ns" -> t0Ns, "snapshot_events" -> snapshot.length,
        "reader_s" -> (readerEndNs - t0Ns) / 1e9,
        "landed" -> nLanded,
        "malformed_planted" -> stream.take(nLanded).count(e => malformed(e._2)),
        "dlq_rows" -> dlqRows, "envelopes" -> envPath.toString,
        "cur_final" -> out.resolve("cur_final").toString,
        "log_final" -> out.resolve("log_final").toString,
        "snapshot_version" -> snapshotVersion, "final_version" -> finalVersion,
        "chunks" -> landed.map(c => Seq(c.k, c.first, c.last, c.dueNs, c.landNs, c.offset)),
        "batches" -> batches.asScala.toSeq.sortBy(_.id).map(b => Map(
          "id" -> b.id, "version" -> b.version, "end_ns" -> b.endNs, "error" -> b.error,
          "ingest_ms" -> b.ingestMs, "append_ms" -> b.appendMs, "merge_ms" -> b.mergeMs,
          "dlq_rows" -> b.dlqRows)),
        "progress" -> progress.asScala.toSeq.sortBy(_.id).map(p => Map(
          "id" -> p.id, "rows" -> p.rows, "trigger_ms" -> p.triggerMs, "commit_ms" -> p.commitMs,
          "start" -> p.start, "end" -> p.end, "at_ns" -> p.atNs)),
        "space_amp" -> (if (liveBytes > 0) tableBytes.toDouble / liveBytes else -1.0),
        "table_files_end" -> files, "table_versions_end" -> finalVersion,
        "manifest_bytes_end" -> manifestBytes, "bytes_written" -> written))
  }
}

object CdcIngest {
  val Cat = "bench"
  /** Events per second landed by the generator. On a 4-vCPU host a batch
    * of one trigger interval's events takes 1.4-2.0 s, so the applier is
    * busy about 40% of the time (README.md). */
  val Rate = 250.0
  val ChunkMs = 5L
  val TriggerMs = 4000L
  /** The least time the timed phase's start waits, running untimed reads. */
  val SettleMs = 1500L
  val NKeys = 2000
  val MalformedFrac = 0.01

  private val VersionFile = "_MANIFEST-v(\\d+)\\.json".r

  def listNames(dir: Path): Seq[String] =
    if (!Files.isDirectory(dir)) Nil
    else { val s = Files.list(dir); try s.iterator().asScala.map(_.getFileName.toString).toList finally s.close() }

  /** The newest committed version of a graft-commit table. */
  def latestVersion(dir: Path): Long =
    listNames(dir).collect { case VersionFile(v) => v.toLong }.maxOption.getOrElse(-1L)

  /** Bytes of the regular files under `dir` whose name passes `keep`. */
  def dirBytes(dir: Path, keep: String => Boolean): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) && keep(p.getFileName.toString))
        .map(Files.size).sum
      finally s.close()
    }
}
