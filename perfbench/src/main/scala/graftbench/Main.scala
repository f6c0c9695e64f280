package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Command line of one benchmark process. `work` is the run's scratch
  * directory (inputs, outputs, result.json); run.py creates it. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: Path, setups: Int, warmupS: Double, stalls: Seq[Stall])

/** An injected stall (self-tests only): `where` is `applier` or `gen`,
  * `at` the batch or chunk index, `ms` its length. */
final case class Stall(where: String, at: Long, ms: Long)

/** One timed op's record, written to result.json for run.py to check. */
final case class OpRec(id: String, name: String, version: Int, startNs: Long, endNs: Long,
                       error: Option[String], output: Option[Int], nRows: Long,
                       phases: Map[String, Double] = Map.empty,
                       extra: Map[String, Any] = Map.empty) {
  def latS: Double = (endNs - startNs) / 1e9
}

/** The process-wide view every workload needs: args, cpu count, tracer. */
final class Ctx(val args: Args) {
  val cpus: Int = Runtime.getRuntime.availableProcessors()
  val tracer = new Tracer(args.trace)
  def dir(name: String): Path = args.work.resolve(name)
}

/** A workload: a seeded setup, a timed phase sized by `--seconds`, and a
  * report of what it did. */
trait Workload {
  def setup(spark: SparkSession): Unit
  /** The timed phase: cdc_ingest runs until `deadlineNs`; the registry
    * mixes run their whole plan, which run.py sizes from `--seconds`. */
  def run(spark: SparkSession, deadlineNs: Long): Unit
  /** Post-timing work (writing outputs for the check) and the fields the
    * workload adds to result.json. */
  def finish(spark: SparkSession): Map[String, Any]
  /** Drop the harness's own buffers (rows, records, envelopes) once
    * `finish` has written them out, so live_heap_mb counts what the
    * program retains, not what the benchmark keeps. */
  def release(): Unit
  /** Drop what setup built, so setup can run again in a new session. */
  def teardown(spark: SparkSession): Unit = ()
  /** The timed ops, for the per-layer Catalyst metrics. */
  def opRecs: Seq[OpRec]
  /** Untimed work until `deadlineNs` that warms the JVM's JIT, paid once
    * per process. */
  def warmup(spark: SparkSession, deadlineNs: Long): Unit = ()
  /** Time setup spent generating inputs or warming up; it is not part of
    * setup_s. */
  var prepNs = 0L
}

object Main {
  /** Run independent Spark jobs from `threads` threads at once; the
    * harness's post-timing writes and setup's cache warming are many small
    * jobs that mostly wait. Results come back in task order. */
  def inParallel[A](threads: Int)(tasks: Seq[() => A]): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit[A](() => t())).map(_.get())
    finally pool.shutdown()
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toSeq
    def get(k: String) = kv.reverseIterator.collectFirst { case (`k`, v) => v }
    Args(
      workload = get("workload").getOrElse(sys.error("--workload is required")),
      seed = get("seed").map(_.toLong).getOrElse(1L),
      seconds = get("seconds").map(_.toDouble).getOrElse(10.0),
      trace = get("trace").contains("1"),
      work = Paths.get(get("work").getOrElse(sys.error("--work is required"))).toAbsolutePath,
      setups = get("setups").map(_.toInt).getOrElse(3),
      warmupS = get("warmup").map(_.toDouble).getOrElse(0.0),
      stalls = kv.collect { case ("stall", s) =>
        val Array(w, at, ms) = s.split(":"); Stall(w, at.toLong, ms.toLong)
      })
  }

  /** The session every workload runs in: `local[nproc]`, shuffle
    * partitions = nproc, and the confs graft.Bench sets; scratch, local
    * and warehouse directories stay inside the run's work directory. */
  def session(ctx: Ctx): SparkSession = {
    val c = ctx.cpus.toString
    val spark = SparkSession.builder()
      .master(s"local[$c]")
      .appName(s"graftbench-${ctx.args.workload}")
      .config("spark.sql.shuffle.partitions", c)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", ctx.dir("spark-local").toString)
      .config("spark.sql.warehouse.dir", ctx.dir("warehouse").toString)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("graft.scan.repartition", c)
    // the warmers graft.Bench runs before its timed passes
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(10).selectExpr("""from_json('{"a":1}', 'map<string,string>')""").collect()
    spark
  }

  def workload(ctx: Ctx): Workload = ctx.args.workload match {
    case "olap_mix" => new RegistryMix(ctx, olap = true)
    case "curation_refresh" => new RegistryMix(ctx, olap = false)
    case "cdc_ingest" => new CdcIngest(ctx)
    case other => sys.error(s"unknown workload '$other'")
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val ctx = new Ctx(args)
    Files.createDirectories(args.work)
    val w = workload(ctx)
    // set up several times; run.py reports the median of the setups after
    // the first (cold) one. The last setup's session is the one the timed
    // phase runs in
    val jvmStartNs = System.nanoTime() -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to args.setups) {
      val t0 = if (i == 1) jvmStartNs else System.nanoTime()
      val prep0 = w.prepNs
      spark = session(ctx)
      w.setup(spark)
      if (i == 1 && args.warmupS > 0) {
        val tw = System.nanoTime()
        w.warmup(spark, tw + (args.warmupS * 1e9).toLong)
        ctx.tracer.spans.clear()
        w.prepNs += System.nanoTime() - tw
      }
      setupS += (System.nanoTime() - t0 - (w.prepNs - prep0)) / 1e9
      if (i < args.setups) { w.teardown(spark); spark.stop() }
    }
    val listener = if (args.trace) Some(new ExecListener(ctx.tracer)) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    // the setups' garbage (two stopped sessions) is collected before
    // timing, not during it
    System.gc()
    val host0 = Host.sample()
    val gc0 = Jvm.gcMs()
    Jvm.resetPeaks()
    val t0 = System.nanoTime()
    w.run(spark, t0 + (args.seconds * 1e9).toLong)
    val measureS = (System.nanoTime() - t0) / 1e9
    val host1 = Host.sample()
    val gcMs = Jvm.gcMs() - gc0
    val heapPeakMb = Jvm.heapPeakMb()
    listener.foreach(spark.sparkContext.removeSparkListener)
    // encoded now, so the workload can drop its buffers before the heap
    // is measured
    val tFinish = System.nanoTime()
    val fields = w.finish(spark).map { case (k, v) => k -> Json.Raw(Json(v)) }
    val finishS = (System.nanoTime() - tFinish) / 1e9
    val layers = if (args.trace) Layers.compute(ctx, listener.get, w.opRecs, measureS) ++ Map(
      "jvm.gc_ms" -> gcMs.toDouble, "jvm.heap_peak_mb" -> heapPeakMb) else Map.empty
    if (args.trace) writeTrace(ctx)
    w.release()
    ctx.tracer.spans.clear()
    val tHeap = System.nanoTime()
    val liveHeapMb = Jvm.liveHeapMb()
    System.err.println(f"[graftbench] timed phase $measureS%.2f s, finish $finishS%.2f s, " +
      f"heap ${(System.nanoTime() - tHeap) / 1e9}%.2f s")
    val result = Map(
      "workload" -> args.workload, "seed" -> args.seed, "cpus" -> ctx.cpus,
      "setup_s" -> setupS.toSeq, "measure_s" -> measureS, "live_heap_mb" -> liveHeapMb,
      "host" -> Host.delta(host0, host1, measureS), "layers" -> layers) ++ fields
    // written whole under its final name, so run.py can check the outputs
    // while the session stops
    val tmp = args.work.resolve("result.json.tmp")
    Files.writeString(tmp, Json(result))
    Files.move(tmp, args.work.resolve("result.json"), StandardCopyOption.ATOMIC_MOVE)
    spark.stop()
  }

  private def writeTrace(ctx: Ctx): Unit = {
    val spans = Spans.attachJobs(ctx.tracer.spans.asScala.toSeq)
    val self = Spans.selfNs(spans)
    val lines = spans.sortBy(_.startNs).map(s => Json(Map(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ns" -> s.startNs, "dur_ms" -> s.durNs / 1e6, "self_ms" -> self(s.id) / 1e6)))
    Files.write(ctx.dir("trace.jsonl"), lines.asJava)
  }

  /** Each op's rows, written as parquet after timing for run.py's oracle
    * check, 2 × nproc at a time. */
  final class Outputs(ctx: Ctx) {
    private val groups = mutable.ArrayBuffer.empty[(String, Int, StructType, Array[Row])]
    def add(name: String, version: Int, schema: StructType, rows: Array[Row]): Int = {
      groups += ((name, version, schema, rows))
      groups.size - 1
    }
    def write(spark: SparkSession): Seq[Map[String, Any]] = {
      val root = ctx.dir("out")
      inParallel(2 * ctx.cpus)(groups.toSeq.zipWithIndex.map { case ((name, version, schema, rows), id) =>
        () => {
          val path = root.resolve(s"g$id").toString
          spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
            .write.mode("overwrite").parquet(path)
          Map[String, Any]("id" -> id, "name" -> name, "version" -> version, "path" -> path,
            "rows" -> rows.length)
        }
      })
    }
    def clear(): Unit = groups.clear()
  }
}

/** Closed loop, one client, over registry entries.
  *
  * `olap`: read-only relational `q` entries over base tables cached at
  * setup. Otherwise (curation_refresh): `graft.ext` entries, and before
  * every op the planned corpus version is swapped in place under the same
  * path; corpus tables are not cached.
  *
  * The op sequence (entry, corpus version) is the seeded plan
  * run.py writes to plan.tsv. */
final class RegistryMix(ctx: Ctx, olap: Boolean) extends Workload {
  /** The directory every op reads; curation swaps the corpus in it. */
  private val live = ctx.dir("data")
  private val outputs = new Main.Outputs(ctx)
  private val ops = mutable.ArrayBuffer.empty[OpRec]
  def opRecs: Seq[OpRec] = ops.toSeq
  private var version = -1

  /** (entry, corpus version) lines of a plan file. */
  private def readPlan(file: String): Seq[(String, Int)] =
    if (!Files.exists(ctx.dir(file))) Nil
    else Files.readAllLines(ctx.dir(file)).asScala.toSeq.filter(_.nonEmpty).map { l =>
      val Array(n, v) = l.split("\t"); (n, v.toInt)
    }
  private val plan = readPlan("plan.tsv")
  /** Entries outside the measured mix, run only to warm the JVM. */
  private val warmupPlan = readPlan("warmup.tsv")
  private val registry = graft.SparkEntry.queries
  val entries: Seq[String] = plan.map(_._1).distinct.sorted
  (entries ++ warmupPlan.map(_._1)).filterNot(registry.contains)
    .foreach(n => sys.error(s"plan names unknown entry $n"))

  private val cached = mutable.ArrayBuffer.empty[DataFrame]

  def setup(spark: SparkSession): Unit =
    if (olap) {
      val tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
        .map(t => graft.Tables.load(spark, live.toString, t)) :+ graft.Tables.events(spark, live.toString)
      cached ++= Main.inParallel(ctx.cpus)(tables.map(df => () => { val c = df.cache(); c.count(); c }))
    } else swapTo(plan.head._2)

  override def teardown(spark: SparkSession): Unit = { cached.foreach(_.unpersist()); cached.clear() }

  def release(): Unit = { outputs.clear(); ops.clear() }

  /** Replace the live corpus files with version `v`'s, each by an atomic
    * rename over the stable path. */
  private def swapTo(v: Int): Unit = if (v != version) {
    for (t <- Seq("documents", "embeddings")) {
      val src = ctx.dir("versions").resolve(s"v$v").resolve(s"$t.parquet")
      val tmp = live.resolve(s".$t.parquet.tmp")
      Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, live.resolve(s"$t.parquet"), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    version = v
  }

  override def warmup(spark: SparkSession, deadlineNs: Long): Unit = {
    val it = warmupPlan.iterator
    while (System.nanoTime() < deadlineNs && it.hasNext) {
      val name = it.next()._1
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      try registry(name)(spark, live.toString).collect()
      catch { case e: Throwable => System.err.println(s"[graftbench] warm-up $name failed: $e") }
    }
  }

  /** The whole plan, whatever the clock says, so every run measures the
    * same work. */
  def run(spark: SparkSession, deadlineNs: Long): Unit = {
    val sc = spark.sparkContext
    var n = 0
    for ((name, v) <- plan) {
      if (!olap) swapTo(v)
      val fn = registry(name)
      val id = s"op$n"
      n += 1
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      sc.setLocalProperty(ExecListener.OpKey, id)
      val tr = ctx.tracer
      val root = tr.nextId()
      var phases = Map.empty[String, Double]
      val t0 = System.nanoTime()
      val res = try {
        tr.span(id, "op", 0, root) {
          val df = tr.span(id, "build", root)(fn(spark, live.toString))
          val rows = tr.span(id, "action", root)(df.collect())
          phases = df.queryExecution.tracker.phases.map { case (k, p) => k -> p.durationMs.toDouble }
          Right((df.schema, rows))
        }
      } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      val t1 = System.nanoTime()
      sc.setLocalProperty(ExecListener.OpKey, null)
      val ver = if (olap) 0 else version
      ops += (res match {
        case Right((schema, rows)) =>
          OpRec(id, name, ver, t0, t1, None, Some(outputs.add(name, ver, schema, rows)),
            rows.length, phases)
        case Left(err) => OpRec(id, name, ver, t0, t1, Some(err), None, 0)
      })
    }
  }

  def finish(spark: SparkSession): Map[String, Any] = {
    val groups = outputs.write(spark)
    Map("ops" -> ops.map(RegistryMix.opJson), "outputs" -> groups,
      "oracles" -> graft.SparkEntry.oracleSql.filter { case (k, _) => entries.contains(k) })
  }
}

object RegistryMix {
  def opJson(o: OpRec): Map[String, Any] = Map(
    "id" -> o.id, "name" -> o.name, "version" -> o.version, "lat_s" -> o.latS,
    "start_ns" -> o.startNs, "error" -> o.error, "output" -> o.output, "rows" -> o.nRows,
    "phases" -> o.phases) ++ o.extra
}

/** JVM counters for the jvm.* metrics and live_heap_mb. */
object Jvm {
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  /** Heap in use after a full GC: what the process retains. Spark's
    * ContextCleaner drops broadcast and shuffle blocks only after a GC has
    * found their handles unreachable, on its own thread, so a single GC
    * can still count them (it read 94 or 255 MB on the same run). Collect
    * until the figure settles. */
  def liveHeapMb(): Double = {
    def afterGc(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = Double.MaxValue
    var cur = afterGc()
    var i = 0
    while (i < 10 && prev - cur > 0.5) {
      Thread.sleep(200)
      prev = cur
      cur = math.min(cur, afterGc())
      i += 1
    }
    cur
  }
}

/** Host weather over the timed phase: CPU steal, block-IO time, load. */
object Host {
  final case class Sample(steal: Long, total: Long, ioMs: Long)

  def sample(): Sample = {
    val (steal, total) =
      try {
        val f = Files.readString(Paths.get("/proc/stat")).linesIterator.next()
          .trim.split("\\s+").drop(1).map(_.toLong)
        (f.lift(7).getOrElse(0L), f.sum)
      } catch { case _: Exception => (-1L, -1L) }
    val io =
      try Files.readString(Paths.get("/proc/diskstats")).linesIterator
        .map(_.trim.split("\\s+"))
        .filter(f => f.length > 12 && (!f(2).last.isDigit || f(2).matches("nvme\\d+n\\d+")))
        .map(f => f(12).toLong).sum
      catch { case _: Exception => -1L }
    Sample(steal, total, io)
  }

  def delta(a: Sample, b: Sample, seconds: Double): Map[String, Double] = Map(
    "steal_pct" -> (if (a.total >= 0 && b.total > a.total) (b.steal - a.steal) * 100.0 / (b.total - a.total) else -1.0),
    "io_ms_per_s" -> (if (a.ioMs >= 0 && b.ioMs >= 0) (b.ioMs - a.ioMs) / seconds else -1.0),
    "loadavg" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage)
}
