package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import scala.jdk.CollectionConverters._

/** Loaders for the driver-generated parquet tables (TESTDATA.md) plus
  * shared helpers for DuckDB-oracle numeric parity.
  *
  * Design note (100 TB posture): all loaders return lazy DataFrames over
  * parquet — Catalyst pushes filters/column pruning down to the scan, so
  * callers never pay for columns they don't read. Nothing here collects,
  * and building a loader's DataFrame runs no Spark job: the schema comes
  * from the file's footer, read on the driver (see [[load]]).
  */
object Tables {

  /** The rows-per-partition floor of `graft.scan.repartition`: a table
    * fans out to at most one partition per this many rows, and a table
    * under twice it keeps its single scan partition. Rows, not bytes: a
    * 90-row file of 64-float vectors weighs more than a 1000-row fact
    * file, and only the fact file has rows enough for several tasks.
    * At 512 the curation corpus the benchmark generates (180 documents,
    * 90 vectors) and `region`, `nation` and `supplier` at every scale up
    * to sf0.1 keep one partition; a table of 1024 rows or more fans out. */
  private val RepartitionMinRows = 512L

  /** One base table as a lazy parquet scan, built without a Spark job.
    *
    * `spark.read.parquet(p)` with no schema infers it by running a
    * one-task job that reads a footer. Here the driver reads that footer
    * itself ([[footer]]) and hands the schema to `.schema(..)`, so
    * building a DataFrame over the base tables runs no job at all. The
    * footer is read on every call and nothing is kept: a table swapped
    * under the same path is seen by the next load.
    *
    * Local-mode scan parallelism knob. The driver's testdata is one
    * parquet file with ONE row group per table, so a scan — and anything
    * cached from it — is a single partition and every downstream narrow
    * stage runs on one core. A real 100 TB table is thousands of
    * row-groups and splits naturally; `graft.scan.repartition=N` emulates
    * that locally by fanning the scan out to N partitions, or to one per
    * [[RepartitionMinRows]] rows when that is fewer. Applied inside
    * `load` so cached plans and query plans stay equal (CacheManager
    * substitutes on plan equality). Default 0 = off. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val found = footer(spark, path)
    val df = found.map(_._1).fold(spark.read)(spark.read.schema).parquet(path)
    val n = spark.conf.getOption("graft.scan.repartition").map(_.toInt).getOrElse(0)
    // Scale-adaptive, not constant (r20, guide §2): fanning a 5-row
    // dimension or a 90-row corpus out to N partitions buys no
    // parallelism and adds a shuffle job to every query that reads it.
    // The fan-out follows the footer's row count, at most one partition
    // per [[RepartitionMinRows]]; fact tables still fan out to all cores.
    val parts = math.min(n.toLong, found.fold(0L)(_._2) / RepartitionMinRows).toInt
    if (parts > 1) df.repartition(parts) else df
  }

  /** The schema `spark.read.parquet(path)` would infer, read from one
    * footer on the driver — what Spark's `readSchemaFromFooter` does
    * inside its inference job: the Spark row metadata a Spark writer
    * leaves in the footer, else the parquet schema converted under the
    * session's SQL confs (so `nanosAsLong` and friends still apply) —
    * and the table's row count from the row-group metadata. A directory
    * is read through its first data file by name, as a non-merging
    * inference reads one file; its row count is that file's, scaled by
    * the directory's data bytes over the file's. `None` when there is no
    * footer to read (a missing path, no data file): Spark's own inference
    * then reports the error. */
  private def footer(spark: SparkSession, path: String): Option[(StructType, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val files =
      try {
        val st = fs.getFileStatus(p)
        if (!st.isDirectory) Seq(st)
        else fs.listStatus(p).toSeq
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith("."))
          .sortBy(_.getPath.getName)
      } catch { case _: java.io.FileNotFoundException => Nil }
    files.headOption.map { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf),
        HadoopReadOptions.builder(conf).build())
      val (meta, rows) =
        try (reader.getFooter.getFileMetaData, reader.getRecordCount)
        finally reader.close()
      // Spark reads an INT64 TIMESTAMP(NANOS) column (the older events
      // layout, see [[events]]) only as a long under nanosAsLong, and it
      // reads the conf again when the scan executes: set it on the
      // session the frame runs on, for a file that holds such a column
      if (meta.getSchema.getColumns.asScala.exists(
          _.getPrimitiveType.getLogicalTypeAnnotation match {
            case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
            case _ => false
          }))
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema =
        Option(meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
          .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
          .collect { case s: StructType => s }
          .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf)
            .convert(meta.getSchema))
      (schema, (BigInt(rows) * files.map(_.getLen).sum / st.getLen).toLong)
    }
  }

  /** A fresh session on the caller's SparkContext for an entry whose plan
    * needs its own confs (state-store provider, shuffle or state
    * partitions, join shaping, a scratch catalog): the caller's session
    * is never written, so nothing is restored afterwards and nothing
    * races a concurrent user of it. The session carries every conf the
    * caller changed at runtime — `graft.scan.repartition` included,
    * which [[load]] bakes into the plan (the CacheManager, shared across
    * sessions, substitutes cached tables by plan equality) — and then
    * `overrides`. Static and SparkContext keys come from the same
    * SparkConf in both sessions, so they never differ and are never set
    * (`set` refuses them). A frame built on the returned session executes
    * under its confs whenever the caller runs it; the temp views and
    * streaming queries it registers live in it too. */
  def isolated(spark: SparkSession, overrides: (String, String)*): SparkSession = {
    val s = spark.newSession()
    for ((k, v) <- spark.conf.getAll ++ overrides if !s.conf.getOption(k).contains(v))
      s.conf.set(k, v)
    s
  }

  /** HARNESS SHIM for FIXTURE-SIZED results only: pin the rows on the
    * driver and rebuild the frame from them, cutting its lineage — so
    * the scratch dirs / checkpoints the plan reads can be deleted
    * before the entry returns. Every call site is bounded by
    * construction (key-count or top-k results); never use on
    * corpus-sized output. One shared helper replaces the per-call-site
    * copies. */
  def materialize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val rows = df.collect().toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), df.schema)
  }

  /** Guide §2.6 (stragglers and idle capacity): run INDEPENDENT
    * driver-side actions concurrently — "2-3 jobs in flight is plenty:
    * enough to fill the tail, not so many that they fight for
    * executors". The multi-statement entries (c21's five bootstrap
    * tables, o42/o45's two layout writes, o40's two INSERTs) chained
    * independent small-stage jobs serially, leaving most cores idle
    * between stages. Job submission is thread-safe; each thunk's jobs
    * still fan out over every core, and ordering BETWEEN dependent
    * statements stays inside one thunk. Results return in argument
    * order; a failure rethrows its original exception. */
  def inParallel[A](thunks: (() => A)*): Seq[A] =
    if (thunks.sizeIs <= 1) thunks.map(_()).toSeq
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
      try {
        val fs = thunks.map(t => pool.submit(
          new java.util.concurrent.Callable[A] { def call(): A = t() }))
        fs.map(f =>
          try f.get()
          catch { case e: java.util.concurrent.ExecutionException =>
            throw e.getCause }).toSeq
      } finally pool.shutdown()
    }

  /** Recursive scratch-dir delete with the walk stream CLOSED — Files.walk
    * holds directory fds until its Stream closes, and the registry's
    * sink/scratch queries run twice per bench session. One shared helper
    * replaces the per-call-site copies. */
  def deleteRecursively(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally s.close()
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** `events.parquet` has shipped in two layouts: INT64 TIMESTAMP(NANOS)
    * (older driver drops) and plain TIMESTAMP(MICROS, isAdjustedToUTC=false)
    * (current). Branch on the type the reader actually infers ([[load]]
    * reads the nanos layout as a long); both paths normalize `ts` to
    * TIMESTAMP_NTZ at microsecond precision — the same value DuckDB
    * sees — so oracle comparisons on `ts` agree bit-for-bit. The frame
    * stays on the caller's session: `Graft.init` registers it there as
    * the `events` view.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    val ts = raw.schema("ts").dataType match {
      // legacy nanos-as-long layout: truncate to micros like DuckDB's
      // TIMESTAMP_NS -> TIMESTAMP coercion
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz")
      // micros layout: already the oracle's value; pin NTZ (session TZ UTC)
      case _ => col("ts").cast("timestamp_ntz")
    }
    raw.withColumn("ts", ts)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  // ---- Oracle-parity numeric helpers -----------------------------------
  //
  // Double summation is order-dependent, and Spark and DuckDB will not add
  // partitions in the same order — so any SUM over doubles is cast to
  // decimal first (exact, order-independent). The FINAL output column is
  // cast to DOUBLE: the exact decimal total converts to the same nearest
  // double in both engines, so results stay deterministic while the output
  // type is the one the driver's content hash treats canonically (round-1
  // finding: DECIMAL(38,x) outputs hash-mismatch even when values agree).
  // Inputs are 2-decimal money values, so DECIMAL(18,6) loses nothing.

  /** Cast a (possibly computed) double column to exact decimal before
    * aggregation. */
  def dec(c: Column): Column = c.cast("decimal(18,6)")

  /** Order-independent exact sum of a double column, emitted as DOUBLE. */
  def dsum(c: Column): Column = sum(dec(c)).cast("double")

  /** Deterministic average: exact decimal sum, then one double division. */
  def davg(c: Column): Column =
    sum(dec(c)).cast("double") / count(c)

  /** SQL fragments for the same helpers, for DuckDB oracle text.
    *
    * The decimal→double hop goes through a string: DuckDB's direct
    * DECIMAL→DOUBLE cast computes `double(int128 units) / double(10^scale)`
    * — two roundings, off by 1 ulp once the unit count passes 2^53 —
    * while its string→double parse is correctly rounded at any magnitude,
    * matching Spark's BigDecimal-based cast (probe-verified, round 2). */
  def sqlDec2Dbl(e: String): String = s"CAST(CAST($e AS STRING) AS DOUBLE)"
  def sqlDsum(e: String): String =
    sqlDec2Dbl(s"SUM(CAST($e AS DECIMAL(18,6)))")
  def sqlDavg(e: String): String =
    s"${sqlDsum(e)} / COUNT($e)"
}
