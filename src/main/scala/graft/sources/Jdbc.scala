package graft.sources

import java.sql.{Connection, DriverManager}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._

/** JDBC source/sink (SURVEY §2.2 scans/sources — the reference mounts
  * ClickHouse JDBC on every shell classpath [spark.sh:21-25] and its
  * workload writer speaks MySQL [data_inserter.py:3-14]).
  *
  * Scale posture:
  *  - **reads are partition-parallel**: `readPartitioned` splits the table
  *    into `numPartitions` range slices on a numeric column, one JDBC
  *    cursor per task — a plain `spark.read.jdbc(url, table)` is a single
  *    cursor on one executor, useless at scale;
  *  - **predicates/projection push down** through Spark's JDBC relation
  *    into the remote `WHERE`/`SELECT` (asserted in JdbcSpec);
  *  - **the upsert sink is distributed**: each partition opens its own
  *    connection and runs batched DELETE+INSERT in one transaction —
  *    nothing funnels through the driver. Composable with Structured
  *    Streaming via [[foreachBatchUpsert]] (the idempotent-upsert pattern:
  *    reprocessing a micro-batch converges to the same rows).
  */
object Jdbc {

  /** Single-cursor read (small dimension tables only). */
  def read(spark: SparkSession, url: String, table: String,
           props: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
    props.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
  }

  /** Partition-parallel read: `numPartitions` range slices over
    * `partitionColumn` (numeric), one remote cursor per task. Bounds are
    * caller-provided — computing them with a MIN/MAX probe query is one
    * extra round trip, but letting Spark do it implicitly is not supported
    * for jdbc V1, and a stale bound only skews slice sizes, never drops
    * rows (Spark makes the edge slices unbounded). */
  def readPartitioned(spark: SparkSession, url: String, table: String,
                      partitionColumn: String, lowerBound: Long, upperBound: Long,
                      numPartitions: Int,
                      props: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lowerBound).option("upperBound", upperBound)
      .option("numPartitions", numPartitions)
    props.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
  }

  /** ANSI DDL type for a Spark field (CREATE TABLE path; Derby/MySQL/
    * ClickHouse-JDBC all accept these). */
  private def sqlType(dt: DataType): String = dt match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case DoubleType => "DOUBLE"
    case FloatType => "REAL"
    case BooleanType => "BOOLEAN"
    case TimestampType | TimestampNTZType => "TIMESTAMP"
    case DateType => "DATE"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case _ => "VARCHAR(4096)"
  }

  /** Create-if-absent (reference `CREATE TABLE IF NOT EXISTS`
    * [data_inserter.py:18-25]): Derby has no IF NOT EXISTS, so the
    * portable form is create-and-swallow-already-exists. */
  def createTableIfAbsent(conn: Connection, table: String, schema: StructType,
                          keyCols: Seq[String]): Unit = {
    val cols = schema.fields.map(f => s"${f.name} ${sqlType(f.dataType)}").mkString(", ")
    val pk = if (keyCols.nonEmpty)
      s", PRIMARY KEY (${keyCols.mkString(", ")})" else ""
    val st = conn.createStatement()
    try st.executeUpdate(s"CREATE TABLE $table ($cols$pk)")
    catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () } // exists
    finally st.close()
  }

  /** Distributed idempotent upsert: per partition, one connection, one
    * transaction, batched `DELETE` of the incoming keys then batched
    * `INSERT` — the portable MERGE (ClickHouse has no MERGE; MySQL's
    * ON DUPLICATE KEY and Derby's MERGE differ). Re-running the same
    * batch converges to the same table state. */
  def upsert(df: DataFrame, url: String, table: String, keyCols: Seq[String],
             props: Map[String, String] = Map.empty): Unit = {
    val schema = df.schema
    val fields = schema.fieldNames.toSeq
    require(keyCols.forall(fields.contains), s"key columns $keyCols must be in ${fields}")
    val deleteSql = s"DELETE FROM $table WHERE " +
      keyCols.map(k => s"$k = ?").mkString(" AND ")
    val insertSql = s"INSERT INTO $table (${fields.mkString(", ")}) VALUES " +
      fields.map(_ => "?").mkString("(", ", ", ")")
    val keyIdx = keyCols.map(schema.fieldIndex).toArray
    val propMap = props // serializable capture
    // co-locate each key on ONE partition/connection: otherwise two rows of
    // the same key in different partitions race their DELETE+INSERT across
    // transactions. Within a partition, statements apply in row order —
    // feed latest-per-key batches (e.g. Apply.snapshot output) when the
    // per-key winner matters.
    val colocated =
      if (keyCols.nonEmpty) df.repartition(keyCols.map(org.apache.spark.sql.functions.col): _*)
      else df
    colocated.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.nonEmpty) {
        val p = new Properties()
        propMap.foreach { case (k, v) => p.setProperty(k, v) }
        val conn = DriverManager.getConnection(url, p)
        try {
          conn.setAutoCommit(false)
          val del = conn.prepareStatement(deleteSql)
          val ins = conn.prepareStatement(insertSql)
          rows.foreach { row =>
            keyIdx.zipWithIndex.foreach { case (fi, pi) =>
              del.setObject(pi + 1, row.get(fi)) }
            del.addBatch()
            schema.fields.indices.foreach { i =>
              ins.setObject(i + 1, row.get(i)) }
            ins.addBatch()
          }
          del.executeBatch(); ins.executeBatch()
          conn.commit()
          del.close(); ins.close()
        } finally conn.close()
      }
    }
  }

  /** Streaming JDBC upsert sink: `stream.writeStream` →
    * [[foreachBatchUpsert]] → `.start()`. Each micro-batch is applied as
    * one distributed idempotent upsert, so replays after failure converge
    * (the reference's consumer restarts from earliest and relies on the
    * same property [consumer_to_file.py:10]). */
  def foreachBatchUpsert[T](stream: Dataset[T], url: String, table: String,
                            keyCols: Seq[String],
                            props: Map[String, String] = Map.empty): DataStreamWriter[T] =
    stream.writeStream.foreachBatch { (batch: Dataset[T], _: Long) =>
      upsert(batch.toDF(), url, table, keyCols, props)
    }

  // --- registered query: the JDBC path, driver-checked every round ------

  /** Round-trip a table through a real JDBC database (embedded Derby —
    * the same `spark.read/write.format("jdbc")` surface that mounts
    * MySQL/ClickHouse drivers in production [spark.sh:21-25]) and
    * aggregate the partition-parallel read-back. The oracle is the same
    * aggregation over the source parquet: the JDBC hop must be lossless. */
  def j01JdbcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val url = "jdbc:derby:memory:graftq;create=true"
    graft.Tables.supplier(spark, dir)
      .select($"s_suppkey".cast("long").as("s_suppkey"),
              $"s_nationkey".cast("long").as("s_nationkey"),
              $"s_acctbal")
      .write.format("jdbc").option("url", url).option("dbtable", "supplier_j")
      .mode("overwrite").save()
    readPartitioned(spark, url, "supplier_j", "s_suppkey", 0L, 10000L, 4)
      .groupBy($"s_nationkey")
      .agg(org.apache.spark.sql.functions.count(
             org.apache.spark.sql.functions.lit(1)).as("n_supp"),
           graft.Tables.dsum($"s_acctbal").as("total_bal"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "j01_jdbc_roundtrip" -> j01JdbcRoundtrip _,
  )

  val oracles: Map[String, String] = Map(
    "j01_jdbc_roundtrip" ->
      s"""SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey, COUNT(*) AS n_supp,
                 ${graft.Tables.sqlDsum("s_acctbal")} AS total_bal
         FROM supplier GROUP BY 1""",
  )
}
