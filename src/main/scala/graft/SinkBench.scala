package graft
import org.apache.spark.sql.SparkSession

/** Dev microbench (r20): commit-sink parquet-payload encode/decode
  * throughput in isolation — the registry's o-entries write 10-100 K
  * rows at sf0.1, so a per-row encoder change is invisible under their
  * planning/commit floor; this writes millions of mixed-type rows
  * through `graft-commit` and reads them back through the DSv2 scan
  * (noop sink), 3 runs each, min. Used for the r20
  * InternalRowWriteSupport / FileRows before-after evidence.
  * Usage: runMain graft.SinkBench [rows] */
object SinkBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(2000000L)
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/tmp/graft_sinkbench"
    val df = spark.range(n).selectExpr(
      "id",
      "CAST(id % 128 AS INT) AS k",
      "CAST(id AS DOUBLE) / 7 AS v",
      "CAST(id % 32768 AS SMALLINT) AS s",
      "concat('row-', id, '-', md5(CAST(id AS STRING))) AS tag",
      "id % 2 = 0 AS flag",
      "timestamp_micros(id * 1000) AS ts")
    df.cache().count() // input held in memory: timings are sink-only
    def timed(tag: String)(f: => Unit): Unit = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
      println(f"[sinkbench] $tag%-6s min=${ts.min}%.2fs " +
        s"runs=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    timed("write") {
      Tables.deleteRecursively(dir)
      df.write.format("graft-commit").option("path", dir)
        .mode("overwrite").save()
    }
    timed("read") {
      spark.read.format("graft-commit").option("path", dir).load()
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
