package graftbench

import org.apache.spark.sql.SparkSession

/** Engine-side self-test: `gen.Workload.employeeCdc` gives the same
  * envelope bytes for the same seed and different bytes for another seed.
  * Exits non-zero on failure. Run through `run.py --selftest`. */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val work = java.nio.file.Paths.get(argv(0)).toAbsolutePath
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def bytes(seed: Long): Seq[String] =
      graft.gen.Workload.employeeCdc(spark, 500, CdcIngest.NKeys, seed)
        .collect().map(r => s"${r.getLong(1)}:${r.getString(2)}").toSeq.sorted
    val a = bytes(11); val b = bytes(11); val c = bytes(12)
    spark.stop()
    val ok = a == b && a != c
    println(s"envelopes: same seed identical=${a == b}, other seed differs=${a != c}")
    if (!ok) sys.exit(1)
  }
}
