package graft

import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.load` builds its scan from the file's footer, read on the
  * driver: no Spark job, the schema Spark's own inference gives, and a
  * plan that still matches another load of the same table. */
class TablesSpec extends AnyFunSuite {
  import TestSpark._

  private val fixtures: Seq[String] =
    new java.io.File(sf0001).list().toSeq.filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted

  private def nanosAsLong[A](on: Boolean)(body: => A): A = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("load runs no Spark job") {
    assert(fixtures.contains("documents") && fixtures.contains("events"))
    val (schemas, jobs) = withJobCount {
      fixtures.map(t => Tables.load(spark, sf0001, t).schema) :+
        Tables.events(spark, sf0001).schema
    }
    assert(schemas.forall(_.nonEmpty))
    assert(jobs == 0, s"$jobs jobs while loading ${fixtures.size} tables")
  }

  test("load's footer schema equals spark.read.parquet's inferred schema") {
    def check(t: String, path: String): Unit =
      assert(Tables.load(spark, new java.io.File(path).getParent, t).schema ==
        spark.read.parquet(path).schema, s"$t at $path")
    for (on <- Seq(false, true)) nanosAsLong(on) {
      fixtures.foreach(t => check(t, s"$sf0001/$t.parquet"))
    }
    // a Spark-written directory: the footer carries Spark's row metadata
    val dir = java.nio.file.Files.createTempDirectory("tables_spec").toString
    try {
      Tables.documents(spark, sf0001).write.parquet(s"$dir/documents.parquet")
      check("documents", s"$dir/documents.parquet")
    } finally Tables.deleteRecursively(dir)
  }

  test("two loads of one table are the same plan, so a cached load substitutes") {
    val a = Tables.load(spark, sf0001, "orders")
    val b = Tables.load(spark, sf0001, "orders")
    assert(a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed))
    a.cache()
    try {
      val cached = b.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }
      assert(cached.nonEmpty, "a second load must read the first one's cache")
    } finally a.unpersist()
  }

  test("a missing table fails at load, naming its path") {
    val missing = s"$sf0001/no_such_dir"
    val e = intercept[Exception](Tables.load(spark, missing, "nope"))
    assert(e.getMessage.contains(s"$missing/nope.parquet"), e.getMessage)
  }
}
