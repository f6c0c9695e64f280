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
    for (on <- Seq(false, true)) withConf("spark.sql.legacy.parquet.nanosAsLong" -> on.toString) {
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

  test("a nanos events layout reads as TIMESTAMP_NTZ truncated to micros") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val dir = java.nio.file.Files.createTempDirectory("tables_nanos").toString
    val nanos = 1700000000123456789L
    try {
      val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
        .withType(schema).build()
      try w.write(new SimpleGroupFactory(schema).newGroup()
        .append("event_id", 1L).append("ts", nanos).append("user_id", 7L)
        .append("event_type", "click").append("value", 1.5).append("props", "{}"))
      finally w.close()
      // the conf starts off: load must see the layout and turn it on
      withConf("spark.sql.legacy.parquet.nanosAsLong" -> "false") {
        val ev = Tables.events(spark, dir)
        assert(ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
        val ts = ev.head().getAs[java.time.LocalDateTime]("ts")
        val micros = nanos / 1000
        assert(ts == java.time.LocalDateTime.ofEpochSecond(micros / 1000000,
          (micros % 1000000 * 1000).toInt, java.time.ZoneOffset.UTC))
      }
    } finally Tables.deleteRecursively(dir)
  }

  test("a Spark-written table directory fans out under graft.scan.repartition") {
    import org.apache.spark.sql.catalyst.plans.logical.Repartition
    val dir = java.nio.file.Files.createTempDirectory("tables_fanout").toString
    try {
      Tables.lineitem(spark, sf0001).write.parquet(s"$dir/lineitem.parquet")
      val fanned = withConf("graft.scan.repartition" -> "7") {
        Tables.load(spark, dir, "lineitem").queryExecution.logical
          .collectFirst { case r: Repartition => r.numPartitions }
      }
      assert(fanned.contains(7), "lineitem's data files total well over the small-table bound")
    } finally Tables.deleteRecursively(dir)
  }

  test("a missing table fails at load, naming its path") {
    val missing = s"$sf0001/no_such_dir"
    val e = intercept[Exception](Tables.load(spark, missing, "nope"))
    assert(e.getMessage.contains(s"$missing/nope.parquet"), e.getMessage)
  }
}
