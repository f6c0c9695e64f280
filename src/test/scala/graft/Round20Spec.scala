package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Round 20 (optimization round 2): focused tests for the internals this
  * round changed, plus the plan-shape pins VERDICT r19 item 7 asked for.
  *
  *  - The commit sink's parquet payload now encodes InternalRows
  *    straight into parquet's page writers
  *    ([[sources.ParquetPayload.InternalRowWriteSupport]]) instead of
  *    boxing one example-API Group per row — the full supported type
  *    surface must round-trip bit-exactly, nulls included.
  *  - t09/t20/d28 carry measured-negative "subtree sharing" reverts
  *    (OPTIMIZATION_r19.md): pins assert the CURRENT two-direct-passes
  *    shapes so an accidental re-attempt is caught.
  */
class Round20Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = s"/tmp/graft_r20_spec/$tag"
    Tables.deleteRecursively(d)
    d
  }

  // --- InternalRow parquet write path -------------------------------------

  test("r20 parquet payload: the InternalRow writer round-trips every supported type") {
    val dir = freshDir("rowwriter")
    val schema = StructType(Seq(
      StructField("c_long", LongType),
      StructField("c_int", IntegerType),
      StructField("c_short", ShortType),
      StructField("c_byte", ByteType),
      StructField("c_double", DoubleType),
      StructField("c_float", FloatType),
      StructField("c_bool", BooleanType),
      StructField("c_str", StringType),
      StructField("c_date", DateType),
      StructField("c_ts", TimestampType),
      StructField("c_dec", DecimalType(10, 2)),
      StructField("c_decw", DecimalType(38, 10))))
    val rows = Seq(
      Row(1L, 2, 3.toShort, 4.toByte, 5.5d, 6.5f, true, "plain",
        Date.valueOf("2031-03-01"), Timestamp.valueOf("2031-03-01 12:34:56.789"),
        BigDecimal("12345678.91").bigDecimal,
        BigDecimal("-9876543210987654321.0123456789").bigDecimal),
      Row(Long.MinValue, Int.MaxValue, Short.MinValue, Byte.MaxValue,
        -0.0d, Float.NaN, false, "uniçødé ☃ line\nbreak",
        Date.valueOf("1969-12-31"), Timestamp.valueOf("1969-12-31 23:59:59.999999"),
        BigDecimal("-0.01").bigDecimal,
        BigDecimal("0.0000000001").bigDecimal),
      // a row of all nulls: the optional-field/omitted convention
      Row(null, null, null, null, null, null, null, null, null, null,
        null, null),
      Row(0L, 0, 0.toShort, 0.toByte, Double.NaN, 0f, true, "",
        Date.valueOf("2031-06-15"), Timestamp.valueOf("2031-06-15 00:00:00"),
        BigDecimal("0.00").bigDecimal, BigDecimal("0E-10").bigDecimal))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    df.write.format("graft-commit").option("path", dir)
      .mode("overwrite").save()
    val back = spark.read.format("graft-commit").option("path", dir).load()
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      schema.fields.map(f => (f.name, f.dataType)).toSeq)
    // NaN-safe per-column comparison over a deterministic sort
    def canon(d: DataFrame): Seq[String] =
      d.collect().map(_.toString).sorted.toSeq
    assert(canon(back) == canon(df))
  }

  test("r20 parquet payload: the marker-offset path (row-level DELETE) still commits unshifted data") {
    val root = freshDir("rowwriter_dml")
    spark.conf.set("spark.sql.catalog.graft_r20_dml", "graft.sources.CommitCatalog")
    spark.conf.set("spark.sql.catalog.graft_r20_dml.root", root)
    val dir = s"$root/default/t"
    spark.range(100).selectExpr("id", "id % 7 AS k",
      "CAST(id AS STRING) AS tag")
      .write.format("graft-commit").option("path", dir)
      .mode("overwrite").save()
    // a copy-on-write DELETE routes through ReplaceData with the
    // prepended __row_operation marker — the fieldOffset=1 branch of
    // the new write support
    spark.sql("DELETE FROM graft_r20_dml.`default`.t WHERE k = 3")
    val left = spark.read.format("graft-commit").option("path", dir).load()
    assert(left.count() == (0L until 100L).count(_ % 7 != 3))
    assert(left.where("k = 3").count() == 0)
    assert(left.selectExpr("sum(id)").head().getLong(0) ==
      (0L until 100L).filter(_ % 7 != 3).sum)
    // string column survives the offset unshifted
    assert(left.where("CAST(id AS STRING) <> tag").count() == 0)
  }

  test("pinned table: VERSION AS OF reports the pinned version's partition spec") {
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
    val root = freshDir("pinned_layout")
    spark.conf.set("spark.sql.catalog.graft_pin_layout", "graft.sources.CommitCatalog")
    spark.conf.set("spark.sql.catalog.graft_pin_layout.root", root)
    val dir = s"$root/default/t"
    val rows = spark.range(40).selectExpr("id", "id % 4 AS k", "id % 3 AS j")
    rows.write.format("graft-commit").option("path", dir)
      .option("partitionBy", "k")
      .mode("overwrite").save()
    // an explicit overwrite is the one write allowed to change the layout
    rows.write.format("graft-commit").option("path", dir)
      .option("partitionBy", "j")
      .mode("overwrite").save()
    val cat = spark.sessionState.catalogManager.catalog("graft_pin_layout")
      .asInstanceOf[TableCatalog]
    val ident = Identifier.of(Array("default"), "t")
    def spec(t: org.apache.spark.sql.connector.catalog.Table): Seq[String] =
      t.partitioning().map(tr =>
        s"${tr.name()}(${tr.references().map(_.describe()).mkString(",")})").toSeq
    assert(spec(cat.loadTable(ident)) == Seq("identity(j)"))
    assert(spec(cat.loadTable(ident, "0")) == Seq("identity(k)"))
    assert(spec(new sources.CommitSinkTable(dir, version = Some(0L))) ==
      Seq("identity(k)"))
    // the pin's schema and rows agree with its layout
    val v0 = spark.sql("SELECT k, count(*) AS n FROM graft_pin_layout.`default`.t " +
      "VERSION AS OF 0 GROUP BY k ORDER BY k").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(v0.toSeq == Seq((0L, 10L), (1L, 10L), (2L, 10L), (3L, 10L)))
  }

  test("point lookups VERSION AS OF compile no code per key: the filter is absorbed") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.execution.{FilterExec, LocalTableScanExec}
    val root = freshDir("point_lookup")
    spark.conf.set("spark.sql.catalog.graft_r20_pt", "graft.sources.CommitCatalog")
    spark.conf.set("spark.sql.catalog.graft_r20_pt.root", root)
    spark.range(2000L).selectExpr("id", "concat('n-', id) AS name",
        "id % 7 AS position", "CAST(id * 3 AS DOUBLE) AS salary")
      .write.format("graft-commit").option("path", s"$root/default/cur")
      .mode("overwrite").save()
    def lookup(k: Long): DataFrame = spark.sql(
      "SELECT id, name, position, salary FROM graft_r20_pt.`default`.cur " +
        s"VERSION AS OF 0 WHERE id = $k")
    assert(lookup(5L).collect().map(_.getLong(0)).toSeq == Seq(5L)) // warm-up
    val keys = (1 to 20).map(_ * 97L)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val got = keys.map(k => lookup(k).collect().map(_.getString(1)).toSeq)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(got == keys.map(k => Seq(s"n-$k")))
    // a Filter above the scan embeds each key in its generated code:
    // about two compiles per lookup (driver and executor threads cache
    // generated classes under different context classloaders)
    assert(compiles == 0L, s"$compiles codegen compiles across ${keys.size} lookups")
    val plan = lookup(11L).queryExecution.executedPlan
    assert(plan.collect { case s: LocalTableScanExec => s }.size == 1)
    assert(plan.collect { case f: FilterExec => f }.isEmpty,
      s"no Filter may remain above the scan:\n$plan")
  }

  test("point lookups VERSION AS OF run no Spark job: the read is served on the driver") {
    import org.apache.spark.sql.execution.LocalTableScanExec
    val root = freshDir("local_lookup")
    spark.conf.set("spark.sql.catalog.graft_r20_local", "graft.sources.CommitCatalog")
    spark.conf.set("spark.sql.catalog.graft_r20_local.root", root)
    spark.range(2000L).selectExpr("id", "concat('n-', id) AS name",
        "id % 7 AS position", "CAST(id * 3 AS DOUBLE) AS salary")
      .repartitionByRange(4, $"id")
      .write.format("graft-commit").option("path", s"$root/default/cur")
      .mode("overwrite").save()
    def sql(where: String): DataFrame = spark.sql(
      "SELECT id, name, position, salary FROM graft_r20_local.`default`.cur " +
        s"VERSION AS OF 0$where")
    val keys = (1 to 20).map(_ * 97L)
    val (got, jobs) = withJobCount {
      keys.map(k => sql(s" WHERE id = $k").collect().map(_.getString(1)).toSeq)
    }
    assert(got == keys.map(k => Seq(s"n-$k")))
    assert(jobs == 0, s"$jobs jobs across ${keys.size} lookups")
    // control: an unfiltered read of the same table runs a job
    val (all, controlJobs) = withJobCount(sql("").collect())
    assert(all.length == 2000 && controlJobs > 0)
    val plan = sql(" WHERE id = 11").queryExecution.executedPlan
    assert(plan.collect { case s: LocalTableScanExec => s }.size == 1, plan)
    assert(plan.children.isEmpty, s"the local scan is the whole plan:\n$plan")
  }

  // --- r19 measured-negative reverts stay retired (VERDICT item 7) --------

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private val sfPlans = "/root/testdata/sf0.001"

  test("r20 t09 pin: tf and df stay two direct passes (no df-from-tf re-derivation)") {
    val p = planOf(ext.TextAnalysis.queries("t09_tfidf")(spark, sfPlans))
    val gens = "Generate ".r.findAllIn(p).size
    assert(gens == 2, s"t09 expects exactly the tf + df corpus explodes, got $gens:\n$p")
  }

  test("r20 t20 pin: the four margin consumers keep their own direct partial-agg passes") {
    val p = planOf(ext.TextAnalysis.queries("t20_cooccurrence")(spark, sfPlans))
    val gens = "Generate ".r.findAllIn(p).size
    assert(gens == 4, s"t20 expects the four direct bigram passes, got $gens:\n$p")
  }

  test("r20 d28 pin: the probe path stays a map-side filter (no collect_list object-agg)") {
    val p = planOf(ext.Dedup.queries("d28_bloom_contamination")(spark, sfPlans))
    assert(!p.contains("ObjectHashAggregate"),
      s"d28's candidates-into-collect_list form must stay retired:\n$p")
    assert(!p.contains("collect_list"),
      s"d28 must not aggregate candidates into lists:\n$p")
  }

  // The argmin/argmax WINDOW forms are the measured winners (r20): a
  // min(struct(...)) aggregation is row-identical but plans as
  // SortAggregate (struct buffers are not UnsafeRow-mutable) while
  // InferWindowGroupLimit already caps the window shuffle at ~1
  // row/group — measured s09 0.99->1.36, s04 0.68->0.94, q52
  // 0.64->0.74 s. Pin the kept shapes so a re-attempt is caught.

  test("r20 s09 pin: the PQ argmin stays a group-limited window, not a struct-min agg") {
    val p = planOf(ext.Similarity.queries("s09_pq_ann")(spark, sfPlans))
    assert(p.contains("WindowGroupLimit"),
      s"s09's pqEncode argmin must keep its group-limited window:\n$p")
    assert(!p.contains("SortAggregate"),
      s"s09 must not fall back to SortAggregate (struct-min argmin form):\n$p")
  }

  test("r20 q52 pin: the per-hour last stays a group-limited window, not a struct-max agg") {
    val p = planOf(ops.Relational4.q52ResampleFfill(spark, sfPlans))
    assert(p.contains("WindowGroupLimit"),
      s"q52's lastPerHour argmax must keep its group-limited window:\n$p")
    assert(!p.contains("SortAggregate"),
      s"q52 must not fall back to SortAggregate (struct-max argmax form):\n$p")
  }

  // --- Tables.inParallel (guide §2.6 concurrent independent statements) ----

  test("r20 inParallel: results keep argument order, Spark actions run concurrently") {
    // ordering: thunk completion order must not reorder results
    val out = Tables.inParallel(
      () => { Thread.sleep(120); "slow" },
      () => "fast")
    assert(out == Seq("slow", "fast"))
    // concurrent Spark actions from pooled threads produce the same
    // results as serial execution (the c21/o42/o45/o40/o30 pattern:
    // independent writes on one session)
    val dirs = (0 until 3).map(i => freshDir(s"inparallel/$i"))
    Tables.inParallel(dirs.zipWithIndex.map { case (d, i) => () =>
      spark.range(100 * (i + 1)).toDF("id").write.parquet(d)
    }: _*)
    val counts = dirs.map(d => spark.read.parquet(d).count())
    assert(counts == Seq(100L, 200L, 300L))
  }

  test("r20 inParallel: a failing thunk rethrows its ORIGINAL exception") {
    val boom = intercept[IllegalStateException] {
      Tables.inParallel[Unit](
        () => (),
        () => throw new IllegalStateException("boom"))
    }
    assert(boom.getMessage == "boom")
  }
}
