package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Bucketing

class BucketingSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("bucketed join on the bucket key plans with no shuffle exchange") {
    // disable auto-broadcast so the join would otherwise shuffle both sides
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val li = Tables.lineitem(spark, sf0001)
      val ord = Tables.orders(spark, sf0001)
      Bucketing.writeBucketed(li.select($"l_orderkey", $"l_quantity", $"l_extendedprice"),
        "li_b", "l_orderkey", buckets = 8, sortCol = Some("l_orderkey"))
      Bucketing.writeBucketed(ord.withColumnRenamed("o_orderkey", "l_orderkey")
          .select($"l_orderkey", $"o_totalprice"),
        "ord_b", "l_orderkey", buckets = 8, sortCol = Some("l_orderkey"))

      val joined = Bucketing.bucketedJoin(spark, "li_b", "ord_b", "l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")

      // and it is correct: row count equals the plain join
      val plain = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      assert(joined.count() == plain.count())

      // aggregation on the bucket key also skips its exchange
      val agg = spark.table("li_b").groupBy($"l_orderkey").agg(sum($"l_quantity"))
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }
}
