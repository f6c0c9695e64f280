package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Dedup

/** The fused d17/d21 LSH sweep: its shared-sid counts are the oracle's
  * (doc_id, sid) equi-join counts, repeated sids included, and d21 runs
  * as one plan with no job before its action. */
class LshSweepSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** d21's (doc_id, sid) rows, plus a second copy of some rows, so that
    * sids repeat within a doc on one or both sides of a pair. */
  private def idsWithRepeats: DataFrame = {
    val ids = Dedup.shingles(Dedup.corpusWithCopies(Tables.documents(spark, sf0001)))
      .select($"doc_id", Dedup.sidPortable($"shingle").as("sid"))
    ids.unionByName(ids.filter($"doc_id" % 3 =!= 1 && $"sid" % 4 === 0))
  }

  test("sweep: inter and sizes equal the sid equi-join form over repeated sids") {
    val ids = idsWithRepeats
    val repeated = ids.groupBy($"doc_id", $"sid").count().filter($"count" > 1).count()
    assert(repeated > 100, s"only $repeated repeated (doc_id, sid) rows")
    val cand = Dedup.lshCandidates(ids)
    val pairs = cand.select($"id1", $"id2").distinct()
    val inter = pairs
      .join(ids.select($"doc_id".as("id1"), $"sid"), "id1")
      .join(ids.select($"doc_id".as("id2"), $"sid"), Seq("id2", "sid"))
      .groupBy($"id1", $"id2").agg(count(lit(1)).as("inter"))
    val sizes = ids.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val want = cand.select($"cfg", $"id1", $"id2")
      .join(inter, Seq("id1", "id2"), "left")
      .join(sizes.select($"doc_id".as("id1"), $"n".as("n1")), "id1")
      .join(sizes.select($"doc_id".as("id2"), $"n".as("n2")), "id2")
      .select($"cfg", $"id1", $"id2", $"n1", $"n2", coalesce($"inter", lit(0L)).as("inter"))
    val got = cand.select($"cfg", $"id1", $"id2", $"n1", $"n2", $"inter")
    val wantRows = want.collect().toSet
    assert(got.count() == wantRows.size, "candidates must be distinct per (cfg, id1, id2)")
    assert(got.collect().toSet == wantRows)
    // the sweep's verified counts replay the equi-join verification
    val verified = want.filter($"inter" * 2 >= ($"n1" + $"n2" - $"inter"))
      .groupBy($"cfg").count().as[(Int, Long)].collect().toMap
    val report = Dedup.lshTuningOver(spark, sf0001, ids)
      .select($"config", $"n_verified").as[(String, Long)].collect().toMap
    assert(report == Map("b4r2" -> verified.getOrElse(0, 0L),
      "b2r4" -> verified.getOrElse(1, 0L)))
  }

  test("d21: building runs no Spark job, collecting runs at most 8") {
    Dedup.d21LshTuningScale(spark, sf0001).collect() // warm-up
    val (df, buildJobs) = withJobCount(Dedup.d21LshTuningScale(spark, sf0001))
    assert(buildJobs == 0, s"$buildJobs jobs while building d21")
    val (rows, runJobs) = withJobCount(df.collect())
    assert(rows.length == 2)
    assert(runJobs <= 8, s"d21 ran $runJobs jobs")
  }
}
