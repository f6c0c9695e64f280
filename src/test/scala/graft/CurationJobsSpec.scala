package graft

import org.scalatest.funsuite.AnyFunSuite

/** The Spark jobs each entry of the benchmark's curation mix runs over
  * the sf0.001 fixtures: none while its DataFrame is built, and at most
  * its pinned count in `collect()`. At corpus sizes like these an
  * entry's cost is its number of jobs (each one pays scheduling, an
  * adaptive re-plan and the compile of its stage's generated classes),
  * so a pin that rises is a plan that grew a stage. */
class CurationJobsSpec extends AnyFunSuite {
  import TestSpark._

  private val budget = Seq(
    "d01_exact_dedup" -> 2,
    "d11_contamination" -> 4,
    "d21_lsh_tuning_scale" -> 8,
    "m01_media_meta" -> 1,
    "p02_domain_mix" -> 3,
    "p12_token_budget" -> 3,
    "s07_ann_recall" -> 3,
    "s17_crosslingual_mining" -> 6,
    "t06_ngram_freq" -> 2,
    "t16_ngram_familiarity" -> 3)

  // no scan fan-out, as in the benchmark: its session sets
  // `graft.scan.repartition`, but its corpus (180 documents, 90 vectors)
  // is under the fan-out floor
  for ((name, pin) <- budget) test(s"$name: 0 jobs to build, at most $pin to collect") {
    val fn = SparkEntry.queries(name)
    fn(spark, sf0001).collect() // warm-up
    val (df, buildJobs) = withJobCount(fn(spark, sf0001))
    val (_, runJobs) = withJobCount(df.collect())
    assert(buildJobs == 0, s"$buildJobs jobs while building $name")
    assert(runJobs <= pin, s"$name ran $runJobs jobs")
  }
}
