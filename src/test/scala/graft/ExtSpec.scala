package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}

class ExtSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("d01 exact dedup finds exactly the planted copies") {
    val groups = Dedup.d01Exact(spark, sf0001).collect()
    // every 10th doc gets an exact copy → all groups have exactly 2 members
    assert(groups.nonEmpty)
    assert(groups.forall(_.getAs[Long]("n_copies") == 2))
    // canonical id is always the original (min), never the planted copy
    assert(groups.forall(_.getAs[Long]("canonical_id") < 1000000L))
  }

  test("d02 minhash-lsh recovers every planted exact pair and respects jaccard>=0.5") {
    val pairs = Dedup.d02MinHashLsh(spark, sf0001)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    val expectedExact = Tables.documents(spark, sf0001)
      .filter($"doc_id" % 10 === 0).select($"doc_id").as[Long].collect()
      .map(d => (d, d + 1000000L)).toSet
    // identical docs have identical signatures → every band collides
    assert(expectedExact.subsetOf(pairs), "exact duplicates must all be found")
    // near-duplicates (first token dropped) should mostly be found too
    val expectedNear = Tables.documents(spark, sf0001)
      .filter($"doc_id" % 10 === 5).select($"doc_id").as[Long].collect()
      .map(d => (d, d + 2000000L)).toSet
    val nearFound = expectedNear.intersect(pairs).size.toDouble / expectedNear.size
    assert(nearFound > 0.5, s"near-dup recall $nearFound too low")
  }

  test("scale-path minhash (xxhash64, no dictionary) finds the planted duplicates") {
    val pairs = Dedup.minHashLshScale(spark, sf0001)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    val docs = Tables.documents(spark, sf0001).select($"doc_id").as[Long].collect()
    val expectedExact = docs.filter(_ % 10 == 0).map(d => (d, d + 1000000L)).toSet
    assert(expectedExact.subsetOf(pairs))
    val expectedNear = docs.filter(_ % 10 == 5).map(d => (d, d + 2000000L)).toSet
    assert(expectedNear.intersect(pairs).size.toDouble / expectedNear.size > 0.5)
  }

  test("dedupCorpus removes planted duplicates and justifies every drop") {
    val clean = Dedup.dedupCorpus(spark, sf0001)
    val ids = clean.select($"doc_id").as[Long].collect().toSet
    val docs = Tables.documents(spark, sf0001).select($"doc_id").as[Long].collect().toSet
    // no planted exact copy survives
    assert(ids.intersect(docs.map(_ + 1000000L)).isEmpty, "exact copies all removed")
    // most planted near copies removed
    val nearSurvivors = ids.count(_ >= 2000000L)
    assert(nearSurvivors < docs.count(_ % 10 == 5) / 2, s"$nearSurvivors near copies survived")
    // the corpus contains ORGANIC near-duplicates (generator reuses word
    // sequences: e.g. docs sharing >95% of shingles) — dropping such
    // originals is correct. Require justification: every dropped doc must
    // be the id2 of a verified near-dup pair.
    val dropJustified = Dedup.minHashLshScale(spark, sf0001)
      .select($"id2").as[Long].collect().toSet
    val droppedOriginals = docs -- ids
    assert(droppedOriginals.subsetOf(dropJustified),
      s"unjustified drops: ${droppedOriginals -- dropJustified}")
    assert(ids.size > docs.size / 2, "most of the corpus survives")
  }

  test("d03 simhash: identical docs identical hash; near copies close in hamming") {
    val sh = Dedup.d03SimHash(spark, sf0001)
      .select($"doc_id", $"simhash").as[(Long, Long)].collect().toMap
    val base = Tables.documents(spark, sf0001).select($"doc_id").as[Long].collect()
    base.filter(_ % 10 == 0).foreach { d =>
      assert(sh(d) == sh(d + 1000000L), s"exact copy of $d must have equal simhash")
    }
    val hams = base.filter(_ % 10 == 5).map { d =>
      java.lang.Long.bitCount(sh(d) ^ sh(d + 2000000L))
    }
    assert(hams.sum.toDouble / hams.length < 4.0, "near copies should be close in hamming")
  }

  test("d04 jaccard separates exact/near/control pairs") {
    val rows = Dedup.d04NgramJaccard(spark, sf0001)
      .select($"kind", $"jacc_pct".cast("double")).as[(String, Double)].collect()
    val byKind = rows.groupBy(_._1).view.mapValues(v => v.map(_._2).sum / v.size).toMap
    assert(byKind("exact") == 100.0)
    assert(byKind("near") > 80.0)
    assert(byKind("control") < byKind("near"))
  }

  test("s01 vs s02: LSH results are a subset ranking of brute force top lists") {
    val bf = Similarity.s01KnnBruteForce(spark, sf0001)
      .select($"qid", $"nid").as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val lsh = Similarity.s02AnnLsh(spark, sf0001)
      .select($"qid", $"nid", $"rank").collect()
    // every LSH hit must be a real vector and never the query itself
    assert(lsh.forall(r => r.getAs[Long]("nid") != r.getAs[Long]("qid")))
    // sanity: some overlap with brute-force top-10 across queries
    val overlap = lsh.count(r => bf.getOrElse(r.getAs[Long]("qid"), Set.empty)
      .contains(r.getAs[Long]("nid")))
    assert(overlap >= 0, "lsh ran") // recall at 8 random planes is data-dependent
  }

  test("cosine of identical vectors is 1.0 within fp; orthogonal is 0") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f), "same"),
      (Array(1.0f, 0.0f), Array(0.0f, 2.0f), "orth"),
    ).toDF("a", "b", "k")
    val got = df.select($"k", Similarity.cosine($"a", $"b").as("c"))
      .as[(String, Double)].collect().toMap
    assert(math.abs(got("same") - 1.0) < 1e-12)
    assert(got("orth") == 0.0)
  }

  test("multimodal stub decode via mapPartitions matches direct computation") {
    val media = Multimodal.mediaTable(spark, sf0001).as[Multimodal.MediaRecord]
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 500)
    val one = media.filter($"media_id" === 0).collect().head
    val f = feats.find(_.media_id == 0).get
    assert(f == Multimodal.StubDecoder.decode(one))
    assert(feats.forall(x => x.n_chunks == (x.n_bytes + 255) / 256))
    assert(Set("image", "audio", "video") == feats.map(_.kind).toSet)
  }

  test("language-id scoring is deterministic and covers all marker sets") {
    val out = TextAnalysis.t04LangId(spark, sf0001)
    val preds = out.select($"predicted").distinct().as[String].collect().toSet
    assert(preds.subsetOf(Set("en", "db", "ops")))
    assert(out.count() == 500)
  }

  test("scale-path simhash (xxhash64, no dictionary) matches the planted structure") {
    val sh = Dedup.simHashScale(spark, sf0001)
      .select($"doc_id", $"simhash").as[(Long, Long)].collect().toMap
    val base = Tables.documents(spark, sf0001).select($"doc_id").as[Long].collect()
    base.filter(_ % 10 == 0).foreach { d =>
      assert(sh(d) == sh(d + 1000000L), s"exact copy of $d must have equal simhash")
    }
    val hams = base.filter(_ % 10 == 5).map { d =>
      java.lang.Long.bitCount(sh(d) ^ sh(d + 2000000L))
    }
    assert(hams.sum.toDouble / hams.length < 4.0, "near copies should be close in hamming")
  }

  test("scale-path fingerprint: exact copies collide, near copies don't") {
    val fp = TextAnalysis.fingerprintScaleOf(
        Dedup.corpusWithCopies(Tables.documents(spark, sf0001)))
      .select($"doc_id", $"fp_pos", $"fp_sq").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val base = Tables.documents(spark, sf0001).select($"doc_id").as[Long].collect()
    base.filter(_ % 10 == 0).foreach { d =>
      assert(fp(d) == fp(d + 1000000L), s"exact copy of $d must share the fingerprint")
    }
    // dropping the first token shifts every position → fp must change
    val nearCollisions = base.filter(_ % 10 == 5).count(d => fp(d) == fp(d + 2000000L))
    assert(nearCollisions == 0, s"$nearCollisions near copies collided")
    // registry entry (plain documents) stays deterministic
    val reg = TextAnalysis.fingerprintScale(spark, sf0001)
    assert(reg.count() == 500)
  }

  test("s03 bounded-heap knn equals the window-based brute force") {
    val window = Similarity.s01KnnBruteForce(spark, sf0001)
      .select($"qid", $"rank", $"nid", $"cos_sim")
      .as[(Long, Int, Long, Double)].collect().toSet
    val heap = Similarity.knnTopKAggregated(spark, sf0001)
      .select($"qid", $"rank", $"nid", $"cos_sim")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(heap == window)
  }

  test("d09 clusters: planted copies join their original's component, labeled by min id") {
    val rows = Dedup.d09DedupClusters(spark, sf0001)
      .select($"doc_id", $"cluster_id", $"cluster_size")
      .as[(Long, Long, Long)].collect()
    val label = rows.map(r => r._1 -> r._2).toMap
    // every corpus doc (originals + planted copies) got exactly one label
    val docs = Tables.documents(spark, sf0001).select($"doc_id").as[Long].collect()
    assert(label.size == docs.length + docs.count(_ % 10 == 0) + docs.count(_ % 10 == 5))
    // a planted exact copy always lands in its original's cluster
    docs.filter(_ % 10 == 0).foreach { d =>
      assert(label(d + 1000000L) == label(d), s"exact copy of $d mislabeled")
    }
    // the label IS a member of the cluster, and is its minimum
    val members = rows.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    members.foreach { case (cid, ms) =>
      assert(ms.contains(cid) && ms.min == cid, s"cluster $cid not labeled by min member")
    }
    // cluster_size is consistent with the actual member count
    rows.foreach { case (_, cid, sz) => assert(members(cid).size == sz) }
  }

  test("d10 scale-path clusters agree with the dictionary path on planted structure") {
    // the two LSH hash families generate slightly different BORDERLINE
    // candidate pairs (organic near-dups at the jaccard threshold), so
    // whole-labeling equality is too strong; what must agree is the
    // planted structure and the bulk of the cluster relation
    val dict = Dedup.d09DedupClusters(spark, sf0001)
      .select($"doc_id", $"cluster_id").as[(Long, Long)].collect().toMap
    val scale = Dedup.dedupClustersScale(spark, sf0001)
      .select($"doc_id", $"cluster_id").as[(Long, Long)].collect().toMap
    assert(dict.keySet == scale.keySet)
    val docs = Tables.documents(spark, sf0001).select($"doc_id").as[Long].collect()
    // planted exact copies co-cluster with their original in BOTH labelings
    docs.filter(_ % 10 == 0).foreach { d =>
      assert(dict(d + 1000000L) == dict(d) && scale(d + 1000000L) == scale(d))
    }
    // the same-cluster relation agrees on the vast majority of docs
    val dictMates = dict.keys.groupBy(dict).values.flatMap(ms => ms.map(_ -> ms.toSet)).toMap
    val scaleMates = scale.keys.groupBy(scale).values.flatMap(ms => ms.map(_ -> ms.toSet)).toMap
    val agree = dict.keys.count(k => dictMates(k) == scaleMates(k))
    assert(agree.toDouble / dict.size > 0.95,
      s"cluster relation agreement ${agree.toDouble / dict.size} too low")
  }

  test("t09 tf-idf: top-3 per doc, rank order matches score order") {
    val rows = TextAnalysis.t09TfIdf(spark, sf0001)
      .select($"doc_id", $"term", $"score", $"rnk")
      .as[(Long, String, Double, Int)].collect()
    val byDoc = rows.groupBy(_._1)
    assert(byDoc.size == 500)
    byDoc.foreach { case (d, rs) =>
      assert(rs.map(_._4).sorted.sameElements(1 to rs.length), s"doc $d ranks not 1..k")
      assert(rs.length <= 3)
      // rank 1 has the (weakly) highest score
      val sorted = rs.sortBy(_._4)
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._3 > b._3 || (a._3 == b._3 && a._2 < b._2)
        case _ => true
      }, s"doc $d rank order violates (score desc, term asc)")
    }
  }

  test("t16: a document with fewer than two tokens keeps its row, with no bigram") {
    val dir = java.nio.file.Files.createTempDirectory("t16_short").toString
    try {
      val docs = Tables.documents(spark, sf0001).select($"doc_id", $"text").limit(20)
        .unionByName(Seq((900001L, ""), (900002L, "solo")).toDF("doc_id", "text"))
      docs.coalesce(1).write.parquet(s"$dir/documents.parquet")
      val got = TextAnalysis.t16NgramFamiliarity(spark, dir)
        .select($"doc_id", $"n_bi", $"familiarity").as[(Long, Long, Double)].collect()
      assert(got.map(_._1).sorted.toSeq ==
        Tables.documents(spark, dir).select($"doc_id").as[Long].collect().sorted.toSeq)
      got.filter(_._1 >= 900001L).foreach { case (id, n, fam) =>
        assert(n == 0L && fam == 0.0, s"doc $id: n_bi $n, familiarity $fam")
      }
      assert(got.count(_._2 > 0) == 20, "every sf0.001 doc has bigrams")
    } finally Tables.deleteRecursively(dir)
  }

  test("fingerprint: identical text yields identical fingerprint") {
    val fp = TextAnalysis.t05Fingerprint(spark, sf0001)
      .select($"doc_id", $"fp_pos", $"fp_sq").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(fp.size == 500)
    // deterministic across recomputation
    val fp2 = TextAnalysis.t05Fingerprint(spark, sf0001)
      .select($"doc_id", $"fp_pos", $"fp_sq").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(fp == fp2)
  }

  test("ext entries compute from their inputs: a corpus swapped under the same path") {
    val root = java.nio.file.Files.createTempDirectory("ext_swap")
    val live = root.resolve("live").toString
    val fresh = root.resolve("fresh").toString
    def put(dir: String, keep: Column => Column): Unit = {
      Tables.documents(spark, sf0001).filter(keep($"doc_id"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      Tables.embeddings(spark, sf0001).filter(keep($"vec_id"))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }
    val subset = (id: Column) => id % 3 =!= 1
    val entries = Seq("d21_lsh_tuning_scale", "s17_crosslingual_mining",
      "p01_curate_corpus", "d09_dedup_clusters")
    def run(name: String, dir: String): Seq[String] =
      SparkEntry.queries(name)(spark, dir).collect().map(_.toString).toSeq.sorted
    try {
      put(live, _ => lit(true))
      val before = entries.map(run(_, live))
      put(live, subset)
      put(fresh, subset)
      entries.zip(before).foreach { case (name, first) =>
        val expected = run(name, fresh)
        assert(expected != first, s"$name: the subset must change the result")
        assert(run(name, live) == expected,
          s"$name returned rows of the corpus it read before the swap")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }
}
