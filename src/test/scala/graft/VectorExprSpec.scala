package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Similarity
import graft.functions.{SortedLongIntersectCount, VectorExpressions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, LongType}

class VectorExprSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("codegen vec_dot is bit-identical to the fold specification") {
    val e = Tables.embeddings(spark, sf0001)
    val pairs = e.select($"vec_id", $"embedding")
      .crossJoin(e.select($"vec_id".as("v2"), $"embedding".as("e2")).limit(3))
    val diffs = pairs.select(
        VectorExpressions.vecDot($"embedding", $"e2").as("fast"),
        Similarity.dotFold($"embedding", $"e2").as("spec"))
      .filter($"fast" =!= $"spec")
    assert(diffs.count() == 0)
  }

  test("fused vec_cos is bit-identical to the composed 3-pass cosine") {
    val e = Tables.embeddings(spark, sf0001)
    val pairs = e.select($"vec_id", $"embedding")
      .crossJoin(e.select($"vec_id".as("v2"), $"embedding".as("e2")).limit(5))
      .filter($"vec_id" =!= $"v2")
    val diffs = pairs.select(
        Similarity.cosine($"embedding", $"e2").as("fused"),
        Similarity.cosineComposed($"embedding", $"e2").as("spec"))
      .filter($"fused" =!= $"spec")
    assert(diffs.count() == 0)
  }

  test("vec_dot registered for SQL and matches Column API") {
    VectorExpressions.register(spark)
    Tables.embeddings(spark, sf0001).createOrReplaceTempView("emb_sql")
    val viaSql = spark.sql(
      "SELECT vec_id, vec_dot(embedding, embedding) AS d FROM emb_sql")
      .as[(Long, Double)].collect().toMap
    val viaCol = Tables.embeddings(spark, sf0001)
      .select($"vec_id", VectorExpressions.vecDot($"embedding", $"embedding"))
      .as[(Long, Double)].collect().toMap
    assert(viaSql == viaCol)
    // unit-norm embeddings: self-dot ≈ 1
    assert(viaSql.values.forall(v => math.abs(v - 1.0) < 1e-5))
  }

  test("vec_dot null handling") {
    val df = Seq(
      (Some(Array(1.0f, 2.0f)), Some(Array(3.0f, 4.0f))),
      (None, Some(Array(1.0f))),
    ).toDF("a", "b")
    val got = df.select(VectorExpressions.vecDot($"a", $"b").as("d"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.toSeq == Seq(Some(11.0), None))
  }

  test("bounded-heap top-k aggregator matches the window top-k exactly") {
    val viaWindow = Similarity.s01KnnBruteForce(spark, sf0001)
      .select($"qid", $"rank", $"nid", $"cos_sim")
      .as[(Long, Int, Long, Double)].collect().toSet
    val viaHeap = Similarity.knnTopKAggregated(spark, sf0001, 10)
      .select($"qid", $"rank".cast("int"), $"nid", $"cos_sim")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(viaHeap == viaWindow)
  }

  test("codegen vec_l2sq is bit-identical to the fold specification") {
    val e = Tables.embeddings(spark, sf0001).select($"vec_id", $"embedding")
    val q = e.filter($"vec_id" < 3).select($"embedding".as("qe"))
    val pairs = e.crossJoin(q)
    val diff = pairs.select(
        Similarity.l2Fold($"embedding", $"qe").as("spec"),
        VectorExpressions.vecL2($"embedding", $"qe").as("fast"))
      .filter($"spec" =!= $"fast")
    assert(diff.count() == 0, "vec_l2sq must replay the fold bit-for-bit")
  }

  test("codegen path is no slower than the fold (smoke timing)") {
    val e = Tables.embeddings(spark, sf0001).select($"vec_id", $"embedding").cache()
    e.count()
    val q = e.select($"embedding".as("qe")).limit(20)
    def time(c: => Any): Double = {
      val t0 = System.nanoTime(); c; (System.nanoTime() - t0) / 1e9
    }
    val tFold = time(e.crossJoin(q)
      .select(Similarity.dotFold($"embedding", $"qe").as("d")).agg(sum($"d")).collect())
    val tFast = time(e.crossJoin(q)
      .select(VectorExpressions.vecDot($"embedding", $"qe").as("d")).agg(sum($"d")).collect())
    info(f"fold: $tFold%.3f s, codegen: $tFast%.3f s")
    e.unpersist()
    assert(tFast <= tFold * 3, "codegen path should not be dramatically slower")
  }

  // --- sorted_inter_count: the LSH sweep's shared-sid kernel ------------

  /** The kernel over one (a, b) row, interpreted and generated. `None`
    * is a null array, a `null` element a null entry. */
  private def interBoth(a: Option[Seq[java.lang.Long]],
                        b: Option[Seq[java.lang.Long]]): (Any, Any) = {
    val t = ArrayType(LongType, containsNull = true)
    val e = SortedLongIntersectCount(BoundReference(0, t, nullable = true),
      BoundReference(1, t, nullable = true))
    def arr(x: Option[Seq[java.lang.Long]]): Any =
      x.map(v => new GenericArrayData(v.map(l => l: Any).toArray)).orNull
    val row = InternalRow(arr(a), arr(b))
    val gen = GenerateUnsafeProjection.generate(Seq(e)).apply(row)
    (e.eval(row), if (gen.isNullAt(0)) null else gen.getLong(0))
  }

  private def L(xs: Long*): Option[Seq[java.lang.Long]] =
    Some(xs.map(java.lang.Long.valueOf))

  test("sorted_inter_count: interpreted and codegen paths agree on every shape") {
    val cases: Seq[(Option[Seq[java.lang.Long]], Option[Seq[java.lang.Long]], Any)] = Seq(
      // duplicates on both sides multiply: 1 → 2·3, 5 → 1·1, 7 → 1·2
      (L(1, 1, 2, 5, 7), L(1, 1, 1, 5, 6, 7, 7), 9L),
      (L(1, 3, 5), L(2, 4, 6), 0L),           // disjoint
      (L(), L(1, 2), 0L),                     // empty
      (L(), L(), 0L),
      (L(-3, 0, 4), L(-3, 4, 4), 3L),         // negatives, run at the end
      (None, L(1), null), (L(1), None, null), // null lists
      // array_sort leaves nulls last; a null element never matches
      (Some(Seq[java.lang.Long](2L, 3L, null)), Some(Seq[java.lang.Long](3L, null, null)), 1L))
    cases.foreach { case (a, b, want) =>
      val (interp, gen) = interBoth(a, b)
      assert(interp == want, s"interpreted $a ∩ $b")
      assert(gen == want, s"codegen $a ∩ $b")
    }
  }

  test("sorted_inter_count equals the equi-join count of the two lists") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { _ =>
      (Seq.fill(rnd.nextInt(12))(rnd.nextInt(6).toLong),
        Seq.fill(rnd.nextInt(12))(rnd.nextInt(6).toLong))
    }
    val got = rows.toDF("a", "b")
      .select(VectorExpressions.sortedInterCount(array_sort($"a"), array_sort($"b")))
      .as[Long].collect().toSeq
    val want = rows.map { case (a, b) => a.map(x => b.count(_ == x).toLong).sum }
    assert(got == want)
  }
}
