package graft.operators

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SemanticDecontaminateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 16
  private val tau = 0.8

  /** Clustered world: 5 well-separated unit-ish centers; benchmark
    * points hug their center, corpus points either hug one too
    * (contaminated) or sit far from all of them. */
  private def mkVec(rnd: Random, center: Array[Float], jitter: Float): Array[Float] =
    center.map(c => c + (rnd.nextFloat() - 0.5f) * 2f * jitter)

  private val rnd = new Random(7)
  private val centers: Array[Array[Float]] = Array.tabulate(5) { k =>
    val v = new Array[Float](dim)
    // orthogonal-ish blocks: cluster k lives on dims [3k, 3k+3)
    (0 until 3).foreach(j => v(3 * k + j) = 1f + rnd.nextFloat())
    v
  }
  private val bench: Seq[(Long, Array[Float])] =
    (0 until 40).map(i => (1000L + i, mkVec(rnd, centers(i % 5), 0.05f)))
  private val corpus: Seq[(Long, Array[Float])] =
    (0 until 60).map(i => (i.toLong, mkVec(rnd, centers(i % 5), 0.05f))) ++ // near: contaminated
      (60 until 160).map { i => // far: own random direction
        val v = Array.fill(dim)((rnd.nextFloat() - 0.5f) * 2f)
        (i.toLong, v)
      }

  private def bruteForce: Map[Long, Long] = {
    val hits = for {
      (cid, cv) <- corpus
      (_, bv) <- bench
      if Kernels.cosine(cv.toSeq, bv.toSeq) >= tau
    } yield cid
    val counts = hits.groupBy(identity).view.mapValues(_.size.toLong).toMap
    corpus.map { case (id, _) => id -> counts.getOrElse(id, 0L) }.toMap
  }

  private def corpusDf = corpus.toDF("vec_id", "embedding")
  private def benchDf = bench.toDF("vec_id", "embedding")

  test("semanticReport == brute force on clustered data; planted leaks found") {
    val expected = bruteForce
    val got = Decontaminate.semanticReport(
      corpusDf, "vec_id", "embedding", benchDf, "vec_id", "embedding",
      tau, nlist = 8)
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.size == corpus.size, "every corpus row must report")
    expected.foreach { case (id, n) =>
      assert(got(id) == ((n, n > 0L)), s"id=$id")
    }
    // the fixture really plants contamination on both sides of tau
    assert(expected.values.count(_ > 0L) >= 40)
    assert(expected.values.count(_ == 0L) >= 80)
  }

  test("triangle-inequality pruning actually prunes, at zero recall cost") {
    val nCand = Decontaminate.semanticCandidateCount(
      corpusDf, "vec_id", "embedding", benchDf, "vec_id", "embedding",
      tau, nlist = 8)
    val full = corpus.size.toLong * bench.size
    assert(nCand < full / 2,
      s"pruning left $nCand of $full pairs — clustered data should prune hard")
    assert(nCand > 0L)
  }

  test("invariant under repartitioning") {
    val base = Decontaminate.semanticReport(
      corpusDf, "vec_id", "embedding", benchDf, "vec_id", "embedding",
      tau, nlist = 8).orderBy("id").collect().toSeq
    val re = Decontaminate.semanticReport(
      corpusDf.repartition(13), "vec_id", "embedding",
      benchDf.repartition(7), "vec_id", "embedding",
      tau, nlist = 8).orderBy("id").collect().toSeq
    assert(re == base)
  }

  test("null corpus vectors report 0; empty benchmark reports all clean") {
    val withNull = corpusDf.union(
      Seq((9999L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding"))
    val got = Decontaminate.semanticReport(
      withNull, "vec_id", "embedding", benchDf, "vec_id", "embedding",
      tau, nlist = 8)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r._2).toMap
    assert(got(9999L) == 0L)
    val none = Decontaminate.semanticReport(
      corpusDf, "vec_id", "embedding",
      benchDf.filter(lit(false)), "vec_id", "embedding", tau)
      .as[(Long, Long, Boolean)].collect()
    assert(none.length == corpus.size && none.forall(r => r._2 == 0L && !r._3))
  }

  test("maxBench guard fails loudly; tau domain enforced") {
    val e = intercept[IllegalArgumentException] {
      Decontaminate.semanticReport(
        corpusDf, "vec_id", "embedding", benchDf, "vec_id", "embedding",
        tau, maxBench = 10L).collect()
    }
    assert(e.getMessage.contains("maxBench"))
    intercept[IllegalArgumentException] {
      Decontaminate.semanticReport(
        corpusDf, "vec_id", "embedding", benchDf, "vec_id", "embedding",
        tau = 0.0).collect()
    }
  }
}
