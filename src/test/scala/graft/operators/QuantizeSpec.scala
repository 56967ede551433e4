package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class QuantizeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emb = spark.read
    .parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    .select("vec_id", "embedding")

  test("codes stay in [-127,127]; zero vector quantizes to scale 0, zero codes") {
    val (s0, q0) = Kernels.quantizeInt8(Seq(0f, 0f, 0f))
    assert(s0 == 0.0 && q0.forall(_ == 0))
    val rows = emb.select(Quantize.int8(col("embedding")).as("qv"))
      .select(col("qv.scale"), col("qv.q")).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) > 0.0)
      val q = r.getSeq[Byte](1)
      assert(q.forall(b => b >= -127 && b <= 127))
      // scale = max|x|/127 means at least one component hits ±127
      assert(q.exists(b => b == 127 || b == -127))
    }
  }

  test("dequantize reconstruction error is bounded by scale/2 per component") {
    val rows = emb.select(
      col("embedding"),
      Quantize.int8(col("embedding")).as("qv"))
      .select(col("embedding"), col("qv.scale").as("s"), col("qv.q"))
      .collect()
    rows.foreach { r =>
      val x = r.getSeq[Float](0)
      val s = r.getDouble(1)
      val xh = r.getSeq[Byte](2).map(b => (b * s).toFloat)
      x.zip(xh).foreach { case (a, b) =>
        assert(math.abs(a - b) <= s / 2 + 1e-6, s"err ${math.abs(a - b)} vs $s")
      }
    }
  }

  test("int8 cosine tracks float cosine within quantization error") {
    val q = emb.select(col("vec_id"), col("embedding"),
      Quantize.int8(col("embedding")).as("qv"))
    val pairs = q.as("a").join(q.as("b"),
      col("a.vec_id") < col("b.vec_id") &&
        col("a.vec_id") % 25 === 0 && col("b.vec_id") % 25 === 3)
      .select(
        Similarity.cosineKernel(col("a.embedding"), col("b.embedding")).as("cf"),
        Quantize.cosineInt8(col("a.qv"), col("b.qv")).as("c8"))
      .collect()
    assert(pairs.length > 100)
    pairs.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 0.02,
        s"${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
  }

  test("quantization is deterministic and matches the kernel directly") {
    val viaCol = emb.orderBy("vec_id").limit(5)
      .select(Quantize.int8(col("embedding")).as("qv"))
      .select(col("qv.scale"), col("qv.q")).collect()
      .map(r => (r.getDouble(0), r.getSeq[Byte](1).toSeq))
    val viaKernel = emb.orderBy("vec_id").limit(5)
      .select("embedding").collect()
      .map(r => Kernels.quantizeInt8(r.getSeq[Float](0)))
      .map { case (s, q) => (s, q.toSeq) }
    assert(viaCol.toSeq == viaKernel.toSeq)
  }

  // ----- random projection -----

  private def refSign(i: Int, j: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"graft|$i|$j".getBytes("UTF-8"))
    val h = "%02x".format(d(0))
    if (h < "2b") 1.0 else if (h < "56") -1.0 else 0.0
  }

  private def refProject(v: Array[Float], outDim: Int): Array[Double] = {
    val scale = math.sqrt(3.0 / outDim)
    Array.tabulate(outDim) { j =>
      var acc = 0.0
      v.indices.foreach(i => acc += v(i).toDouble * refSign(i, j))
      acc * scale
    }
  }

  test("randomProject == driver reference bitwise; nulls pass through") {
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 50).map(id =>
      (id.toLong, Array.fill(32)(rnd.nextFloat() * 2f - 1f)))
    val df = vecs.toDF("vec_id", "embedding").union(
      Seq((999L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding"))
    val got = Quantize.randomProject(df, "vec_id", "embedding", 32, 8)
      .as[(Long, Option[Array[Double]])].collect().toMap
    vecs.foreach { case (id, v) =>
      assert(got(id).get.toSeq == refProject(v, 8).toSeq, s"id=$id")
    }
    assert(got(999L).isEmpty)
  }

  test("JL property: pairwise distances roughly preserved at 32 -> 12 dims") {
    val rnd = new scala.util.Random(3)
    val vecs = (0 until 40).map(_ => Array.fill(32)(rnd.nextGaussian().toFloat))
    val proj = vecs.map(refProject(_, 12))
    def d2(a: Array[Double], b: Array[Double]) =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    val ratios = for {
      i <- vecs.indices; j <- vecs.indices if i < j
    } yield d2(proj(i), proj(j)) /
      d2(vecs(i).map(_.toDouble), vecs(j).map(_.toDouble))
    val mean = ratios.sum / ratios.size
    // E[ratio] = 1 over random matrices; THIS matrix is one fixed
    // md5 draw, so its realized density skews the mean (measured
    // ~0.68 here) — assert order-of-magnitude preservation, which is
    // all JL promises for a single draw at d'=12
    assert(mean > 0.4 && mean < 1.8, s"mean distance ratio $mean")
    assert(ratios.count(r => r > 0.15 && r < 3.0) > ratios.size * 9 / 10)
  }

  test("sign matrix density ~1/3 nonzero; deterministic across salts only") {
    val signs = for (i <- 0 until 64; j <- 0 until 8) yield refSign(i, j)
    val nz = signs.count(_ != 0.0).toDouble / signs.size
    assert(nz > 0.22 && nz < 0.45, s"nonzero fraction $nz")
    val a = Quantize.randomProject(
      Seq((1L, Array.fill(4)(1f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", 4, 4, salt = "a")
      .as[(Long, Array[Double])].head()._2.toSeq
    val b = Quantize.randomProject(
      Seq((1L, Array.fill(4)(1f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", 4, 4, salt = "b")
      .as[(Long, Array[Double])].head()._2.toSeq
    assert(a != b, "different salts must give different projections")
  }

  test("oversized vectors fail loudly; short vectors project by own length") {
    val df = Seq((1L, Array.fill(10)(1f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Quantize.randomProject(df, "vec_id", "embedding", 4, 2).collect()
    }
    assert(e.getMessage != null)
    val short = Quantize.randomProject(df, "vec_id", "embedding", 64, 4)
      .as[(Long, Array[Double])].head()._2
    val full = refProject(Array.fill(10)(1f), 4)
    assert(short.toSeq == full.toSeq)
  }
}
