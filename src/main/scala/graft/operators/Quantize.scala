package graft.operators

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

/** Embedding quantization for shuffle-weight reduction (SURVEY §7.2
  * M4 similarity-search scale path): float32 embeddings dominate the
  * bytes every ANN/dedup shuffle moves; symmetric int8 codes carry
  * ~4x less with bounded per-component error (≤ scale/2). Cosine over
  * the codes needs no scales at all — they cancel — so candidate
  * scoring runs on pure 64-bit integer dot products ([[Kernels
  * .int8Cosine]]) and only the final verify stage, if any, touches
  * float vectors again.
  *
  * The quantizer's arithmetic (max|x|/127 scale, floor(x/scale + 0.5)
  * rounding) is deliberately chosen from the IEEE-double operations
  * every engine computes identically, so the q62 DuckDB oracle
  * recomputes the exact codes in SQL.
  */
object Quantize {

  /** Quantized vector: per-vector scale + int8 codes. */
  case class QVec(scale: Double, q: Seq[Byte])

  /** array<float> → struct(scale double, q array<tinyint>). */
  def int8(vec: Column): Column = {
    val u = udf((v: scala.collection.Seq[Float]) =>
      if (v == null) null
      else {
        val (s, q) = Kernels.quantizeInt8(v)
        QVec(s, q.toSeq)
      })
    u(vec)
  }

  /** Cosine between two quantized vectors — scales cancel, so this is
    * the native codegen'd [[graft.expressions.Int8Cosine]] over the
    * code arrays: primitive byte reads and 64-bit integer accumulators
    * inlined into whole-stage codegen (the UDF spelling paid
    * Row-struct conversion per candidate pair). NULL structs yield
    * NULL like the UDF did (getField propagates null). */
  def cosineInt8(a: Column, b: Column): Column =
    org.apache.spark.sql.graftshim.GraftSqlShim.column(
      graft.expressions.Int8Cosine(
        org.apache.spark.sql.graftshim.GraftSqlShim.expression(a.getField("q")),
        org.apache.spark.sql.graftshim.GraftSqlShim.expression(b.getField("q"))))

  // -------------------------------------------------------------------
  // Random projection — the OTHER compression axis: int8 shrinks the
  // bytes per dimension, Johnson–Lindenstrauss shrinks the DIMENSIONS.
  // -------------------------------------------------------------------

  /** First byte of md5(key) as two lowercase hex chars — fixed-width
    * lowercase hex compares lexicographically as its numeric value,
    * so band tests below are plain string compares any engine
    * reproduces from its own md5(). */
  private def md5Byte0(key: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8"))
    "%02x".format(d(0))
  }

  /** Sparse random projection (Achlioptas, "Database-friendly random
    * projections", PODS 2001): y_j = √(3/d′) · Σ_i x_i·s(i,j) with
    * s(i,j) ∈ {+1, −1, 0} at ≈{1/6, 1/6, 2/3} — the JL transform
    * that preserves pairwise distances within (1±ε) w.h.p. while
    * CUTTING THE DIMENSION, i.e. the shuffle bytes AND the per-pair
    * flops of everything downstream (ANN candidate scoring, dedup
    * verify). Two-thirds of the matrix is zeros, so the projection
    * itself is ~d·d′/3 multiply-adds per row, map-side, no shuffle.
    *
    * The sign matrix is NOT random at run time: s(i,j) derives from
    * md5("salt|i|j")'s first byte (<0x2b → +1, <0x56 → −1, else 0 —
    * 43/256 ≈ 1/6 per sign), so the SAME salt rebuilds the SAME
    * projection on any engine, any cluster, any retry — and the
    * oracle recomputes every output double bitwise from DuckDB's own
    * md5 (per-term products folded in ascending-i order, one final
    * scale multiply; all IEEE basic ops).
    *
    * Vectors longer than `inDim` fail loudly (the matrix would
    * silently truncate them); shorter ones project by their own
    * length (missing dims contribute nothing, matching the oracle's
    * range(len) fold). */
  /** The projection as a reusable Column function — composition
    * surface for operators that project INLINE (no id-join) before
    * shuffling, e.g. [[Similarity.ivfTopKProjected]]. */
  def randomProjector(
      inDim: Int, outDim: Int, salt: String = "graft"): Column => Column = {
    require(inDim >= 1, s"inDim must be >= 1, got $inDim")
    require(outDim >= 1, s"outDim must be >= 1, got $outDim")
    val signs: Array[Array[Double]] = Array.tabulate(outDim, inDim) {
      (j, i) =>
        val h = md5Byte0(s"$salt|$i|$j")
        if (h < "2b") 1.0 else if (h < "56") -1.0 else 0.0
    }
    val scale = math.sqrt(3.0 / outDim)
    val inDimLocal = inDim
    val outDimLocal = outDim
    val u = udf((v: scala.collection.Seq[Float]) =>
      if (v == null) null
      else {
        require(v.length <= inDimLocal,
          s"vector dim ${v.length} exceeds the projection's inDim=" +
            s"$inDimLocal — rebuild with a larger inDim rather than " +
            "silently truncating components")
        Array.tabulate(outDimLocal) { j =>
          val s = signs(j)
          var acc = 0.0; var i = 0
          while (i < v.length) { acc += v(i).toDouble * s(i); i += 1 }
          acc * scale
        }
      })
    (c: Column) => u(c)
  }

  def randomProject(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      vecCol: String,
      inDim: Int,
      outDim: Int,
      salt: String = "graft"): org.apache.spark.sql.DataFrame = {
    val proj = randomProjector(inDim, outDim, salt)
    df.select(col(idCol).as("id"), proj(col(vecCol)).as("proj"))
  }
}
