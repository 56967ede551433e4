package graft.expressions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.{Kernels, Similarity}

class CosineSimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("graft_cosine registers and matches the kernel bitwise") {
    GraftFunctions.register(spark)
    GraftFunctions.register(spark) // idempotent
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val pairs = emb.as("a").join(emb.as("b"),
      col("a.vec_id") + 1 === col("b.vec_id"))
      .select(
        call_function("graft_cosine", col("a.embedding"), col("b.embedding"))
          .as("native"),
        Similarity.cosineKernel(col("a.embedding"), col("b.embedding")).as("kernel"))
      .as[(Double, Double)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (n, k) => assert(n == k) } // bitwise equality
  }

  test("graft_cosine via SQL text and edge cases") {
    GraftFunctions.register(spark)
    val got = spark.sql(
      """SELECT graft_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c1,
                graft_cosine(array(1.0F, 0.0F), array(0.0F, 1.0F)) AS c2,
                graft_cosine(array(0.0F, 0.0F), array(1.0F, 1.0F)) AS c3,
                graft_cosine(CAST(NULL AS ARRAY<FLOAT>), array(1.0F)) AS c4""")
      .head()
    assert(got.getDouble(0) == 1.0)
    assert(got.getDouble(1) == 0.0)
    assert(got.getDouble(2) == 0.0)
    assert(got.isNullAt(3)) // null-safe like any binary expression
  }

  test("wrong arity is an analysis-time error via both registration paths") {
    GraftFunctions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT graft_cosine(array(1.0F))").collect()
    }
    assert(e.getMessage.contains("exactly 2 arguments"))
  }

  test("registerAll: every kernel function callable by name from SQL text") {
    GraftFunctions.registerAll(spark)
    val r = spark.sql("""SELECT
        graft_jaccard(array('a','b','c'), array('b','c','d')) AS j,
        graft_simhash64(array('w1','w2')) AS sh,
        graft_word_ngrams('a b c d', 3) AS ng,
        graft_int8_cosine(array(CAST(127 AS TINYINT), CAST(0 AS TINYINT)),
          array(CAST(127 AS TINYINT), CAST(0 AS TINYINT))) AS c8,
        graft_md5_lower64('hello') AS m""").head()
    assert(r.getDouble(0) == 0.5) // |{b,c}| / |{a,b,c,d}|
    assert(r.getLong(1) == Kernels.simHash64(Seq("w1", "w2")))
    assert(r.getSeq[String](2).toSeq == Seq("a b c", "b c d"))
    assert(r.getDouble(3) == 1.0)
    assert(r.getLong(4) == Kernels.md5Lower64("hello"))
    val r4 = spark.sql("""SELECT
        graft_gram_md5s('a b c d', 3) AS gm,
        graft_chunks('t1 t2 t3 t4 t5', 3, 2) AS ch""").head()
    assert(r4.getSeq[Long](0).toSeq ==
      Seq(Kernels.md5Lower64("a b c"), Kernels.md5Lower64("b c d")))
    val chunks = r4.getSeq[org.apache.spark.sql.Row](1)
    assert(chunks.map(c => (c.getLong(0), c.getLong(1), c.getString(2))) ==
      Seq((1L, 3L, "t1 t2 t3"), (3L, 3L, "t3 t4 t5")))
    // null-tolerant through the SQL face
    val n = spark.sql(
      "SELECT graft_jaccard(CAST(NULL AS ARRAY<STRING>), array('x'))").head()
    assert(n.isNullAt(0))
  }

  test("interpreted fallback matches generated code path") {
    // force interpreted eval through the object helper on raw arrays
    val a = Array(0.3f, -1.2f, 4.5f)
    val b = Array(1.1f, 0.4f, -0.2f)
    val viaKernel = Kernels.cosineArrays(a, b)
    val viaExpr = CosineSimilarity.compute(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(a),
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(b))
    assert(viaExpr == viaKernel)
  }

  test("graft_nfc: composes decomposed forms, fast-path identity, SQL face") {
    import spark.implicits._
    graft.expressions.GraftFunctions.register(spark)
    // decomposed e + U+0301 composes to é; already-NFC passes through
    val got = spark.sql(
      "SELECT graft_nfc('Cafe\u0301 a\u030A'), graft_nfc('Caf\u00e9'), " +
        "graft_nfc(CAST(NULL AS STRING))").collect().head
    assert(got.getString(0) == "Café å")
    assert(got.getString(1) == "Café")
    assert(got.isNullAt(2))
    // fast path returns the SAME UTF8String instance for NFC input
    val in = org.apache.spark.unsafe.types.UTF8String.fromString("plain")
    assert(graft.expressions.NfcNormalize.compute(in) eq in)
    // codegen path (DataFrame select over a real column) agrees with
    // the interpreted kernel on multilingual fixture text
    val docs = spark.read
      .parquet(s"${graft.TestSpark.sf0001}/documents.parquet")
      .limit(50)
    val viaExpr = docs.select(
      graft.functions.TextFunctions.normalizeText($"text").as("n"))
      .as[String].collect()
    val viaJvm = docs.select($"text").as[String].collect().map { t =>
      java.text.Normalizer.normalize(
        t.replaceAll("[\\x00-\\x1F\\x7F]", " ").replaceAll(" +", " ").trim,
        java.text.Normalizer.Form.NFC)
    }
    assert(viaExpr.toSeq == viaJvm.toSeq)
    // type check is an analysis error, not a runtime crash
    val err = intercept[Exception] {
      spark.sql("SELECT graft_nfc(42)").collect()
    }
    assert(err.getMessage.contains("string"))
  }

  test("native graft_int8_cosine == Kernels.int8Cosine on random codes + edges") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // Seq[Byte] encodes as array<tinyint> (Array[Byte] would be BINARY)
    val rows = (0 until 200).map { i =>
      (i.toLong,
        Seq.fill(16)((rnd.nextInt(255) - 127).toByte),
        Seq.fill(16)((rnd.nextInt(255) - 127).toByte))
    } :+ ((200L, Seq.fill(16)(0.toByte), Seq.fill(16)(1.toByte))) // zero vec
    val df = rows.toDF("id", "a", "b")
    GraftFunctions.register(spark)
    GraftFunctions.registerAll(spark)
    val got = df.selectExpr("id", "graft_int8_cosine(a, b) AS c")
      .as[(Long, Double)].collect().toMap
    rows.foreach { case (id, a, b) =>
      assert(got(id) == Kernels.int8Cosine(a, b), s"id $id")
    }
    // interpreted fallback == kernel too
    val viaExpr = Int8Cosine.compute(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(rows.head._2.toArray),
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(rows.head._3.toArray))
    assert(viaExpr == Kernels.int8Cosine(rows.head._2, rows.head._3))
    // null propagation through the SQL face
    val n = spark.sql(
      "SELECT graft_int8_cosine(CAST(NULL AS ARRAY<TINYINT>), array(CAST(1 AS TINYINT)))").head()
    assert(n.isNullAt(0))
    // wrong type is an analysis error, not a runtime cast failure
    val err = intercept[Exception] {
      spark.sql("SELECT graft_int8_cosine(array(1.5), array(2.5))").collect()
    }
    assert(err.getMessage.contains("array<tinyint>"))
  }
}
