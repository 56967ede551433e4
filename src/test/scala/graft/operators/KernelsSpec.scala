package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.TextFunctions

/** The kernels are JIT'd twins of Column-expression spellings; the
  * oracle correctness of q33/q35/q36 rests on the twins agreeing.
  * This suite pins that equivalence on the real fixture corpus. */
class KernelsSpec extends AnyFunSuite {
  import KernelsSpec._
  private lazy val spark = TestSpark.spark

  test("Kernels.wordNgrams == the HOF column spelling on every fixture doc") {
    import spark.implicits._
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val kernelUdf = udf((t: String) => Kernels.wordNgrams(t, 3))
    val mismatches = docs.select(
      col("doc_id"),
      kernelUdf(col("text")).as("k"),
      wordNgramsColumn(col("text"), 3).as("c"))
      .filter(col("k") =!= col("c"))
      .count()
    assert(mismatches == 0)
    // plus hand cases: empties, repeated grams, multi-space
    for (t <- Seq("", "a", "a b", "a b c", "a  b   c d", "x y x y x y")) {
      val viaKernel = Kernels.wordNgrams(t, 3).toSeq
      val viaColumn = Seq(t).toDF("text")
        .select(wordNgramsColumn(col("text"), 3))
        .head().getSeq[String](0).toSeq
      assert(viaKernel == viaColumn, s"text '$t'")
    }
  }

  test("Kernels.fingerprint == the HOF column spelling, fixture and hand cases") {
    import spark.implicits._
    def mismatches(docs: org.apache.spark.sql.DataFrame): Array[(String, String, String)] =
      docs.select(col("text"),
        TextFunctions.fingerprint(col("text")).as("k"),
        fingerprintColumn(col("text")).as("c"))
        .filter(!(col("k") <=> col("c")))
        .as[(String, String, String)].collect()
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    assert(docs.count() > 0)
    assert(mismatches(docs).isEmpty)
    val hand = Seq[String](null, "", "a", "a b", "a b c", " a b c d",
      "a b c d ", "a  b   c  d", "a\tb c d", "x y x y x y",
      "你好 世界 和平 快乐", "a \uD83D\uDE00 b c", "\uD83D\uDE00")
    val handDf = hand.toDF("text")
    assert(mismatches(handDf).isEmpty)
    // the column is the kernel, row for row
    val viaColumn = handDf.select(TextFunctions.fingerprint(col("text")))
      .as[String].collect().toSeq
    assert(viaColumn == hand.map(Kernels.fingerprint(_, 3)))
    assert(Kernels.fingerprint(null, 3) == null)
    assert(Kernels.fingerprint("a b", 3) == Kernels.md5Hex("a b"))
  }

  test("Kernels.jaccard == array_intersect/union counts") {
    val a = Seq("x", "y", "z")
    val b = Seq("y", "z", "w", "v")
    assert(Kernels.jaccard(a, b) == 2.0 / 5.0)
    assert(Kernels.jaccard(a, a) == 1.0)
    assert(Kernels.jaccard(a, Seq.empty) == 0.0)
    assert(Kernels.jaccard(Seq.empty, Seq.empty) == 0.0)
  }

  test("minHashSignature: deterministic, monotone under superset for any single hash") {
    val s1 = Kernels.minHashSignature(Seq("a b c", "b c d"), 16)
    val s2 = Kernels.minHashSignature(Seq("a b c", "b c d"), 16)
    assert(s1.toSeq == s2.toSeq)
    // adding elements can only lower each min
    val s3 = Kernels.minHashSignature(Seq("a b c", "b c d", "c d e"), 16)
    s1.zip(s3).foreach { case (x, y) => assert(y <= x) }
    // identical sets in different order: same signature
    val s4 = Kernels.minHashSignature(Seq("b c d", "a b c"), 16)
    assert(s1.toSeq == s4.toSeq)
  }

  test("hash64 is stable (pins the on-disk/bucket contract)") {
    assert(Kernels.hash64("abc", 42L) == Kernels.hash64("abc", 42L))
    assert(Kernels.hash64("abc", 42L) != Kernels.hash64("abd", 42L))
    assert(Kernels.hash64("abc", 1L) != Kernels.hash64("abc", 2L))
  }

  test("simHash64: order-insensitive for same multiset, sensitive to content") {
    val a = Kernels.simHash64(Seq("w1", "w2", "w3"))
    assert(Kernels.simHash64(Seq("w3", "w1", "w2")) == a)
    assert(Kernels.simHash64(Seq("w1", "w2", "zzz")) != a)
    assert(Kernels.simHash64(Seq.empty) == 0L)
  }

  test("md5Lower64 == DuckDB md5_number_lower (cross-engine contract)") {
    // pinned against duckdb: SELECT md5_number_lower('hello') etc.,
    // converted to signed two's-complement
    def signed(u: BigInt): Long =
      (if (u >= (BigInt(1) << 63)) u - (BigInt(1) << 64) else u).toLong
    assert(Kernels.md5Lower64("hello") == signed(BigInt("10575884659879408057")))
    assert(Kernels.md5Lower64("a") == signed(BigInt("7000413967451013937")))
    assert(Kernels.md5Lower64("") == signed(BigInt("9098107892288553193")))
  }

  test("md5Lower64Parts == md5Lower64 of the concatenation") {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val ids = Seq("", "a", "order-12345", "café", "日本語-id", "x" * 200)
    val tails = Seq("", ":0:graft", ":199:graft", ":7:sält")
    for (id <- ids; t <- tails)
      assert(Kernels.md5Lower64Parts(id.getBytes(utf8), t.getBytes(utf8))
        == Kernels.md5Lower64(id + t), s"id=$id tail=$t")
  }

  test("simHash64Md5 shares simHash64's semantics on a different hash") {
    val a = Kernels.simHash64Md5(Seq("w1", "w2", "w3"))
    assert(Kernels.simHash64Md5(Seq("w3", "w1", "w2")) == a)
    assert(Kernels.simHash64Md5(Seq("w1", "w2", "zzz")) != a)
    assert(Kernels.simHash64Md5(Seq.empty) == 0L)
    assert(a != Kernels.simHash64(Seq("w1", "w2", "w3")))
  }

  test("md5Hex matches the reference digest") {
    // RFC 1321 test vectors
    assert(Kernels.md5Hex("") == "d41d8cd98f00b204e9800998ecf8427e")
    assert(Kernels.md5Hex("abc") == "900150983cd24fb0d6963f7d28e17f72")
    // and the low-64 view agrees with md5Lower64's little-endian read
    val hex = Kernels.md5Hex("graft")
    val lo = (0 until 8).map { i =>
      java.lang.Long.parseLong(hex.substring(16 + 2 * i, 18 + 2 * i), 16) << (8 * i)
    }.reduce(_ | _)
    assert(lo == Kernels.md5Lower64("graft"))
  }

  test("cdcChunks: partition, boundary law, insertion resync") {
    val text = "the quick brown fox jumps over the lazy dog " * 8
    val w = 8; val m = 16
    val chunks = Kernels.cdcChunks(text, w, m)
    // chunks partition the text exactly
    assert(chunks.head.start == 1L)
    assert(chunks.map(_.len).sum == text.length.toLong)
    chunks.sliding(2).foreach {
      case Array(a, b) => assert(b.start == a.start + a.len)
      case _ =>
    }
    // every non-final boundary satisfies the hash law; interior
    // positions of each chunk beyond the window do not
    chunks.dropRight(1).foreach { c =>
      val p = (c.start + c.len - 1).toInt
      val win = text.substring(p - w, p)
      assert((Kernels.md5Lower64(win) >>> 11) % m == 0)
    }
    // chunk md5 is the content md5
    chunks.foreach { c =>
      val s = text.substring(c.start.toInt - 1, (c.start + c.len - 1).toInt)
      assert(c.chunkMd5 == Kernels.md5Hex(s))
    }
    // INSERTION RESYNC: prefixing re-aligns after the first boundary
    val shifted = Kernels.cdcChunks("PREFIX-" + text, w, m)
    val origSet = chunks.map(_.chunkMd5).toSet
    assert(shifted.drop(1).count(c => origSet(c.chunkMd5)) >=
      chunks.length - 2, "later chunks must re-synchronize")
    // degenerate inputs
    assert(Kernels.cdcChunks("", w, m).isEmpty)
    val tiny = Kernels.cdcChunks("ab", w, m)
    assert(tiny.length == 1 && tiny.head.len == 2L)
    intercept[IllegalArgumentException] { Kernels.cdcChunks("x", 0, m) }
    intercept[IllegalArgumentException] { Kernels.cdcChunks("x", w, 0) }
  }

  test("cdcChunks property: partition + boundary laws on random corpora") {
    val rnd = new scala.util.Random(17)
    for (trial <- 0 until 60) {
      val len = rnd.nextInt(400)
      val text = Array.fill(len)(('a' + rnd.nextInt(5)).toChar).mkString
      val w = 1 + rnd.nextInt(12)
      val m = 1 + rnd.nextInt(40)
      val chunks = Kernels.cdcChunks(text, w, m)
      if (text.isEmpty) assert(chunks.isEmpty)
      else {
        // exact partition, in order
        assert(chunks.head.start == 1L, s"trial $trial")
        assert(chunks.map(_.len).sum == len.toLong, s"trial $trial")
        chunks.sliding(2).foreach {
          case Array(a, b) => assert(b.start == a.start + a.len)
          case _ =>
        }
        // every position in [w, len) is a boundary IFF the hash law
        // holds — full equivalence, not just one direction
        val ends = chunks.map(c => c.start + c.len - 1).toSet
        for (p <- w until len) {
          val law = (Kernels.md5Lower64(
            text.substring(p - w, p)) >>> 11) % m == 0
          assert(ends.contains(p.toLong) == law,
            s"trial $trial pos $p law=$law")
        }
        // md5 of every chunk content matches
        chunks.foreach { c =>
          val s = text.substring(c.start.toInt - 1,
            (c.start + c.len - 1).toInt)
          assert(c.chunkMd5 == Kernels.md5Hex(s))
        }
      }
    }
  }
}

object KernelsSpec {

  /** The Catalyst higher-order-function spelling of
    * [[Kernels.wordNgrams]]: word n-grams (space-joined), distinct, and
    * an empty array when the doc has fewer than n words (which guards
    * `sequence`'s negative range). The column reference the kernel is
    * pinned against. */
  def wordNgramsColumn(c: Column, n: Int): Column = {
    val w = TextFunctions.words(c)
    when(size(w) < n, array().cast("array<string>")).otherwise(
      array_distinct(transform(
        sequence(lit(0), size(w) - lit(n)),
        i => concat_ws(" ", slice(w, i + 1, lit(n))))))
  }

  /** The higher-order-function spelling of
    * [[graft.functions.TextFunctions.fingerprint]]: the least md5 over
    * the word n-grams, md5 of the whole text when there is none. */
  def fingerprintColumn(c: Column, n: Int = 3): Column = {
    val g = wordNgramsColumn(c, n)
    when(size(g) === 0, md5(c))
      .otherwise(array_min(transform(g, x => md5(x))))
  }
}
