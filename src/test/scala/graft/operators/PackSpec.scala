package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class PackSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // shard A stream: 10 + 0 + 5 + 4 tokens, seqLen 8
  // offsets: d1@0 (chunks 0-1), d2@10 (empty, chunk 1), d3@10
  // (chunks 1-1), d4@15 (chunks 1-2)
  private val docs = Seq(
    (1L, "A", 10L), (2L, "A", 0L), (3L, "A", 5L), (4L, "A", 4L),
    (5L, "B", 8L), (6L, "B", 1L)
  ).toDF("doc_id", "source", "toks")

  test("sequenceOffsets: hand-checked offsets and chunk spans") {
    val got = Pack.sequenceOffsets(docs, "doc_id", "source", "doc_id",
      "toks", seqLen = 8L)
      .as[(Long, String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._4, r._5, r._6))).toMap
    assert(got(1L) == ((0L, 0L, 1L)))   // tokens 0..9 -> chunks 0,1
    assert(got(2L) == ((10L, 1L, 1L)))  // empty doc at offset 10
    assert(got(3L) == ((10L, 1L, 1L)))  // tokens 10..14 -> chunk 1
    assert(got(4L) == ((15L, 1L, 2L)))  // tokens 15..18 -> chunks 1,2
    assert(got(5L) == ((0L, 0L, 0L)))   // B: tokens 0..7 -> chunk 0
    assert(got(6L) == ((8L, 1L, 1L)))   // B: token 8 -> chunk 1
  }

  test("null token counts read as 0 and never poison the shard cumsum") {
    val withNull = Seq(
      (1L, "A", Option(4L)), (2L, "A", Option.empty[Long]), (3L, "A", Option(5L))
    ).toDF("doc_id", "source", "toks")
    val got = Pack.sequenceOffsets(withNull, "doc_id", "source", "doc_id",
      "toks", seqLen = 8L)
      .as[(Long, String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    assert(got(1L) == ((4L, 0L)))
    assert(got(2L) == ((0L, 4L))) // null -> 0 tokens at offset 4
    assert(got(3L) == ((5L, 4L)))
  }

  test("deleteBlastRadius: hand-checked overlap accounting; the fully-" +
      "deleted chunk reports surviving_tokens 0; zero-token and unknown " +
      "tombstones invalidate nothing") {
    val manifest = Pack.sequenceOffsets(docs, "doc_id", "source",
      "doc_id", "toks", seqLen = 8L)
    def radius(ids: Long*) =
      Pack.deleteBlastRadius(manifest, ids.toDF("doc_id"), seqLen = 8L)
        .as[(String, Long, Long, Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    // delete d1 (A tokens 0..9): chunk A0 is ALL d1 (vanishes —
    // surviving 0); chunk A1 holds d1's tail 2 + d3's 5 + d4's 1
    assert(radius(1L) == Map(
      ("A", 0L) -> ((1L, 1L, 8L, 0L)),
      ("A", 1L) -> ((3L, 1L, 2L, 6L))))
    // a zero-token doc occupies no stream positions: deleting it
    // invalidates nothing; unknown ids are ignored
    assert(radius(2L).isEmpty)
    assert(radius(99L).isEmpty)
    // delete d6 (B token 8): chunk B1 vanishes, B0 untouched
    assert(radius(6L) == Map(("B", 1L) -> ((1L, 1L, 1L, 0L))))
    // whole shard deleted: every chunk reports surviving 0
    assert(radius(5L, 6L) == Map(
      ("B", 0L) -> ((1L, 1L, 8L, 0L)),
      ("B", 1L) -> ((1L, 1L, 1L, 0L))))
  }

  test("offsets are per-shard contiguous and deterministic on the fixture") {
    val fixture = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("toks"))
    def run() = Pack.sequenceOffsets(fixture, "doc_id", "source", "doc_id",
      "toks", seqLen = 2048L)
      .as[(Long, String, Long, Long, Long, Long)].collect().toSet
    val a = run()
    assert(a == run())
    // contiguity: within each shard sorted by start, offset_i+toks_i ==
    // offset_{i+1} (no gaps, no overlaps in the virtual stream)
    a.groupBy(_._2).values.foreach { shard =>
      val sorted = shard.toSeq.sortBy(_._4)
      sorted.sliding(2).foreach {
        case Seq(x, y) => assert(x._4 + x._3 == y._4, s"gap after ${x._1}")
        case _ =>
      }
    }
  }

  test("chunkWithOverlap: hand fixture — exact windows, short tail") {
    import spark.implicits._
    // 7 tokens, chunkSize 4, stride 2 -> starts 1,3,5 (last short)
    val fx = Seq((1L, "t1 t2 t3 t4 t5 t6 t7")).toDF("doc_id", "text")
    val got = Pack.chunkWithOverlap(fx, "doc_id", "text", 4, 2)
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._2)
    assert(got.toSeq == Seq(
      (1L, 0L, 1L, 4L, "t1 t2 t3 t4"),
      (1L, 1L, 3L, 4L, "t3 t4 t5 t6"),
      (1L, 2L, 5L, 3L, "t5 t6 t7")))
  }

  test("chunkWithOverlap: exact-fit stream has no phantom tail chunk") {
    import spark.implicits._
    // 8 tokens, chunkSize 4, stride 2 -> starts 1,3,5 and STOP (start 7
    // would add nothing: token 8 is already covered by start 5's chunk)
    val fx = Seq((1L, "t1 t2 t3 t4 t5 t6 t7 t8")).toDF("doc_id", "text")
    val got = Pack.chunkWithOverlap(fx, "doc_id", "text", 4, 2)
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._2)
    assert(got.map(_._3).toSeq == Seq(1L, 3L, 5L))
    assert(got.last._5 == "t5 t6 t7 t8")
  }

  test("chunkWithOverlap: every token covered, overlap == chunkSize - stride") {
    import spark.implicits._
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val chunks = Pack.chunkWithOverlap(docs, "doc_id", "text", 32, 8)
      .as[(Long, Long, Long, Long, String)].collect()
    val toks = docs.select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("n"))
      .as[(Long, Long)].collect().toMap
    chunks.groupBy(_._1).foreach { case (id, cs) =>
      val sorted = cs.sortBy(_._2)
      // full coverage: first starts at 1, last ends at n, and each
      // consecutive pair overlaps by exactly chunkSize - stride (or
      // the short tail, never a gap)
      assert(sorted.head._3 == 1L)
      assert(sorted.last._3 + sorted.last._4 - 1 == toks(id), s"doc $id")
      sorted.sliding(2).foreach {
        case Array(x, y) =>
          assert(y._3 == x._3 + 8, s"stride broken at doc $id")
          assert(y._3 <= x._3 + x._4, s"gap at doc $id")
        case _ =>
      }
    }
    // short docs (<= chunkSize tokens) yield exactly one chunk
    toks.filter(_._2 <= 32).keys.foreach { id =>
      assert(chunks.count(_._1 == id) == 1, s"doc $id")
    }
  }

  test("chunkWithOverlap property: coverage/stride/tail invariants on random params") {
    val rnd = new scala.util.Random(41)
    (0 until 20).foreach { _ =>
      val n = rnd.nextInt(60) // 0..59 tokens
      val chunkSize = 1 + rnd.nextInt(12)
      val stride = 1 + rnd.nextInt(chunkSize)
      val text = (1 to n).map(i => s"t$i").mkString(" ")
      val chunks = Kernels.chunkOverlap(text, chunkSize, stride)
      if (n == 0) assert(chunks.isEmpty)
      else {
        // starts advance by exactly stride; first at 1; last chunk
        // reaches token n; no chunk overshoots; every chunk non-empty
        assert(chunks.head.start_tok == 1L)
        chunks.zipWithIndex.foreach { case (c, i) =>
          assert(c.start_tok == i * stride + 1L)
          assert(c.n_tokens >= 1L && c.n_tokens <= chunkSize)
          assert(c.start_tok + c.n_tokens - 1 <= n)
          assert(c.chunk_text.split(" ").length == c.n_tokens)
        }
        assert(chunks.last.start_tok + chunks.last.n_tokens - 1 == n,
          s"n=$n cs=$chunkSize st=$stride")
        // no phantom chunk: the second-to-last (if any) does NOT reach n
        if (chunks.length > 1) {
          val p = chunks(chunks.length - 2)
          assert(p.start_tok + p.n_tokens - 1 < n)
        }
      }
    }
  }

  test("chunkWithOverlap: empty/null text and degenerate params") {
    import spark.implicits._
    val fx = Seq((1L, ""), (2L, null), (3L, "only three tokens"))
      .toDF("doc_id", "text")
    val got = Pack.chunkWithOverlap(fx, "doc_id", "text", 4, 4)
      .as[(Long, Long, Long, Long, String)].collect()
    assert(got.toSeq == Seq((3L, 0L, 1L, 3L, "only three tokens")))
    intercept[IllegalArgumentException] {
      Pack.chunkWithOverlap(fx, "doc_id", "text", 4, 5)
    }
    intercept[IllegalArgumentException] {
      Pack.chunkWithOverlap(fx, "doc_id", "text", 0, 1)
    }
  }

  test("lengthBatches: buckets bound padding, batches sized, hand-checked report") {
    import spark.implicits._
    // toks: 3,7,12,18,21,55,60,120 with width 10, batch 2, one shard
    val fx = Seq(
      (1L, 3L), (2L, 7L), (3L, 12L), (4L, 18L),
      (5L, 21L), (6L, 55L), (7L, 60L), (8L, 120L)
    ).toDF("doc_id", "toks")
    val got = Pack.lengthBatches(fx, "doc_id", "toks",
      bucketWidth = 10L, batchSize = 2, shards = 1)
      .orderBy("bucket", "batch")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    // bucket 0: toks 3,7 -> one batch (max 7, sum 10, padding 4);
    // bucket 1: 12,18 -> (18,30,6); bucket 2: 21 alone; 5: 55; 6: 60; 12: 120
    assert(got == Seq(
      (0L, 0L, 0L, 2L, 7L, 10L, 4L),
      (1L, 0L, 0L, 2L, 18L, 30L, 6L),
      (2L, 0L, 0L, 1L, 21L, 21L, 0L),
      (5L, 0L, 0L, 1L, 55L, 55L, 0L),
      (6L, 0L, 0L, 1L, 60L, 60L, 0L),
      (12L, 0L, 0L, 1L, 120L, 120L, 0L)))
    // invariants on the fixture corpus: batches never exceed size,
    // padding per doc < bucketWidth, assignment repartition-stable
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("toks"))
    val a = Pack.lengthBatches(docs, "doc_id", "toks", 50L, 8, shards = 2)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(a.nonEmpty)
    a.foreach { case (_, sh, _, n, mx, sm, pad) =>
      assert(n >= 1 && n <= 8 && (sh == 0L || sh == 1L))
      assert(pad == n * mx - sm)
      assert(pad < n * 50L, "bucketing must bound padding below width per doc")
    }
    assert(a.map(_._4).sum == docs.count()) // every doc in exactly one batch
    val b = Pack.lengthBatches(docs.repartition(13), "doc_id", "toks", 50L, 8, 2)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(a.sortBy(r => (r._1, r._2, r._3)).toSeq ==
      b.sortBy(r => (r._1, r._2, r._3)).toSeq)
    intercept[IllegalArgumentException] {
      Pack.lengthBatches(fx, "doc_id", "toks", 0L, 2)
    }
  }

  test("graft_chunks SQL face enforces the kernel parameter contract") {
    graft.expressions.GraftFunctions.registerAll(spark)
    // valid SQL call still works
    assert(spark.sql("SELECT graft_chunks('a b c d e', 2, 1) AS c")
      .selectExpr("size(c)").head().getInt(0) == 4)
    // stride=0 (was a divide-by-zero), stride>chunkSize (was a silent
    // every-token-covered violation) and chunkSize=0 all fail loudly
    // FROM THE KERNEL, so the SQL entry point is guarded identically
    // to Pack.chunkWithOverlap
    def rootIAE(t: Throwable): Boolean = t match {
      case null => false
      case _: IllegalArgumentException => true
      case other => rootIAE(other.getCause)
    }
    for (bad <- Seq("graft_chunks('a b c', 2, 0)",
        "graft_chunks('a b c', 2, 3)",
        "graft_chunks('a b c', 0, 1)")) {
      val e = intercept[Throwable] { spark.sql(s"SELECT $bad").collect() }
      assert(rootIAE(e), s"$bad did not fail with the contract message: $e")
    }
  }
}
