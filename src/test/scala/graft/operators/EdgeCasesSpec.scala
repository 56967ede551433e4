package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Degenerate-input sweep: empty corpora, singletons, k larger than
  * the corpus. Operators must return empty/short results with the
  * same schema as the populated path — never throw, never change
  * shape (downstream unions and writers depend on schema stability). */
class EdgeCasesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private def emptyEmb =
    Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
  private def tinyEmb = Seq(
    (1L, Array(1f, 0f, 0f)), (2L, Array(0.9f, 0.1f, 0f))
  ).toDF("vec_id", "embedding")

  test("dedup operators on empty and singleton corpora") {
    assert(Dedup.exactGroups(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.minHashLshPairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.ngramJaccardPairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.simHashPairs(emptyDocs, "doc_id", "text").count() == 0)
    val one = Seq((1L, "a single document here")).toDF("doc_id", "text")
    assert(Dedup.minHashLshPairs(one, "doc_id", "text").count() == 0)
    assert(Dedup.embeddingNearDupPairs(emptyEmb, "vec_id", "embedding", 0.5)
      .count() == 0)
  }

  test("ivfTopK on an empty corpus: empty result, schema matches populated path") {
    val empty = Similarity.ivfTopK(emptyEmb, "vec_id", "embedding", k = 5)
    assert(empty.count() == 0)
    val populated = Similarity.ivfTopK(tinyEmb, "vec_id", "embedding", k = 5)
    assert(empty.schema == populated.schema,
      s"${empty.schema} vs ${populated.schema}")
    assert(empty.schema == StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("rank", LongType, nullable = false),
      StructField("nn_id", LongType, nullable = false),
      StructField("cos", DoubleType, nullable = false))))
  }

  test("k larger than the corpus: every neighbor ranked, nothing invented") {
    val res = Similarity.bruteForceTopK(
      tinyEmb, "vec_id", "embedding", tinyEmb, "vec_id", "embedding", k = 50)
      .collect()
    assert(res.length == 2) // each query has exactly 1 non-self neighbor
    val ann = Similarity.annTopK(tinyEmb, "vec_id", "embedding", k = 50,
      tables = 4, bits = 2, dim = 3)
      .collect()
    assert(ann.length <= 2)
    val ivf = Similarity.ivfTopK(tinyEmb, "vec_id", "embedding", k = 50)
      .collect()
    assert(ivf.length == 2)
  }

  test("quantization of empty and zero vectors") {
    val (s, q) = Kernels.quantizeInt8(Seq.empty[Float])
    assert(s == 0.0 && q.isEmpty)
    assert(Kernels.int8Cosine(Seq.empty[Byte], Seq.empty[Byte]) == 0.0)
    val df = Seq((1L, Array.empty[Float]), (2L, Array(0f, 0f)))
      .toDF("id", "v")
    val rows = df.select(Quantize.int8(col("v")).as("qv"))
      .select(col("qv.scale"), size(col("qv.q"))).collect()
    assert(rows.map(r => (r.getDouble(0), r.getInt(1))).toSeq ==
      Seq((0.0, 0), (0.0, 2)))
  }

  test("sessionizeBatch and dedupBatch on empty events") {
    val empty = Seq.empty[(Long, java.sql.Timestamp, String)]
      .toDF("user_id", "ts", "event_type")
    assert(graft.streaming.Streams.sessionizeBatch(empty, 1000L).count() == 0)
    assert(graft.streaming.Streams.dedupBatch(
      empty, Seq("user_id", "event_type")).count() == 0)
  }

  test("decontamination/tfidf/boilerplate on empty and null-text corpora") {
    val nullTexts = Seq((1L, Option.empty[String]), (2L, Option("x y")))
      .toDF("doc_id", "text")
    // empty train side: empty report, no throw
    assert(Decontaminate.contaminationReport(
      emptyDocs, "doc_id", "text", nullTexts, "text").count() == 0)
    // empty TEST side: everything clean, on the exact and the Bloom path
    val rep = Decontaminate.contaminationReport(
      nullTexts, "doc_id", "text", emptyDocs, "text")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(rep == Set((1L, 0L, false), (2L, 0L, false)))
    assert(Decontaminate.contaminationReportBloom(
      nullTexts, "doc_id", "text", emptyDocs, "text")
      .as[(Long, Long, Boolean)].collect().toSet == rep)
    // tf-idf: empty corpus and null texts yield no term rows
    assert(TfIdf.topTerms(emptyDocs, "doc_id", "text", 3).count() == 0)
    assert(TfIdf.termScores(
      Seq((1L, Option.empty[String])).toDF("doc_id", "text"),
      "doc_id", "text").count() == 0)
    // boilerplate: every doc still reported, zero fractions
    val b = Boilerplate.boilerplateScore(nullTexts, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(b == Set((1L, 0L, 0L, 0.0), (2L, 0L, 0L, 0.0)))
    assert(Boilerplate.boilerplateScore(emptyDocs, "doc_id", "text").count() == 0)
  }

  test("clusterAwareSplit with no pairs: every id its own cluster, valid buckets") {
    val ids = Seq(5L, 6L).toDF("id")
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val got = Dedup.clusterAwareSplit(ids, "id", noPairs, nBuckets = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(got.map(r => (r._1, r._2)) == Set((5L, 5L), (6L, 6L)))
    got.foreach { case (_, _, b) => assert(b >= 0 && b < 3) }
  }

  test("scrub and text functions on empty strings") {
    val df = Seq("").toDF("text")
    val r = df.select(
      graft.functions.TextFunctions.scrubPii(col("text")),
      graft.functions.TextFunctions.urlCount(col("text")),
      graft.functions.TextFunctions.fingerprint(col("text"))).head()
    assert(r.getString(0) == "")
    assert(r.getLong(1) == 0L)
    assert(r.getString(2).length == 32) // md5 fallback
  }

  test("tokenBudgetSelect: zero/negative budget keeps only zero-token prefix rows") {
    val docs = Seq((1L, "three tokens here", 0.9), (2L, "", 0.8))
      .toDF("doc_id", "text", "q")
    // budget 0: doc 1 (3 tokens) overflows; doc 2 rides free only if
    // it precedes the overflow — it doesn't (lower quality), so empty
    assert(Curation.tokenBudgetSelect(docs, "doc_id", "text", 0L, col("q"))
      .count() == 0)
    val flipped = Seq((1L, "three tokens here", 0.8), (2L, "", 0.9))
      .toDF("doc_id", "text", "q")
    assert(Curation.tokenBudgetSelect(flipped, "doc_id", "text", 0L, col("q"))
      .select("doc_id").as[Long].collect().toSeq == Seq(2L))
  }

  test("duplicateClustersIncremental: pairs with unknown endpoints are ignored") {
    val existing = Seq((0L, 0L), (1L, 0L)).toDF("id", "cluster_id")
    // 99 appears in a pair but is neither an existing id nor in the
    // new batch — the edge is dropped (inner join on the label lookup),
    // known labels stay intact
    val got = Dedup.duplicateClustersIncremental(
      existing, Seq(5L).toDF("id"),
      Seq((5L, 99L)).toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 5L -> 5L))
  }

  test("pairRecall casts and tolerates int ids; empty approx scores zero") {
    val exact = Seq((1, 10), (1, 11)).toDF("query_id", "nn_id")
    val approx = Seq((1, 10)).toDF("query_id", "nn_id")
    assert(Gates.pairRecall(approx, exact) == 0.5)
    assert(Gates.pairRecall(approx.limit(0), exact) == 0.0)
  }

  test("shuffleShards: empty corpus and null keys stay deterministic, never throw") {
    assert(Sampling.shuffleShards(emptyDocs, col("doc_id"), 4).count() == 0)
    // null keys hash as "" — they all land in the same shard slot,
    // deterministically, with the id tiebreak keeping positions stable
    val withNulls = Seq(
      (Some(1L), "a"), (None, "b"), (None, "c"), (Some(2L), "d")
    ).toDF("doc_id", "text")
    val a = Sampling.shuffleShards(withNulls, col("doc_id"), 4)
      .select("text", "shard", "pos").as[(String, Long, Long)]
      .collect().sortBy(_._1).toSeq
    val b = Sampling.shuffleShards(withNulls.repartition(5), col("doc_id"), 4)
      .select("text", "shard", "pos").as[(String, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(a == b && a.length == 4)
    assert(a.filter(r => r._1 == "b" || r._1 == "c")
      .map(_._2).distinct.length == 1) // null keys co-shard
  }

  test("lengthBatches: empty input and zero-token docs") {
    assert(Pack.lengthBatches(
      Seq.empty[(Long, Long)].toDF("doc_id", "toks"),
      "doc_id", "toks", 10L, 4).count() == 0)
    // zero/null token counts land in bucket 0 with zero padding
    val z = Pack.lengthBatches(
      Seq((1L, Some(0L)), (2L, Option.empty[Long]), (3L, Some(2L)))
        .toDF("doc_id", "toks"),
      "doc_id", "toks", 10L, 4)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(z.length == 1)
    val (bucket, _, _, n, mx, sm, pad) = z.head
    assert(bucket == 0L && n == 3L && mx == 2L && sm == 2L && pad == 4L)
  }

  test("groupCentroidsTwoPhase: empty input passes the gate vacuously") {
    val empty = Seq.empty[(Long, String, Array[Float])].toDF("id", "grp", "v")
    assert(Similarity.groupCentroidsTwoPhase(empty, "grp", "id", "v").count() == 0)
  }
}
