package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class DecontaminateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val heldout = Seq(
    (100L, "the quick brown fox jumps"),
    (101L, "entirely unrelated benchmark prose here")
  ).toDF("doc_id", "text")

  private val train = Seq(
    (1L, "the quick brown fox sleeps"),    // shares "the quick brown", "quick brown fox"
    (2L, "completely clean training text"),
    (3L, "fox jumps the quick brown fox jumps again"), // 3 shared grams
    (4L, "too short"),                     // < n words -> no grams
    (5L, "unrelated benchmark prose here too") // shares 2 grams with 101
  ).toDF("doc_id", "text")

  test("contaminationReport: exact distinct-gram hit counts, one row per train doc") {
    val got = Decontaminate.contaminationReport(
      train, "doc_id", "text", heldout, "text", n = 3)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.size == 5)
    assert(got(1L) == ((2L, true)))
    assert(got(2L) == ((0L, false)))
    // doc 3 grams: "fox jumps the","jumps the quick","the quick brown",
    // "quick brown fox","brown fox jumps","fox jumps again";
    // test grams of 100: "the quick brown","quick brown fox","brown fox jumps"
    assert(got(3L) == ((3L, true)))
    assert(got(4L) == ((0L, false)))
    // doc 5: "unrelated benchmark prose","benchmark prose here" match 101
    assert(got(5L) == ((2L, true)))
  }

  test("bloom pre-pass is bitwise the exact path, at any fpp") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val tr = docs.filter(col("doc_id") % 10 =!= 0)
    val te = docs.filter(col("doc_id") % 10 === 0)
    val exact = Decontaminate.contaminationReport(
      tr, "doc_id", "text", te, "text", n = 3)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    // fixture plants exact duplicates, so contamination is nonempty
    assert(exact.exists(_._3) && exact.exists(!_._3))
    // fpp only moves the candidate volume between the sketch and the
    // verify join — never the answer (no false negatives; false
    // positives die in the verify)
    for (fpp <- Seq(0.5, 0.01)) {
      val bloom = Decontaminate.contaminationReportBloom(
        tr, "doc_id", "text", te, "text", n = 3, fpp = fpp)
        .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
      assert(bloom == exact, s"bloom(fpp=$fpp) diverged from exact")
    }
  }

  // ----- fuzzy (MinHash-LSH) decontamination -----

  /** Brute-force reference: per train doc, benchmark docs within
    * exact n-gram Jaccard >= minJ. */
  private def fuzzyRef(
      tr: Seq[(Long, String)], te: Seq[(Long, String)],
      n: Int, minJ: Double): Map[Long, Long] = {
    def sets(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => id -> Kernels.wordNgrams(t, n).toSeq }
    val teSets = sets(te).filter(_._2.nonEmpty)
    sets(tr).map { case (id, s) =>
      id -> (if (s.isEmpty) 0L
             else teSets.count(b => Kernels.jaccard(s, b._2) >= minJ).toLong)
    }.toMap
  }

  test("fuzzyReport == brute-force cross-Jaccard on near-dup fixture") {
    val te = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "one two three four five six seven eight nine ten"))
    val tr = Seq(
      // near-dup of 100: one word changed at the tail, J ~ 6/8... high
      (1L, "alpha beta gamma delta epsilon zeta eta iota"),
      (2L, "totally different text about something else entirely"),
      // exact copy of 101
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "too short"))
    val got = Decontaminate.fuzzyReport(
      tr.toDF("doc_id", "text"), "doc_id", "text",
      te.toDF("doc_id", "text"), "doc_id", "text",
      n = 3, minJ = 0.5)
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> r._2).toMap
    val ref = fuzzyRef(tr, te, 3, 0.5)
    assert(got == ref)
    assert(got(3L) == 1L && got(2L) == 0L && got(4L) == 0L)
  }

  test("fuzzyReport agrees with brute force on the documents fixture") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val trRows = docs.filter(col("doc_id") % 10 =!= 0)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val teRows = docs.filter(col("doc_id") % 10 === 0)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val tr = docs.filter(col("doc_id") % 10 =!= 0)
    val te = docs.filter(col("doc_id") % 10 === 0)
    val got = Decontaminate.fuzzyReport(
      tr, "doc_id", "text", te, "doc_id", "text", n = 3, minJ = 0.5)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r._2).toMap
    assert(got == fuzzyRef(trRows, teRows, 3, 0.5))
  }

  test("fuzzy maxBench guard fails loudly when the benchmark side is big") {
    val tr = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val te = Seq((10L, "a b c d"), (11L, "e f g h")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Decontaminate.fuzzyReport(
        tr, "doc_id", "text", te, "doc_id", "text", maxBench = 1L)
    }
    assert(e.getMessage.contains("maxBench"))
  }
}
