package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class HeavyHittersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // A genuinely skewed stream: token i of the head appears 2^(8-i)
  // times; a long uniform tail of singletons forces decrements and
  // makes the candidate set carry junk the exact pass must discard.
  private def skewed: Seq[String] = {
    val head = (0 until 8).flatMap(i => Seq.fill(1 << (8 - i))(s"head_$i"))
    val tail = (0 until 300).map(i => s"tail_$i")
    head ++ tail
  }

  private def bruteForce(toks: Seq[String], k: Int): Seq[(String, Long)] = {
    val n = toks.size.toLong
    toks.groupBy(identity).view.mapValues(_.size.toLong)
      .filter { case (_, c) => c * k > n }
      .toSeq.sortBy { case (t, c) => (-c, t) }
  }

  test("mgAdd/mgMerge: guarantee — any token with count > N/k survives") {
    val toks = skewed
    val k = 8
    // split the stream adversarially: interleaved, so heavy tokens
    // are spread across both halves and the merge has to add them up
    val (a, b) = toks.zipWithIndex.partition(_._2 % 2 == 0)
    val accA = mutable.HashMap.empty[String, Long]
    val accB = mutable.HashMap.empty[String, Long]
    a.foreach { case (t, _) => HeavyHitters.mgAdd(accA, t, k) }
    b.foreach { case (t, _) => HeavyHitters.mgAdd(accB, t, k) }
    val merged = HeavyHitters.mgMerge(accA, accB, k)
    assert(merged.size <= k)
    val heavy = bruteForce(toks, k).map(_._1)
    assert(heavy.nonEmpty)
    heavy.foreach { t =>
      assert(merged.contains(t), s"heavy token $t lost by the sketch")
    }
  }

  test("heavyHitters == brute force on a skewed stream, k forcing decrements") {
    val k = 8
    val df = skewed.toDF("token")
    val got = HeavyHitters.heavyHitters(df, "token", k)
      .as[(String, Long)].collect().toSeq
    assert(got == bruteForce(skewed, k))
    assert(got.nonEmpty)
  }

  test("result is invariant under adversarial repartitioning") {
    val k = 8
    val expected = bruteForce(skewed, k)
    for (parts <- Seq(1, 3, 32)) {
      val df = skewed.toDF("token").repartition(parts)
      val got = HeavyHitters.heavyHitters(df, "token", k)
        .as[(String, Long)].collect().toSeq
      assert(got == expected, s"parts=$parts")
    }
    // sorted layout: each heavy token concentrated in one partition
    val sorted = skewed.sorted.toDF("token").repartitionByRange(4, col("token"))
    val got = HeavyHitters.heavyHitters(sorted, "token", k)
      .as[(String, Long)].collect().toSeq
    assert(got == expected)
  }

  test("strictly-greater threshold: count == N/k is NOT a heavy hitter") {
    // 4 tokens x 4 occurrences, k=4: every count == N/k == 4 exactly
    val toks = (0 until 4).flatMap(i => Seq.fill(4)(s"t$i"))
    val got = HeavyHitters.heavyHitters(toks.toDF("token"), "token", 4)
    assert(got.count() == 0L)
  }

  test("empty input and null tokens") {
    val empty = Seq.empty[String].toDF("token")
    val got = HeavyHitters.heavyHitters(empty, "token", 8)
    assert(got.count() == 0L)
    assert(got.columns.toSeq == Seq("token", "cnt"))
    // nulls are skipped, not counted into N: 3 a's of 3 tokens total
    val withNulls = Seq(Some("a"), None, Some("a"), None, Some("a"), Some("b"))
      .toDF("token")
    val hh = HeavyHitters.heavyHitters(withNulls, "token", 2)
      .as[(String, Long)].collect().toSeq
    assert(hh == Seq(("a", 3L))) // 3*2 > 4; b: 1*2 <= 4
  }

  test("heavyTokens matches words(); wordNgramsAll counts multiplicity") {
    val docs = Seq(
      (1L, "spam spam spam ham"),
      (2L, "spam  spam eggs"), // double space -> empty dropped
      (3L, "ham spam")
    ).toDF("doc_id", "text")
    val toks = HeavyHitters.heavyTokens(docs, "text", 3)
      .as[(String, Long)].collect().toSeq
    // 9 tokens total: spam=6 (6*3>9), ham=2, eggs=1
    assert(toks == Seq(("spam", 6L)))
    // bigrams with multiplicity: "spam spam" appears twice in doc 1,
    // once in doc 2 (distinct-set semantics would say twice total)
    val grams = HeavyHitters.heavyHitters(
        docs.select(explode(graft.functions.TextFunctions.wordNgramsAll(
          col("text"), 2)).as("token")), "token", 3)
      .as[(String, Long)].collect().toSeq
    // 6 bigrams total: "spam spam"x3 (3*3 > 6), "spam ham",
    // "spam eggs", "ham spam" (1*3 <= 6 each)
    assert(grams == Seq(("spam spam", 3L)))
  }
}
