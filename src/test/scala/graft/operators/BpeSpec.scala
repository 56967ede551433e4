package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class BpeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // The canonical Sennrich example vocabulary: low x5, lower x2,
  // newest x6, widest x3 (one doc per occurrence keeps wordFreq honest)
  private val sennrich: Seq[(Long, String)] = {
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
  }
  private def sennrichDf = sennrich.toDF("doc_id", "text")

  test("pairStats: weighted counts and argmax on the hand example") {
    val got = Bpe.pairStats(sennrichDf, "text", 30)
      .as[(Long, String, String, Long)].collect()
      .map(r => (r._2, r._3) -> r._4).toMap
    // es: newest(6) + widest(3) = 9; st: 9; lo: low 5 + lower 2 = 7
    assert(got(("e", "s")) == 9L)
    assert(got(("s", "t")) == 9L)
    assert(got(("l", "o")) == 7L)
    assert(got(("w", "e")) == 8L) // lower 2 + newest 6
    // rank 1 must be (e,s): cnt 9 ties with (s,t) but e < s
    val first = Bpe.pairStats(sennrichDf, "text", 1)
      .as[(Long, String, String, Long)].head()
    assert(first == ((1L, "e", "s", 9L)))
  }

  test("greedy leftmost rule: 'aaaa' merges to two 'aa', 'aaa' to aa+a") {
    val df = Seq((1L, "aaaa aaa")).toDF("doc_id", "text")
    // pair (a,a): aaaa has 3 adjacent occurrences + aaa has 2 = 5
    assert(Bpe.pairStats(df, "text", 1)
      .as[(Long, String, String, Long)].collect().toSeq == Seq((1L, "a", "a", 5L)))
    val got = Bpe.encodeVocab(df, "text", Seq("a" -> "a"))
      .as[(String, Long, Seq[String])].collect()
      .map(r => r._1 -> r._3.toSeq).toMap
    assert(got == Map("aaaa" -> Seq("aa", "aa"), "aaa" -> Seq("aa", "a")))
  }

  test("pairStats invariant under repartitioning; single-char words ignored") {
    val df = Seq((1L, "a b c ab ab"), (2L, "b a ab")).toDF("doc_id", "text")
    val base = Bpe.pairStats(df, "text", 10)
      .as[(Long, String, String, Long)].collect().toSeq
    val re = Bpe.pairStats(df.repartition(5), "text", 10)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(re == base)
    // only "ab" (freq 3) yields a pair; a/b/c alone contribute none
    assert(base == Seq((1L, "a", "b", 3L)))
  }

  // ----- encoding -----

  test("encodeVocab: greedy leftmost rule, cascading merges, reconstruction") {
    val df = Seq((1L, "aaa table tables tab hash cat")).toDF("doc_id", "text")
    val merges = Seq("a" -> "a", "t" -> "a", "ta" -> "b", "tab" -> "l",
      "tabl" -> "e", "h" -> "a", "ha" -> "s", "has" -> "h")
    val got = Bpe.encodeVocab(df, "text", merges)
      .as[(String, Long, Seq[String])].collect()
      .map(r => r._1 -> r._3.toSeq).toMap
    assert(got("aaa") == Seq("aa", "a"))         // greedy leftmost, NOT (a,aa)
    assert(got("table") == Seq("table"))         // full cascade
    assert(got("tables") == Seq("table", "s"))
    assert(got("tab") == Seq("tab"))             // partial cascade
    assert(got("hash") == Seq("hash"))
    assert(got("cat") == Seq("c", "a", "t"))     // "ta" needs t BEFORE a
    // reconstruction invariant: concat(tokens) == word, always
    got.foreach { case (w, ts) => assert(ts.mkString == w) }
  }

  test("merge order matters: applying ranks in order, not best-fit") {
    val df = Seq((1L, "abc")).toDF("doc_id", "text")
    // rank 1 consumes (b,c) first, so (a,b) never fires
    assert(Bpe.encodeVocab(df, "text", Seq("b" -> "c", "a" -> "b"))
      .as[(String, Long, Seq[String])].head()._3 == Seq("a", "bc"))
    // reversed ranks: (a,b) fires, then (ab)(c) is not (b,c)
    assert(Bpe.encodeVocab(df, "text", Seq("a" -> "b", "b" -> "c"))
      .as[(String, Long, Seq[String])].head()._3 == Seq("ab", "c"))
  }

  test("tokenFreq and fertilityReport agree with a hand count") {
    val df = Seq((1L, "table hash table"), (2L, "cat")).toDF("doc_id", "text")
    val merges = Seq("t" -> "a", "ta" -> "b", "tab" -> "l", "tabl" -> "e",
      "h" -> "a", "ha" -> "s", "has" -> "h")
    val freq = Bpe.tokenFreq(df, "text", merges, 10)
      .as[(Long, String, Long)].collect().map(r => r._2 -> r._3).toMap
    assert(freq == Map("table" -> 2L, "hash" -> 1L,
      "c" -> 1L, "a" -> 1L, "t" -> 1L))
    val docs = Bpe.fertilityReport(df, "doc_id", "text", merges)
      .select("source", "n_words", "n_tokens")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(docs == Map(1L -> ((3L, 3L)), 2L -> ((1L, 3L))))
  }

  test("fertilityReport: hand counts per source, shared words encode " +
      "once, exact divisions") {
    // src A: "table hash table" -> words 3; table=1 tok (x2),
    // hash=1 tok -> tokens 3; chars 5+4+5 = 14
    // src B: "cat table" -> words 2; cat -> c,a,t = 3 toks,
    // table -> 1 tok -> tokens 4; chars 3+5 = 8
    val df = Seq(("A", "table hash table"), ("B", "cat table"))
      .toDF("source", "text")
    val merges = Seq("t" -> "a", "ta" -> "b", "tab" -> "l",
      "tabl" -> "e", "h" -> "a", "ha" -> "s", "has" -> "h")
    val got = Bpe.fertilityReport(df, "source", "text", merges)
      .as[(String, Long, Long, Long, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(got("A") == (("A", 3L, 3L, 14L,
      BigDecimal(3.0 / 3.0).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal(14.0 / 3.0).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(got("B") == (("B", 2L, 4L, 8L, 2.0, 2.0)))
  }

  test("broadcastMaxVocab gate: hinted and un-hinted paths agree " +
      "exactly on both sides of the bound") {
    // vocab here is 4 distinct words; bound 1 forces the un-hinted
    // shuffle join, the default leaves the broadcast hint — results
    // must be identical (the gate changes the PLAN, never the rows)
    val df = Seq((1L, "table hash table"), (2L, "cat table"))
      .toDF("doc_id", "text")
    val merges = Seq("t" -> "a", "ta" -> "b", "tab" -> "l",
      "tabl" -> "e", "h" -> "a", "ha" -> "s", "has" -> "h")
    val src = df.withColumnRenamed("doc_id", "sid")
      .withColumn("source", concat(lit("s"), col("sid")))
    val fh = Bpe.fertilityReport(src, "source", "text", merges)
      .as[(String, Long, Long, Long, Double, Double)]
      .collect().sortBy(_._1).toSeq
    val fs = Bpe.fertilityReport(src, "source", "text", merges,
        broadcastMaxVocab = 1L)
      .as[(String, Long, Long, Long, Double, Double)]
      .collect().sortBy(_._1).toSeq
    assert(fh == fs)
    intercept[IllegalArgumentException] {
      Bpe.fertilityReport(src, "source", "text", merges,
        broadcastMaxVocab = 0L)
    }
  }

  test("gate leaves nothing cached behind: no persisted RDD or cache entry") {
    // the r9 leak: one MEMORY_AND_DISK vocab frame per fertilityReport
    // call accumulated for the session's lifetime
    val df = Seq((1L, "table hash table"), (2L, "cat table"))
      .toDF("doc_id", "text")
    val merges = Seq("t" -> "a", "ta" -> "b")
    // the session is shared across suites — start from a clean slate
    // so the assertion scopes to THIS test's calls (an earlier suite's
    // legitimately cached frame is not the leak under test)
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // both gate branches, consumed to completion
    val src = df.withColumn("source", concat(lit("s"), col("doc_id")))
    Bpe.fertilityReport(src, "source", "text", merges).count()
    Bpe.fertilityReport(src, "source", "text", merges,
      broadcastMaxVocab = 1L).count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"persisted RDDs leaked by the vocab gate: $leaked")
    assert(spark.sharedState.cacheManager.isEmpty,
      "CacheManager entry leaked by the vocab gate")
  }
}
