package graft.core

import java.nio.file.{Files, Path}

import org.apache.spark.HashPartitioner
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.TestSpark

/** Not a hash layout, so a spec sees the partitioner it passed. */
private class FirstCharPartitioner(n: Int)
    extends org.apache.spark.Partitioner {
  def numPartitions: Int = n
  def getPartition(key: Any): Int = key.asInstanceOf[String].head % n
}

/** Unit + property coverage for the MapReduce facade (SURVEY §5.2 #1-3):
  * streaming reduce, bounded combiner, split planning / line-reader
  * offsets, partition layout, and the word-count golden path. */
class TinyMapReduceSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("reduceSorted merges adjacent equal keys, one accumulator at a time") {
    val in = Seq("a" -> 1L, "a" -> 2L, "b" -> 5L, "c" -> 1L, "c" -> 1L)
    val out = TinyMapReduce.reduceSorted(in.iterator, (a: Long, b: Long) => a + b).toSeq
    assert(out == Seq("a" -> 3L, "b" -> 5L, "c" -> 2L))
  }

  test("reduceSorted on empty input") {
    assert(TinyMapReduce.reduceSorted(Iterator.empty[(String, Long)], (a: Long, b: Long) => a + b).isEmpty)
  }

  test("combinePartition is correct at any capacity (re-reduce downstream)") {
    val in = Seq.tabulate(1000)(i => (s"k${i % 7}", 1L))
    for (cap <- Seq(1, 2, 64, 100000)) {
      val combined = TinyMapReduce.combinePartition(in.iterator, (a: Long, b: Long) => a + b, cap).toSeq
      val total = combined.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      assert(total == in.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap,
        s"capacity $cap")
      // capacity bounds the number of distinct keys held at once, never
      // correctness; with cap >= cardinality one pair per key comes out
      if (cap >= 7) assert(combined.size == 7)
    }
  }

  test("text() yields real byte offsets (LineRecordReader.h:65-75 contract)") {
    val dir = Files.createTempDirectory("graft-mr")
    val f = dir.resolve("in.txt")
    Files.write(f, "aaa\nbb\nc\n".getBytes("UTF-8"))
    val got = TinyMapReduce.text(spark, Seq(f.toString)).rdd.collect().sortBy(_._1)
    assert(got.toSeq == Seq((0L, "aaa"), (4L, "bb"), (7L, "c")))
  }

  test("small splitSize still reads every record exactly once (straddle rule)") {
    val dir = Files.createTempDirectory("graft-mr-split")
    val f = dir.resolve("in.txt")
    val lines = (1 to 500).map(i => s"line_$i")
    Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    // 64-byte splits cut lines mid-record; Hadoop's straddle rule (skip
    // partial first line, over-read last) must reassemble all of them.
    val got = TinyMapReduce.text(spark, Seq(f.toString), splitSize = 64)
      .rdd.map(_._2).collect().sorted
    assert(got.toSeq == lines.sorted)
  }

  test("word count end-to-end: hash-partitioned, key-sorted, summed") {
    val dir = Files.createTempDirectory("graft-wc")
    val f = dir.resolve("in.txt")
    Files.write(f, "aaa\nbbb\naaa\nccc\naaa\n".getBytes("UTF-8"))
    val res = TinyMapReduce.text(spark, Seq(f.toString))
      .mapKV((_, line) => (line, 1L))
      .reduceByKeySorted(_ + _, numPartitions = 5)
    // FIXTURES.md §1.2 golden expectation
    assert(res.collectSorted() == Seq("aaa" -> 3L, "bbb" -> 1L, "ccc" -> 1L))

    // reference layout: partition = hash(key) % 5, sorted within
    val parts = res.rdd.mapPartitionsWithIndex { (i, it) =>
      it.map { case (k, v) => (i, k, v) }
    }.collect()
    val p = new HashPartitioner(5)
    parts.foreach { case (i, k, _) => assert(i == p.getPartition(k)) }
    parts.groupBy(_._1).values.foreach { grp =>
      val keys = grp.map(_._2).toSeq
      assert(keys == keys.sorted, "keys sorted within partition")
    }
  }

  test("saveAsKVText writes `key value` lines (FIXTURES §1.2 format)") {
    val dir = Files.createTempDirectory("graft-sink")
    val in = dir.resolve("in.txt")
    Files.write(in, "aaa\nbbb\naaa\n".getBytes("UTF-8"))
    val out = dir.resolve("out").toString
    TinyMapReduce.text(spark, Seq(in.toString))
      .mapKV((_, line) => (line, 1L))
      .reduceByKeySorted(_ + _, numPartitions = 2)
      .saveAsKVText(out)
    val lines = spark.sparkContext.textFile(out).collect().sorted
    assert(lines.toSeq == Seq("aaa 2", "bbb 1"))
  }

  test("saveAsText custom OutputFormat hook") {
    val dir = Files.createTempDirectory("graft-fmt")
    val in = dir.resolve("in.txt")
    Files.write(in, "aaa\nbbb\naaa\n".getBytes("UTF-8"))
    val out = dir.resolve("out").toString
    TinyMapReduce.text(spark, Seq(in.toString))
      .mapKV((_, line) => (line, 1L))
      .reduceByKeySorted(_ + _, numPartitions = 2)
      .saveAsText(out)((k, v) => s"$k\t$v!")
    val lines = spark.sparkContext.textFile(out).collect().sorted
    assert(lines.toSeq == Seq("aaa\t2!", "bbb\t1!"))
  }

  test("ProgressListener reports Start/Process/Finish per stage") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = ProgressListener.attach(spark)(seen.add)
    try {
      spark.sparkContext.parallelize(1 to 100, 4).map(_ * 2).sum()
      // listener events are delivered asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (System.currentTimeMillis() < deadline &&
        !seen.toArray.exists(_.toString.endsWith("Finish"))) Thread.sleep(50)
      val msgs = seen.toArray.map(_.toString)
      assert(msgs.exists(_.contains("Start")), msgs.mkString("; "))
      assert(msgs.exists(_.contains("Process")), msgs.mkString("; "))
      assert(msgs.exists(_.endsWith("Finish")), msgs.mkString("; "))
      assert(msgs.exists(_.contains("100.00%")), msgs.mkString("; "))
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("property: facade word count == naive Map[String, Long]") {
    // raw ScalaCheck generation (scalatestplus bridge unavailable offline)
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "x", "y1")
    val cases = Gen.zip(Gen.listOfN(200, word), Gen.choose(1, 7))
    (0 until 10).foreach { i =>
      val (words, nPart) =
        cases.apply(Gen.Parameters.default, Seed(42L + i)).get
      val rdd = spark.sparkContext.parallelize(words.map(w => (0L, w)), 4)
      val got = TinyMapReduce.from(rdd)
        .mapKV((_, w) => (w, 1L))
        .reduceByKeySorted(_ + _, numPartitions = nPart)
        .rdd.collect().toMap
      val naive = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(got == naive, s"case $i (nPart=$nPart)")
    }
  }

  test("flatMapKV + filterKV compose (the generalizations the reference lacks)") {
    val rdd = spark.sparkContext.parallelize(Seq((0L, "a b a"), (6L, "b c")), 2)
    val got = TinyMapReduce.from(rdd)
      .flatMapKV((_, l) => l.split(' ').map(w => (w, 1L)))
      .filterKV((k, _) => k != "c")
      .reduceByKeySorted(_ + _, numPartitions = 3)
      .collectSorted()
    assert(got == Seq("a" -> 2L, "b" -> 2L))
  }

  test("partitionSorted: records in their partitioner's partition, key-sorted, none lost") {
    val byFirstChar = new FirstCharPartitioner(3)
    val in = Seq("pear" -> 1L, "apple" -> 2L, "fig" -> 3L, "apple" -> 4L,
      "kiwi" -> 5L, "banana" -> 6L, "date" -> 7L, "fig" -> 3L, "cherry" -> 8L)
    val parts = TinyMapReduce.from(spark.sparkContext.parallelize(in, 2))
      .partitionSorted(partitioner = Some(byFirstChar))
      .rdd.glom().collect()
    assert(parts.length == 3)
    parts.zipWithIndex.foreach { case (p, i) =>
      assert(p.forall { case (k, _) => byFirstChar.getPartition(k) == i },
        s"partition $i holds ${p.toSeq}")
      val keys = p.map(_._1).toSeq
      assert(keys == keys.sorted, s"partition $i unsorted: $keys")
    }
    assert(parts.flatten.toSeq.sorted == in.sorted) // same multiset
  }
}
