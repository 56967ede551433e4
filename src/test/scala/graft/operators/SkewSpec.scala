package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SkewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val lineitem =
    spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet")

  test("saltedSum == plain sum (decimal-exact at any salt)") {
    val plain = lineitem
      .groupBy("l_returnflag")
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("q"))
      .orderBy("l_returnflag")
      .collect().map(r => (r.getString(0), r.getDecimal(1)))
    for (salt <- Seq(1, 4, 32)) {
      val got = Skew.saltedSum(
        lineitem, Seq("l_returnflag"),
        col("l_quantity").cast(DecimalType(18, 2)), "q", salt)
        .orderBy("l_returnflag")
        .collect().map(r => (r.getString(0), r.getDecimal(1)))
      assert(got.toSeq == plain.toSeq, s"salt=$salt")
    }
  }

  test("saltedSum is retry-deterministic: adversarial repartition cannot change it") {
    // A partition-order-dependent salt (the old monotonically_increasing_id
    // spelling) assigns different buckets when the scan order changes —
    // the same hazard a stage retry or AQE re-plan triggers at scale.
    // A content-derived salt must give identical results (not merely
    // equal sums) under any physical row distribution.
    val base = lineitem.select("l_returnflag", "l_quantity", "l_orderkey",
      "l_linenumber")
    val reference = Skew.saltedSum(
      base, Seq("l_returnflag"),
      col("l_quantity").cast(DecimalType(18, 2)), "q", salt = 16)
      .orderBy("l_returnflag")
      .collect().map(r => (r.getString(0), r.getDecimal(1)))
    for (reshuffle <- Seq(
        base.repartition(3),
        base.repartition(17, col("l_orderkey")),
        base.orderBy(col("l_quantity").desc, col("l_orderkey"), col("l_linenumber")),
        base.coalesce(1))) {
      val got = Skew.saltedSum(
        reshuffle, Seq("l_returnflag"),
        col("l_quantity").cast(DecimalType(18, 2)), "q", salt = 16)
        .orderBy("l_returnflag")
        .collect().map(r => (r.getString(0), r.getDecimal(1)))
      assert(got.toSeq == reference.toSeq)
    }
  }

  test("saltedSum salt buckets are content-determined and spread") {
    // directly inspect the partial phase: same row content => same salt,
    // and distinct rows occupy more than one bucket (the spread that
    // makes the hot key parallel)
    val salted = lineitem
      .withColumn("_salt",
        pmod(xxhash64(lineitem.columns.map(col): _*), lit(16L)))
    val again = lineitem.repartition(7)
      .withColumn("_salt",
        pmod(xxhash64(lineitem.columns.map(col): _*), lit(16L)))
    assert(salted.select("_salt").distinct().count() > 1)
    // key: full row content; value: salt — identical across runs
    val a = salted.select(md5(to_json(struct(lineitem.columns.map(col): _*)))
      .as("k"), col("_salt")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = again.select(md5(to_json(struct(lineitem.columns.map(col): _*)))
      .as("k"), col("_salt")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("saltedJoin == plain join (inner and left), row-for-row") {
    import spark.implicits._
    val dim = Seq(("A", "returned"), ("N", "in_transit"))
      .toDF("l_returnflag", "label") // no 'R' row: left-join nulls exercised
    val li = lineitem.select("l_orderkey", "l_linenumber", "l_returnflag")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getString(2),
        if (r.isNullAt(3)) null else r.getString(3))
    for (jt <- Seq("inner", "left")) {
      val plain = li.join(dim, Seq("l_returnflag"), jt)
        .select("l_orderkey", "l_linenumber", "l_returnflag", "label")
        .collect().map(key).sortBy(_.toString)
      val salted = Skew.saltedJoin(li, dim, Seq("l_returnflag"), 8, jt)
        .select("l_orderkey", "l_linenumber", "l_returnflag", "label")
        .collect().map(key).sortBy(_.toString)
      assert(salted.toSeq == plain.toSeq, s"join type $jt")
    }
  }

  test("saltedJoin: composite keys match plain join") {
    import spark.implicits._
    val big = Seq(("a", 1, 10L), ("a", 2, 20L), ("b", 1, 30L),
      ("a", 1, 40L), ("c", 9, 50L)).toDF("k1", "k2", "v")
    val dim = Seq(("a", 1, "a1"), ("a", 2, "a2"), ("b", 1, "b1"))
      .toDF("k1", "k2", "label")
    val plain = big.join(dim, Seq("k1", "k2"))
      .select("k1", "k2", "v", "label")
      .collect().map(_.toString).sorted.toSeq
    val salted = Skew.saltedJoin(big, dim, Seq("k1", "k2"), 4)
      .select("k1", "k2", "v", "label")
      .collect().map(_.toString).sorted.toSeq
    assert(salted == plain && plain.length == 4)
  }

  test("saltedJoin spreads a hot key across salts; rejects right/full") {
    import spark.implicits._
    val hot = (1 to 400).map(i => ("hot", i)).toDF("k", "v")
    val dim = Seq(("hot", 1L)).toDF("k", "dim_v")
    // the hot key must actually occupy > 1 salt bucket or nothing was
    // gained — content-derived salt over distinct rows spreads
    val spread = hot
      .withColumn("_salt",
        pmod(xxhash64(col("k"), col("v")), lit(8L)).cast("int"))
      .select("_salt").distinct().count()
    assert(spread > 4, s"only $spread salt buckets used")
    assert(Skew.saltedJoin(hot, dim, Seq("k"), 8).count() == 400L)
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(hot, dim, Seq("k"), 8, "right")
    }
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(hot, dim, Seq("k"), 8, "full_outer")
    }
  }

  test("heavyKeys: exact counts, null key ranks, deterministic cutoff") {
    import spark.implicits._
    // skewed: k0 x 500, null x 200, k1 x 100, k2..k11 x 10 each
    val rows = Seq.fill(500)(Option("k0")) ++ Seq.fill(200)(Option.empty[String]) ++
      Seq.fill(100)(Option("k1")) ++
      (2 until 12).flatMap(i => Seq.fill(10)(Option(s"k$i")))
    val df = rows.toDF("k").repartition(13)
    val got = Skew.heavyKeys(df, "k", topK = 3)
      .as[(Option[String], Long, Double, Long)].collect().sortBy(_._4).toSeq
    val total = rows.size.toDouble
    assert(got == Seq(
      (Some("k0"), 500L, 500 / total, 1L),
      (None, 200L, 200 / total, 2L), // null is a real (often hot) key
      (Some("k1"), 100L, 100 / total, 3L)))
    // tie region: k2..k11 all count 10 — the cutoff at topK=5 must
    // take them in key order, deterministically
    val t5 = Skew.heavyKeys(df, "k", topK = 5)
      .as[(Option[String], Long, Double, Long)].collect().sortBy(_._4)
    assert(t5.map(_._1).toSeq == // lexicographic: "k10" < "k2"
      Seq(Some("k0"), None, Some("k1"), Some("k10"), Some("k11")))
    intercept[IllegalArgumentException] { Skew.heavyKeys(df, "k", 0) }
  }

  test("rangeBounds: uniform 1..100 at B=4 gives exact quartile edges") {
    import spark.implicits._
    val df = (1L to 100L).toSeq.toDF("v")
    val got = Skew.rangeBounds(df, "v", numPartitions = 4)
      .orderBy("p").as[(Long, Long, Long)].collect().toSeq
    // targets ceil(p*100/4) = 25, 50, 75; min v with cum >= target
    assert(got == Seq((1L, 25L, 25L), (2L, 50L, 50L), (3L, 75L, 75L)))
  }

  test("rangeBounds == single-partition reference on skewed data; nulls out") {
    import spark.implicits._
    // zipf-ish: value v appears ~(101-v) times, plus nulls
    val rows = (1 to 100).flatMap(v => Seq.fill(101 - v)(Some(v.toLong))) ++
      Seq.fill(37)(Option.empty[Long])
    val df = rows.toSeq.toDF("v").repartition(13)
    val b = 8
    val got = Skew.rangeBounds(df, "v", b, coarseBuckets = 7)
      .orderBy("p").as[(Long, Long, Long)].collect().toSeq
    // reference: exact rank scan over the sorted multiset
    val sorted = rows.flatten.sorted
    val n = sorted.size.toLong
    val exp = (1 until b).map { p =>
      val target = (p * n + b - 1) / b
      (p.toLong, target, sorted(target.toInt - 1))
    }
    assert(got == exp)
    // and the bounds are insensitive to the coarse-bucket knob
    val again = Skew.rangeBounds(df, "v", b, coarseBuckets = 1000)
      .orderBy("p").as[(Long, Long, Long)].collect().toSeq
    assert(again == exp)
  }

  test("joinAdvisor: all four recommendations and null-key reporting") {
    import spark.implicits._
    val big = (0 until 5000).map(i => (i % 500).toLong).toDF("k")
    val tiny = (0L until 20L).toDF("k")
    // tiny right side -> broadcast_right
    val r1 = Skew.joinAdvisor(big, "k", tiny, "k",
      broadcastRows = 100L).collect().head
    assert(r1.getAs[String]("recommendation") == "broadcast_right")
    assert(r1.getAs[Long]("left_rows") == 5000L &&
      r1.getAs[Long]("right_rows") == 20L)
    // tiny left side (and smaller) -> broadcast_left
    assert(Skew.joinAdvisor(tiny, "k", big, "k", 100L)
      .collect().head.getAs[String]("recommendation") == "broadcast_left")
    // both big, one hot key holding 50% -> salted_shuffle
    val hot = ((0 until 600).map(_ => 1L) ++
      (0 until 600).map(i => (i + 10).toLong)).toDF("k")
    val r3 = Skew.joinAdvisor(hot, "k", big, "k",
      broadcastRows = 10L, skewShare = 0.4).collect().head
    assert(r3.getAs[String]("recommendation") == "salted_shuffle")
    assert(r3.getAs[Double]("left_top_share") == 0.5)
    // both big, no skew -> shuffle
    assert(Skew.joinAdvisor(big, "k", big, "k", 10L, 0.4)
      .collect().head.getAs[String]("recommendation") == "shuffle")
    // null keys counted, never silently dropped
    val withNulls = (Seq.fill(30)(Option.empty[Long]) ++
      (0 until 70).map(i => Some(i.toLong))).toDF("k")
    val r5 = Skew.joinAdvisor(withNulls, "k", tiny, "k", 5L)
      .collect().head
    assert(r5.getAs[Long]("left_null_keys") == 30L)
    intercept[IllegalArgumentException] {
      Skew.joinAdvisor(big, "k", tiny, "k", skewShare = 0.0)
    }
  }

  test("rangeBounds loud contracts") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      Skew.rangeBounds((1L to 10L).toSeq.toDF("v"), "v", numPartitions = 1)
    }
    val e = intercept[IllegalArgumentException] {
      Skew.rangeBounds(Seq(1.5, 2.5).toDF("v"), "v", 4)
    }
    assert(e.getMessage.contains("integral"))
  }

  // ---- paretoClasses ----

  private def abc(rows: Seq[(String, Long)], aPct: Int = 80,
      bPct: Int = 95, buckets: Int = 64) = {
    import spark.implicits._
    Skew.paretoClasses(rows.toDF("k", "w"), "k", "w", aPct, bPct,
      buckets)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getString(3)))
      .toMap
  }

  test("paretoClasses: hand example with the crossing key in its band") {
    // weights 50, 30, 15, 5 (total 100): cum-before 0/50/80/95
    val rows = Seq(("a", 50L), ("b", 30L), ("c", 15L), ("d", 5L))
    val m = abc(rows)
    assert(m("a") == ((50L, 50L, "A")))
    assert(m("b") == ((30L, 80L, "A")))  // before=50 < 80 -> crosses in A
    assert(m("c") == ((15L, 95L, "B")))  // before=80, not < 80; < 95
    assert(m("d") == ((5L, 100L, "C"))) // before=95, not < 95
  }

  test("paretoClasses: ties order by key; bucket count never changes classes") {
    val rows = (0 until 100).map(i => (f"k$i%03d", ((i * 7) % 13 + 1).toLong))
    val b1 = abc(rows, buckets = 1)
    assert(abc(rows, buckets = 7) == b1)
    assert(abc(rows, buckets = 64) == b1)
    // sequential reference
    val sorted = rows.sortBy { case (k, w) => (-w, k) }
    var cum = 0L
    val total = rows.map(_._2).sum
    sorted.foreach { case (k, w) =>
      val cls = if (100 * cum < 80 * total) "A"
        else if (100 * cum < 95 * total) "B" else "C"
      cum += w
      assert(b1(k) == ((w, cum, cls)), s"key $k")
    }
  }

  test("paretoClasses: decimal weights stay exact; doubles rejected") {
    import spark.implicits._
    val dec = Seq(("a", "10.01"), ("b", "0.02"))
      .toDF("k", "w")
      .select(col("k"), col("w").cast(DecimalType(18, 2)).as("w"))
    val got = Skew.paretoClasses(dec, "k", "w").collect()
      .map(r => r.getString(0) -> (r.getDecimal(2).toPlainString,
        r.getString(3))).toMap
    assert(got("a") == (("10.01", "A")))
    assert(got("b") == (("10.03", "C")))
    val e = intercept[IllegalArgumentException] {
      Skew.paretoClasses(Seq(("a", 1.5)).toDF("k", "w"), "k", "w")
    }
    assert(e.getMessage.contains("decimal or integral"))
  }

  test("paretoClasses: loud null/negative contract and knob bounds") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      Skew.paretoClasses(Seq(("a", -1L)).toDF("k", "w"), "k", "w")
    }
    val withNull = Seq((Some("a"), Some(1L)), (None, Some(2L)))
      .toDF("k", "w")
    intercept[IllegalArgumentException] {
      Skew.paretoClasses(withNull, "k", "w")
    }
    intercept[IllegalArgumentException] {
      Skew.paretoClasses(Seq(("a", 1L)).toDF("k", "w"), "k", "w",
        aPct = 90, bPct = 80)
    }
  }
}
