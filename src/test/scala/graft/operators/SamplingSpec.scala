package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SamplingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val docs =
    spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")

  private def aesPriority(key: String, w: Double, salt: String = "graft"): Double = {
    val m = Kernels.md5Lower64(key + ":" + salt) >>> 11
    math.log((m.toDouble + 0.5) / 9007199254740992.0) / w
  }

  test("weightedSample == local A-ES reference; repartition-stable") {
    val rows = docs.select(col("doc_id"), col("n_chars"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expect = rows
      .map { case (id, w) => (id, aesPriority(id.toString, w.toDouble)) }
      .sortBy(-_._2).take(20).map(_._1).toSet
    val got = Sampling.weightedSample(
      docs, col("doc_id"), col("n_chars"), k = 20)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expect)
    val shuffled = Sampling.weightedSample(
      docs.repartition(13), col("doc_id"), col("n_chars"), k = 20)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(shuffled == expect)
  }

  test("weightedSample: weight dominance, eligibility, small-n paths") {
    import spark.implicits._
    val df = Seq(
      (1L, 1.0), (2L, 2.0), (3L, 5.0),
      (4L, 1e12),            // astronomically heavy: priority ~ 0-
      (5L, 0.0), (6L, -3.0)  // ineligible: never sampled
    ).toDF("id", "w")
    val one = Sampling.weightedSample(df, col("id"), col("w"), k = 1)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(one == Seq(4L)) // ln(u)/1e12 beats every normal-weight draw
    // k >= eligible rows: all eligible kept, ineligible still excluded
    val all = Sampling.weightedSample(df, col("id"), col("w"), k = 100)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(all == Set(1L, 2L, 3L, 4L))
    assert(Sampling.weightedSample(df, col("id"), col("w"), k = 0).isEmpty)
  }

  test("weightedSample: NaN weights ineligible, reserved column rejected") {
    import spark.implicits._
    val df = Seq((1L, 1.0), (2L, Double.NaN), (3L, 2.0)).toDF("id", "w")
    // NaN fails the w > 0 eligibility filter: never sampled
    val all = Sampling.weightedSample(df, col("id"), col("w"), k = 10)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(all == Set(1L, 3L))
    intercept[IllegalArgumentException] {
      Sampling.weightedSample(
        df.withColumnRenamed("w", "_pri"), col("id"), col("_pri"), k = 1)
    }
  }

  test("weightedSample: boundary tie trips the determinism gate") {
    import spark.implicits._
    // two rows with the SAME key and weight draw identical priorities;
    // place the boundary between them and the gate must refuse
    val df = Seq(
      ("dup", 10.0, 1L), ("dup", 10.0, 2L),
      ("other1", 1.0, 3L), ("other2", 1.0, 4L))
      .toDF("key", "w", "row_id")
    val pris = Seq("dup" -> 10.0, "dup" -> 10.0, "other1" -> 1.0,
      "other2" -> 1.0).map { case (k, w) => aesPriority(k, w) }.sorted.reverse
    // find an adjacent equal pair and set k to split it
    val k = pris.sliding(2).indexWhere { case Seq(a, b) => a == b } + 1
    assert(k >= 1, "fixture must produce an adjacent tie")
    val ex = intercept[IllegalArgumentException] {
      Sampling.weightedSample(df, col("key"), col("w"), k = k).count()
    }
    assert(ex.getMessage.contains("boundary"))
  }

  test("crossEngineSample: deterministic, rate-accurate, salt-sensitive, edge fractions") {
    val s1 = Sampling.crossEngineSample(docs, col("doc_id"), 0.3)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val s2 = Sampling.crossEngineSample(docs.repartition(9), col("doc_id"), 0.3)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(s1 == s2) // partitioning-independent
    val n = docs.count().toDouble
    assert(math.abs(s1.size / n - 0.3) < 0.08) // md5 is uniform
    // a different salt carves a different (deterministic) split
    val other = Sampling.crossEngineSample(docs, col("doc_id"), 0.3, "other")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(other != s1)
    // a larger fraction strictly grows the kept set (threshold nesting)
    val bigger = Sampling.crossEngineSample(docs, col("doc_id"), 0.6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1.toSet.subsetOf(bigger))
    assert(Sampling.crossEngineSample(docs, col("doc_id"), 0.0).count() == 0)
    assert(Sampling.crossEngineSample(docs, col("doc_id"), 1.0).count() == n.toLong)
  }

  test("mixtureSample: exact capped counts, repartition-stable, nested totals, unlisted dropped") {
    val weights = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2)
    val got = Sampling.mixtureSample(docs, "source", col("doc_id"), weights, 60L)
    val counts = got.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val avail = docs.filter(col("source").isin("src0", "src1", "src2"))
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // exact floor(w·total) targets, capped at availability
    assert(counts == Map(
      "src0" -> math.min(30L, avail("src0")),
      "src1" -> math.min(18L, avail("src1")),
      "src2" -> math.min(12L, avail("src2"))))
    // only weighted groups survive
    assert(got.select("source").distinct().count() == 3)
    // deterministic under repartitioning
    val again = Sampling.mixtureSample(
      docs.repartition(13), "source", col("doc_id"), weights, 60L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == got.select("doc_id").collect().map(_.getLong(0)).toSet)
    // a larger total keeps a superset (hash-rank order is fixed)
    val smaller = Sampling.mixtureSample(docs, "source", col("doc_id"), weights, 40L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(smaller.subsetOf(again))
  }

  test("mixtureSample: largest-remainder apportionment sums exactly to total") {
    // equal thirds of 70 can't floor to 70 (3x23=69): the leftover row
    // goes to the lexicographically first of the tied remainders
    val got = Sampling.mixtureSample(
      docs, "source", col("doc_id"),
      Map("src0" -> 1.0, "src1" -> 1.0, "src2" -> 1.0), 70L)
    val counts = got.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("src0" -> 24L, "src1" -> 23L, "src2" -> 23L))
    assert(counts.values.sum == 70L)
  }

  test("tokenBudgetSelect: maximal quality-first prefix within budget") {
    import graft.functions.TextFunctions
    val budget = 5000L
    val kept = Curation.tokenBudgetSelect(
      docs, "doc_id", "text", budget,
      TextFunctions.qualityScore(col("text")))
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    // selected docs fit the budget…
    val total = docs
      .filter(col("doc_id").isin(keptIds.toSeq: _*))
      .select(TextFunctions.tokenCount(col("text")).as("t"))
      .agg(org.apache.spark.sql.functions.sum("t")).head().getLong(0)
    assert(total <= budget)
    // …and the cut is quality-maximal: every kept doc has quality >=
    // every dropped doc (up to the id tiebreak at the boundary value)
    val q = docs.select(col("doc_id"),
      TextFunctions.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val minKept = keptIds.map(q).min
    val droppedAbove = q.filter { case (id, v) =>
      !keptIds.contains(id) && v > minKept }
    assert(droppedAbove.isEmpty, s"dropped higher-quality docs: $droppedAbove")
  }

  test("topQuantilePerGroup: exact per-group counts, quality-maximal, deterministic") {
    import graft.functions.TextFunctions
    val kept = Curation.topQuantilePerGroup(
      docs, "doc_id", "source", TextFunctions.qualityScore(col("text")),
      frac = 0.25)
    // exactly ceil(0.25 * n) kept per source
    val keptCounts = kept.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val allCounts = docs.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    allCounts.foreach { case (src, n) =>
      assert(keptCounts(src) == math.ceil(0.25 * n).toLong, src)
    }
    // quality-maximal within each source (up to the boundary tiebreak)
    val q = docs.select(col("doc_id"), col("source"),
      TextFunctions.qualityScore(col("text")).as("q"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    q.groupBy(_._2).foreach { case (src, rows) =>
      val minKept = rows.filter(r => keptIds.contains(r._1)).map(_._3).min
      val droppedAbove = rows.filter(r =>
        !keptIds.contains(r._1) && r._3 > minKept)
      assert(droppedAbove.isEmpty, s"$src dropped better docs: $droppedAbove")
    }
    // retry-deterministic: same rows under adversarial repartition
    val again = Curation.topQuantilePerGroup(
      docs.repartition(7), "doc_id", "source",
      TextFunctions.qualityScore(col("text")), frac = 0.25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == keptIds)
    // frac = 1.0 keeps everything
    assert(Curation.topQuantilePerGroup(docs, "doc_id", "source",
      col("doc_id").cast("double"), 1.0).count() == docs.count())
  }

  test("shuffleShards: a permutation — every id once, contiguous positions, repartition-stable") {
    import spark.implicits._
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val n = docs.count()
    val a = Sampling.shuffleShards(docs, col("doc_id"), nShards = 8)
      .select("doc_id", "shard", "pos")
      .as[(Long, Long, Long)].collect()
    // a permutation: every input id exactly once
    assert(a.length == n && a.map(_._1).distinct.length == n)
    // shards in range; positions contiguous 1..|shard| within each
    assert(a.forall(r => r._2 >= 0 && r._2 < 8))
    a.groupBy(_._2).values.foreach { rows =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length))
    }
    // deterministic: same assignment under adversarial repartition
    val b = Sampling.shuffleShards(
      docs.repartition(17), col("doc_id"), nShards = 8)
      .select("doc_id", "shard", "pos")
      .as[(Long, Long, Long)].collect()
    assert(a.sortBy(_._1).toSeq == b.sortBy(_._1).toSeq)
    // agrees with a direct kernel recompute (shard + unsigned order)
    val hv = a.map { case (id, sh, pos) =>
      val h = Kernels.md5Lower64(s"$id:graft")
      assert(java.lang.Long.remainderUnsigned(h, 8) == sh, s"doc $id")
      (sh, pos, h ^ Long.MinValue)
    }
    hv.groupBy(_._1).values.foreach { rows =>
      val byPos = rows.sortBy(_._2).map(_._3)
      assert(byPos.toSeq == byPos.sorted.toSeq, "pos order != hash order")
    }
    // salt changes the permutation
    val c = Sampling.shuffleShards(docs, col("doc_id"), 8, salt = "other")
      .select("doc_id", "shard", "pos").as[(Long, Long, Long)].collect()
    assert(c.sortBy(_._1).toSeq != a.sortBy(_._1).toSeq)
    // a map-typed column fails LOUDLY by default (rows differing only
    // there could never tiebreak — the residual order-tie must be an
    // explicit decision, not a scaladoc footnote)
    val withMap = Seq((1L, Map("k" -> 1)), (2L, Map("k" -> 2)))
      .toDF("doc_id", "m")
    val mapErr = intercept[IllegalArgumentException] {
      Sampling.shuffleShards(withMap, col("doc_id"), 2)
    }
    assert(mapErr.getMessage.contains("allowMapTies"))
    // ... and the opt-in keeps the old behavior: the tiebreak skips
    // the unhashable column, nothing breaks
    assert(Sampling.shuffleShards(withMap, col("doc_id"), 2,
      allowMapTies = true).count() == 2)
  }

  test("shuffleShards: reserved output/internal column names are rejected loudly") {
    import spark.implicits._
    val withShard = Seq((1L, 9L), (2L, 8L)).toDF("doc_id", "shard")
    val e1 = intercept[IllegalArgumentException] {
      Sampling.shuffleShards(withShard, col("doc_id"), 2)
    }
    assert(e1.getMessage.contains("shard"))
    val withSk = Seq((1L, "x")).toDF("doc_id", "_sk")
    val e2 = intercept[IllegalArgumentException] {
      Sampling.shuffleShards(withSk, col("doc_id"), 2)
    }
    assert(e2.getMessage.contains("_sk"))
  }

  // ----- interleaveOrder -----

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("interleaveOrder == naive per-group window; skew-proof spelling") {
    import spark.implicits._
    // one big source (600), one small (30)
    val rows = (0 until 600).map(i => (i.toLong, "big")) ++
      (1000 until 1030).map(i => (i.toLong, "small"))
    val df = rows.toDF("doc_id", "source")
    val ref = rows.groupBy(_._2).flatMap { case (src, grp) =>
      val sorted = grp.sortBy { case (id, _) => (md5hex(s"graft|$id"), id) }
      val n = sorted.length
      sorted.zipWithIndex.map { case ((id, _), i) =>
        id -> ((i + 1L, n.toLong, (2.0 * (i + 1) - 1.0) / (2.0 * n)))
      }
    }.toMap
    for (parts <- Seq(1, 16)) {
      val got = Sampling.interleaveOrder(
        df.repartition(parts), "doc_id", "source")
        .as[(Long, String, Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._3, r._4, r._5))).toMap
      assert(got == ref, s"parts=$parts")
    }
  }

  test("interleaveOrder balance: every prefix of the order is proportional") {
    import spark.implicits._
    val rows = (0 until 600).map(i => (i.toLong, "big")) ++
      (1000 until 1030).map(i => (i.toLong, "small"))
    val df = rows.toDF("doc_id", "source")
    val order = Sampling.interleaveOrder(df, "doc_id", "source")
      .orderBy("frac", "source", "doc_id")
      .select("source").as[String].collect()
    // any prefix of length p holds ~p*n_g/N rows of each source,
    // within one stride of each source (the evenly-spaced-ticks
    // guarantee a random shuffle only gives in expectation)
    val n = order.length.toDouble
    for (p <- Seq(63, 210, 420)) {
      val pre = order.take(p)
      assert(math.abs(pre.count(_ == "big") - p * 600 / n) <= 2.0, s"p=$p")
      assert(math.abs(pre.count(_ == "small") - p * 30 / n) <= 2.0, s"p=$p")
    }
  }

  test("exactK: exact count, reproducible, nested within larger k") {
    import spark.implicits._
    val df = (0L until 1000L).map(i => (i, s"v$i")).toDF("id", "v")
    val k100 = Sampling.exactK(df.repartition(7), "id", 100)
      .select("id").as[Long].collect().toSet
    assert(k100.size == 100)
    // repartitioning does not move the sample
    val again = Sampling.exactK(df.repartition(23), "id", 100)
      .select("id").as[Long].collect().toSet
    assert(again == k100)
    // nested property: the top-50 is a subset of the top-100 (the
    // md5 order is a fixed permutation, so samples grow by prefix)
    val k50 = Sampling.exactK(df, "id", 50)
      .select("id").as[Long].collect().toSet
    assert(k50.subsetOf(k100) && k50.size == 50)
    // k >= n returns everything; k = 0 nothing; reserved column loud
    assert(Sampling.exactK(df, "id", 5000).count() == 1000L)
    assert(Sampling.exactK(df, "id", 0).count() == 0L)
    intercept[IllegalArgumentException] {
      Sampling.exactK(df.withColumn("_h", lit(1)), "id", 10)
    }
  }

  test("mixturePlan predicts epochMixture's integer math exactly") {
    import spark.implicits._
    // a: 10 docs x 4 tokens = 40; b: 5 docs x 2 tokens = 10
    val docs = ((0 until 10).map(i => (i.toLong, "a", "w x y z")) ++
      (10 until 15).map(i => (i.toLong, "b", "u v")))
      .toDF("id", "src", "text")
    val plan = Sampling.mixturePlan(docs, "src", "text",
      Map("a" -> 0.75, "b" -> 0.25, "ghost" -> 0.5), budgetTokens = 300L)
      .as[(String, Long, Long, Option[Long], Option[Long], Option[Double])]
      .collect().sortBy(_._1).toSeq
    // wsum = 1.5: targets a=floor(300*0.5)=150, b=floor(300*1/6)=50,
    // ghost=floor(300*1/3)=100
    assert(plan == Seq(
      ("a", 150L, 40L, Some(3L), Some(30L), Some(150.0 / 40)),
      ("b", 50L, 10L, Some(5L), Some(0L), Some(5.0)),
      ("ghost", 100L, 0L, None, None, None)))
    // the materializer agrees: per-source emitted epoch multiplicity
    // is epochs (+1 inside the remainder prefix)
    val mat = Sampling.epochMixture(docs, "src", "id", "text",
      Map("a" -> 0.75, "b" -> 0.25, "ghost" -> 0.5), budgetTokens = 300L)
      .groupBy("src", "id").count()
      .as[(String, Long, Long)].collect()
    val byize = mat.filter(_._1 == "a").map(_._3)
    assert(byize.forall(c => c == 3L || c == 4L)) // 3 epochs + partial
    assert(mat.filter(_._1 == "b").forall(_._3 == 5L)) // exact 5 epochs
    intercept[IllegalArgumentException] {
      Sampling.mixturePlan(docs, "src", "text", Map.empty, 100L)
    }
  }

  test("temperatureWeights: sqrt rebalance, hand-checked shares and budget") {
    import spark.implicits._
    // masses 100 / 400 / 10000 -> w 10 / 20 / 100, tot 130
    val df = Seq(("a", 100L), ("b", 400L), ("c", 10000L))
      .toDF("src", "toks")
    val got = Sampling.temperatureWeights(df, "src", "toks", budget = 1000L)
      .orderBy("src")
      .as[(String, Long, Double, Double, Long)].collect().toSeq
    assert(got.map(_._3) == Seq(10.0, 20.0, 100.0))
    val tot = 10.0 + 20.0 + 100.0
    assert(got.map(_._4) == Seq(10.0 / tot, 20.0 / tot, 100.0 / tot))
    // sqrt flattens: c has 100x a's mass but only 10x its share
    assert(got(2)._4 / got.head._4 == 10.0)
    // floor never over-allocates; under-allocation < n_groups
    assert(got.map(_._5).sum <= 1000L &&
      got.map(_._5).sum > 1000L - 3)
    // weights aggregate across split rows before the sqrt
    val split = Seq(("a", 60L), ("a", 40L), ("b", 400L))
      .toDF("src", "toks")
    val s2 = Sampling.temperatureWeights(split, "src", "toks", 100L)
      .orderBy("src").as[(String, Long, Double, Double, Long)]
      .collect()
    assert(s2.head._3 == 10.0 && s2(1)._3 == 20.0)
    intercept[IllegalArgumentException] {
      Sampling.temperatureWeights(df, "src", "toks", -1L)
    }
    val e = intercept[IllegalArgumentException] {
      Sampling.temperatureWeights(
        Seq(("a", 1.5)).toDF("src", "toks"), "src", "toks", 10L)
    }
    assert(e.getMessage.contains("integral"))
  }

  test("kFoldAssign: balanced within strata, deterministic, salt re-deals") {
    import spark.implicits._
    val df = (0 until 103).map(i => (i.toLong, s"s${i % 3}"))
      .toDF("id", "src")
    val a = Sampling.kFoldAssign(df, Seq("src"), "id", k = 5)
      .as[(Long, String, Long)].collect().toSeq
    // fold sizes within each stratum differ by at most one
    a.groupBy(_._2).foreach { case (_, rows) =>
      val sizes = rows.groupBy(_._3).values.map(_.size).toSeq
      assert(sizes.max - sizes.min <= 1, s"sizes $sizes")
      assert(rows.map(_._3).toSet.subsetOf((0L until 5L).toSet))
    }
    // content-determined: any physical layout gives identical folds
    val b = Sampling.kFoldAssign(df.repartition(17), Seq("src"), "id", 5)
      .as[(Long, String, Long)].collect().toSeq
    assert(a.sortBy(_._1) == b.sortBy(_._1))
    // a different salt deals differently (with 103 rows, collision
    // of ALL assignments is impossible since fold sets differ)
    val c = Sampling.kFoldAssign(df, Seq("src"), "id", 5, salt = "other")
      .as[(Long, String, Long)].collect().toSeq
    assert(a.sortBy(_._1).map(_._3) != c.sortBy(_._1).map(_._3))
    // folds are not a trivial function of id order (the hash shuffles)
    val inOrder = a.sortBy(_._1).map(_._3)
    assert(inOrder.sliding(5).exists(w => w != w.sorted))
    intercept[IllegalArgumentException] {
      Sampling.kFoldAssign(df, Seq("src"), "id", 1)
    }
    val e = intercept[IllegalArgumentException] {
      Sampling.kFoldAssign(df.withColumn("fold",
        org.apache.spark.sql.functions.lit(0L)), Seq("src"), "id", 5)
    }
    assert(e.getMessage.contains("reserved"))
  }

  test("rendezvousShard: minimal movement on ring growth, determinism") {
    import spark.implicits._
    val ids = (0L until 2000L).toSeq.toDF("id")
    val s10 = Sampling.rendezvousShard(ids, "id", 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // shards are in range and reasonably balanced
    assert(s10.values.forall(s => s >= 0 && s < 10))
    val sizes = s10.values.groupBy(identity).values.map(_.size)
    assert(sizes.min > 100 && sizes.max < 320, sizes.toSeq.sorted)
    // THE rendezvous property: 10 -> 11 moves ~1/11, and every move
    // lands on the NEW shard (existing pairwise winners are stable)
    val s11 = Sampling.rendezvousShard(ids, "id", 11)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val moved = ids.collect().map(_.getLong(0))
      .filter(i => s10(i) != s11(i))
    assert(moved.length < 2000 / 11 * 2, s"moved ${moved.length}")
    assert(moved.nonEmpty)
    moved.foreach(i => assert(s11(i) == 10L,
      s"id $i moved to ${s11(i)}, not the new shard"))
    // content-determined: repartitioning changes nothing
    val re = Sampling.rendezvousShard(ids.repartition(13), "id", 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(re == s10)
    // salt re-deals
    val salted = Sampling.rendezvousShard(ids, "id", 10, salt = "x")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted != s10)
    intercept[IllegalArgumentException] {
      Sampling.rendezvousShard(ids, "id", 0)
    }
    intercept[IllegalArgumentException] {
      Sampling.rendezvousShard(
        ids.withColumn("shard",
          org.apache.spark.sql.functions.lit(1L)), "id", 5)
    }
  }

  test("neymanAllocation: hand case — allocation tracks N_h * S_h") {
    import spark.implicits._
    // stratum a: 4 rows of spread {0,10,0,10} (sd > 0)
    // stratum b: 8 rows, all 5 (sd = 0 -> share 0)
    // stratum c: 2 rows {0, 100} (few rows, huge spread)
    val rows =
      Seq("a" -> 0L, "a" -> 10L, "a" -> 0L, "a" -> 10L) ++
        (1 to 8).map(_ => "b" -> 5L) ++ Seq("c" -> 0L, "c" -> 100L)
    val df = rows.toDF("stratum", "x")
    val out = Sampling.neymanAllocation(df, "stratum", "x", total = 10L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4),
          r.getLong(5))).toMap
    // sd_a = sqrt((4*200 - 400)/(4*3)) = sqrt(100/3); sd_c =
    // sqrt((2*10000 - 10000)/2) = sqrt(5000)
    val sdA = math.sqrt(100.0 / 3.0)
    val sdC = math.sqrt(5000.0)
    assert(out("a")._1 == 4L && math.abs(out("a")._2 - sdA) < 1e-12)
    assert(out("b")._2 == 0.0 && out("b")._3 == 0.0 &&
      out("b")._5 == 0L)
    assert(math.abs(out("c")._2 - sdC) < 1e-12)
    // shares: a -> 4*sdA, c -> 2*sdC; raw allocations sum to total
    val tot = 4 * sdA + 2 * sdC
    assert(math.abs(out("a")._3 - 4 * sdA / tot) < 1e-12)
    assert(out.values.map(_._4).sum == 10L)
    // c's raw allocation exceeds its 2 rows -> capped alloc visible
    val alloc = Sampling.neymanAllocation(df, "stratum", "x", 10L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(4), r.getLong(5))).toMap
    assert(alloc("c")._1 > 2L && alloc("c")._2 == 2L)
    assert(alloc("a")._2 == alloc("a")._1) // uncapped stratum
  }

  test("neymanAllocation: exact budget, determinism, loud contracts") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 500).map(i =>
      (s"s${i % 7}", rnd.nextInt(1000).toLong)).toSeq
    val df = rows.toDF("stratum", "x")
    val a = Sampling.neymanAllocation(df, "stratum", "x", 123L)
      .collect().map(r => (r.getString(0), r.getLong(4))).toSeq.sorted
    // largest-remainder: raw allocations hit the budget EXACTLY
    assert(a.map(_._2).sum == 123L)
    // content-determined under any physical layout
    val b = Sampling.neymanAllocation(
      df.repartition(13), "stratum", "x", 123L)
      .collect().map(r => (r.getString(0), r.getLong(4))).toSeq.sorted
    assert(a == b)
    // all-zero-spread corpus: allocations are 0, never NaN shares
    val flat = (0 until 20).map(i => (s"s${i % 3}", 7L)).toSeq
      .toDF("stratum", "x")
    val z = Sampling.neymanAllocation(flat, "stratum", "x", 10L)
      .collect()
    assert(z.forall(r => r.getLong(5) == 0L && r.getDouble(3) == 0.0))
    val e1 = intercept[IllegalArgumentException] {
      Sampling.neymanAllocation(
        rows.toDF("stratum", "x").withColumn("stratum",
          org.apache.spark.sql.functions.col("x")), "stratum", "x", 5L)
    }
    assert(e1.getMessage.contains("STRING"))
    val e2 = intercept[IllegalArgumentException] {
      Sampling.neymanAllocation(df, "stratum", "x", 5L, maxStrata = 3)
    }
    assert(e2.getMessage.contains("strata"))
  }

  test("bootstrapMeanCI: deterministic, partition-invariant, CI " +
      "brackets the mean, salt re-draws, loud contracts") {
    import spark.implicits._
    val rows = (1 to 400).map(i =>
      ("g" + (i % 2), i.toLong, 10.0 + (i % 17))).toDF("k", "id", "v")
    def run(df: org.apache.spark.sql.DataFrame, salt: String = "s7") =
      Sampling.bootstrapMeanCI(df, Seq("k"), "id", "v",
        replicates = 100, ciPct = 95, scale = 2, salt = salt)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2), r.getLong(3),
            r.getDouble(4), r.getDouble(5))).toMap
    val a = run(rows)
    // retry-proof: identical on re-run and under repartitioning
    assert(run(rows) == a)
    assert(run(rows.repartition(13)) == a)
    a.foreach { case (k, (n, mean, bUsed, lo, hi)) =>
      assert(n == 200L, k)
      assert(bUsed == 100L, k) // no zero-weight replicate at n=200
      // CI brackets the point estimate and is sane for a bounded
      // metric: half-width well under the value spread
      assert(lo <= mean && mean <= hi, k)
      assert(hi - lo > 0.0 && hi - lo < 5.0, k)
    }
    // a different salt draws different replicates -> different CI
    assert(run(rows, salt = "other") != a)
    // the weight table IS Poisson(1): across rows x replicates the
    // average weight concentrates at 1 (law of large numbers on a
    // deterministic sequence)
    val mw = rows.select(col("id").cast("string").as("i"))
      .withColumn("b", explode(sequence(lit(0), lit(99))))
      .select((col("i")).as("i"), col("b"))
      .collect().map { r =>
        val m = Kernels.md5Lower64(
          r.getString(0) + ":" + r.getInt(1) + ":s7") >>> 11
        val u = (m.toDouble + 0.5) / 9007199254740992.0
        Sampling.PoissonCdf1.indexWhere(u < _) match {
          case -1 => 10; case k => k
        }
      }
    val avg = mw.map(_.toDouble).sum / mw.length
    assert(math.abs(avg - 1.0) < 0.02, s"mean weight $avg")
    intercept[IllegalArgumentException] {
      Sampling.bootstrapMeanCI(rows, Seq.empty, "id", "v")
    }
    intercept[IllegalArgumentException] {
      Sampling.bootstrapMeanCI(rows, Seq("k"), "id", "v",
        replicates = 5)
    }
    intercept[IllegalArgumentException] {
      Sampling.bootstrapMeanCI(rows, Seq("k"), "id", "v", ciPct = 100)
    }
  }
}
