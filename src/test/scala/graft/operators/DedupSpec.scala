package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")

  test("null text rows survive every dedup path without NPE") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    // shingling paths: null -> empty set -> filtered, pairs unaffected
    assert(Dedup.ngramJaccardPairs(df, "doc_id", "text", n = 3, minJ = 0.5)
      .count() == 1L)
    assert(Dedup.minHashLshPairs(df, "doc_id", "text", n = 3).count() == 1L)
  }

  test("exactDedup keeps exactly one row per content, minimum id") {
    val df = Seq(
      (1L, "hello world"), (2L, "hello world"), (3L, "unique"),
      (7L, "hello world")).toDF("doc_id", "text")
    val kept = Dedup.exactDedup(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L))
    val groups = Dedup.exactGroups(df, "doc_id", "text")
      .orderBy("keep_id")
      .select("keep_id", "n_copies").as[(Long, Long)].collect()
    assert(groups.toSeq == Seq((1L, 3L), (3L, 1L)))
  }

  test("minHashLshPairs == exact ngramJaccardPairs on the fixture") {
    // exact pairs are the oracle-verified ground truth; LSH at b=32,
    // r=4 must not lose any planted (J>=0.9) pair
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minHashLshPairs(docs, "doc_id", "text", 3, 32, 4, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    assert(lsh == exact)
  }

  test("minHashLshPairs == exact ngramJaccardPairs at minJ=0.4 with exact " +
      "jaccard values (q270's supplier contract after the r12 LSH swap)") {
    // q270's sweep consumes bands 4..9, so the swap must hold at 0.4,
    // not just q36's 0.5 — and the VALUES must match bitwise (the
    // verify step computes exact jaccard on the full shingle sets, so
    // only completeness is at stake; the fixtures' true >=0.4 pairs
    // all sit at J >= 0.8 where a 32x4 deterministic LSH miss is
    // p <= 5e-8 per pair)
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.4)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val lsh = Dedup.minHashLshPairs(docs, "doc_id", "text", 3, 32, 4, 0.4)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(exact.nonEmpty)
    assert(lsh == exact,
      s"LSH@0.4 diverged from exact: missing ${(exact -- lsh).take(5)}, " +
        s"extra ${(lsh -- exact).take(5)}")
  }

  test("minHashLshPairs caps degenerate buckets without losing the dup mass") {
    // 200 identical documents: every band bucket holds all 200 — the
    // boilerplate pathology that makes one O(n²) straggler task
    val text = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    val dupes = (0L until 200L).map(i => (i, text))
    val others = (200L until 210L).map(i =>
      (i, s"completely different document number $i about topic $i"))
    val df = (dupes ++ others).toDF("doc_id", "text")
    val total = 200L * 199L / 2L
    val uncapped = Dedup.minHashLshPairs(df, "doc_id", "text",
      maxBucketSize = Int.MaxValue)
    assert(uncapped.count() == total)
    val capped = Dedup.minHashLshPairs(df, "doc_id", "text", maxBucketSize = 20)
    val got = capped.select("id_a", "id_b", "jaccard").collect()
    // every reported pair is still exact-verified
    assert(got.forall(_.getDouble(2) == 1.0))
    // fan-out bounded (each band splits into ~10 sub-buckets of ~20) but
    // the 32 bands' independent split boundaries recover most pairs:
    // P(pair shares a sub-bucket in >=1 of 32 bands) ≈ 1-(1-1/10)^32 ≈ 0.97
    assert(got.length < total)
    assert(got.length > (total * 8) / 10)
  }

  test("simHash: identical texts collide, near-dups land close") {
    val df = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "totally different words entirely")).toDF("doc_id", "text")
    val pairs = Dedup.simHashPairs(df, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect()
    assert(pairs.toSeq.contains((1L, 2L, 0L)))
  }

  test("simHashPairs banding == exhaustive Hamming join (exact recall)") {
    // the pigeonhole banding must find EXACTLY the pairs within the
    // radius — compare against a brute-force cross join on fingerprints
    val fp = docs.select(col("doc_id").as("id"),
      Dedup.simHash(col("text")).as("fp"))
    for (d <- Seq(3, 7)) {
      val brute = fp.as("l").join(fp.as("r"), col("l.id") < col("r.id"))
        .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
          Dedup.hamming64(col("l.fp"), col("r.fp")).as("h"))
        .filter(col("h") <= d)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val banded = Dedup.simHashPairs(docs, "doc_id", "text", d)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(banded == brute, s"radius $d")
    }
  }

  test("simHash recall on planted near-dups (statistical, informational)") {
    // simhash measures tf-vector angle, not set Jaccard — false
    // positives/negatives vs the Jaccard ground truth are inherent;
    // candidates get exact-verified in a real pipeline. Measure recall
    // at two radii and require the wider radius to catch most.
    val planted = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(planted.nonEmpty)
    val sim7 = Dedup.simHashPairs(docs, "doc_id", "text", 7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val recall = planted.intersect(sim7).size.toDouble / planted.size
    info(f"simhash recall@hamming<=7 on planted near-dups: $recall%.2f")
    assert(recall >= 0.6, f"simhash recall degraded: $recall%.2f")
  }

  test("ngramJaccardPairs maxDf cap drops high-frequency shingles") {
    // with a df cap of 1 no shingle is shared, so no pairs survive
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5,
      maxDf = Some(1))
    assert(capped.count() == 0)
  }

  /** (doc_id, distinct 3-gram set) of every fixture doc with a gram. */
  private lazy val fixtureSets: Seq[(Long, Seq[String])] =
    docs.select("doc_id", "text").as[(Long, String)].collect().toSeq
      .map { case (id, t) =>
        id -> (if (t == null) Seq.empty[String] else Kernels.wordNgrams(t, 3).toSeq)
      }
      .filter(_._2.nonEmpty)

  test("ngramJaccardPairs == brute-force all-pairs Jaccard on the fixture") {
    for (minJ <- Seq(0.4, 0.5)) {
      val brute = (for {
        (a, sa) <- fixtureSets; (b, sb) <- fixtureSets if a < b
        j = Kernels.jaccard(sa, sb) if j >= minJ
      } yield (a, b, j)).toSet
      val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, minJ)
        .as[(Long, Long, Double)].collect()
      assert(got.length == got.toSet.size)
      assert(got.toSet == brute, s"minJ $minJ")
      assert(brute.nonEmpty)
    }
  }

  test("containmentPairs == brute-force all-pairs containment on the fixture") {
    // maxDf 20 is q176's cap (no fixture gram reaches it); 3 bites
    for (cap <- Seq(20, 3)) {
      val df = fixtureSets.flatMap(_._2).groupBy(identity)
        .map { case (g, xs) => g -> xs.size }
      val capped = fixtureSets
        .map { case (id, s) => (id, s.filter(df(_) <= cap)) }
        .filter(_._2.nonEmpty)
        .map { case (id, s) => (id, s, s.toSet) }
      val brute = (for {
        (a, sa, _) <- capped; (b, _, setB) <- capped if a != b
        c = sa.count(setB).toDouble / sa.length if c >= 0.8
      } yield (a, b, c)).toSet
      val got = Dedup.containmentPairs(docs, "doc_id", "text",
        n = 3, minC = 0.8, maxDf = Some(cap))
        .as[(Long, Long, Double)].collect()
      assert(got.length == got.toSet.size)
      assert(got.toSet == brute, s"maxDf $cap")
      assert(brute.nonEmpty)
    }
  }

  test("exactDedupIncremental: batch-internal dups AND known content dropped") {
    val known = Seq((100L, "already seen"), (101L, "also known"))
      .toDF("doc_id", "text")
    val knownDigests = Dedup.exactGroups(known, "doc_id", "text")
      .select("content_hash")
    val batch = Seq(
      (1L, "brand new"), (2L, "brand new"),      // in-batch dup: keep 1
      (3L, "already seen"),                      // known: drop
      (4L, "another new one")
    ).toDF("doc_id", "text")
    val got = Dedup.exactDedupIncremental(batch, "doc_id", "text", knownDigests)
      .select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 4L))
  }

  test("duplicateClusters: hand graphs — chain, star, clique, singletons") {
    import spark.implicits._
    val ids = (0L to 9L).toDF("id")
    // chain 0-1-2, star 3<-{4,5}, clique {6,7,8}, singleton 9
    val pairs = Seq(
      (0L, 1L), (1L, 2L),
      (3L, 4L), (3L, 5L),
      (6L, 7L), (6L, 8L), (7L, 8L)
    ).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(ids, pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(
      0L -> 0L, 1L -> 0L, 2L -> 0L,
      3L -> 3L, 4L -> 3L, 5L -> 3L,
      6L -> 6L, 7L -> 6L, 8L -> 6L,
      9L -> 9L))
  }

  test("duplicateClusters: unknown pair endpoints bridge identically on both paths") {
    import spark.implicits._
    // ids 5 and 7 are connected ONLY through node 1, which is absent
    // from `ids`; 20 and 21 are a plain known-known pair; 30 is a
    // singleton whose only pair partner (99) is unknown — the two
    // execution paths (driver union-find vs distributed min-label
    // loop) must produce the SAME labels, or the same logical input
    // would cluster differently at different scales
    val ids = Seq(5L, 7L, 20L, 21L, 30L).toDF("id")
    val pairs = Seq((5L, 1L), (1L, 7L), (20L, 21L), (30L, 99L))
      .toDF("id_a", "id_b")
    val expected = Map(
      5L -> 1L, 7L -> 1L, // bridged through unknown 1, min label = 1
      20L -> 20L, 21L -> 20L,
      30L -> 30L) // unknown 99 > 30 cannot lower the label
    val viaDriver = Dedup.duplicateClusters(ids, pairs)
      .as[(Long, Long)].collect().toMap
    val viaLoop = Dedup.duplicateClusters(ids, pairs, maxDriverEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(viaDriver == expected)
    assert(viaLoop == expected)
    // output stays one row per REQUESTED id — bridge nodes never leak
    assert(Dedup.duplicateClusters(ids, pairs, maxDriverEdges = 0).count() == 5)
  }

  test("minHashLshIncremental == full-corpus pairs restricted to the new batch") {
    import spark.implicits._
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .select("doc_id", "text")
    val cut = 250L
    val full = Dedup.minHashLshPairs(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    val touchingNew = full.filter { case (a, b, _) => a >= cut || b >= cut }
    val idx = Dedup.minHashIndex(
      docs.filter(col("doc_id") < cut), "doc_id", "text")
    val incremental = Dedup.minHashLshIncremental(
      docs.filter(col("doc_id") >= cut), "doc_id", "text", idx)
      .as[(Long, Long, Double)].collect().toSet
    assert(incremental.nonEmpty)
    assert(incremental == touchingNew)
    // and no old-old pair ever surfaces
    incremental.foreach { case (a, b, _) =>
      assert(a >= cut || b >= cut)
    }
  }

  test("duplicateClusters: reliable checkpointDir path matches localCheckpoint") {
    import spark.implicits._
    val ids = (0L to 9L).toDF("id")
    val pairs = Seq(
      (0L, 1L), (1L, 2L), (3L, 4L), (3L, 5L),
      (6L, 7L), (6L, 8L), (7L, 8L)
    ).toDF("id_a", "id_b")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ckpt").toString
    try {
      // maxDriverEdges = 0 forces the distributed loop — the path
      // whose checkpointing behavior this test pins (the union-find
      // short-circuit never checkpoints)
      val viaReliable = Dedup.duplicateClusters(
        ids, pairs, checkpointDir = Some(dir), maxDriverEdges = 0)
        .as[(Long, Long)].collect().toMap
      val viaLocal = Dedup.duplicateClusters(
        ids, pairs, maxDriverEdges = 0)
        .as[(Long, Long)].collect().toMap
      assert(viaReliable == viaLocal)
      // the reliable path really wrote checkpoint data
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "no reliable checkpoint files written")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("resolveDuplicatesBy keeps the best-scored member, ties to smaller id") {
    val df = Seq(
      (1L, "x", 10.0), (2L, "x", 30.0), (3L, "x", 30.0), // tie 2/3 -> 2
      (4L, "y", 5.0), (5L, "y", 50.0),                   // 5 wins over min-id 4
      (6L, "z", 0.0)                                     // singleton keeps
    ).toDF("doc_id", "text", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val rep = Dedup.resolveDuplicatesBy(df, "doc_id", "q", pairs)
      .as[(Long, Long, Double, Boolean)].collect()
    assert(rep.length == 6) // audit face: every row present
    assert(rep.filter(_._4).map(_._1).sorted.toSeq == Seq(2L, 5L, 6L))
    // negative scores: the (score, -id) struct order must still hold
    val neg = df.withColumn("q", -col("q"))
    val keptNeg = Dedup.resolveDuplicatesBy(neg, "doc_id", "q", pairs)
      .as[(Long, Long, Double, Boolean)].collect().filter(_._4).map(_._1).sorted
    assert(keptNeg.toSeq == Seq(1L, 4L, 6L)) // best = least negative
  }

  test("dedupAttrition: per-group raw vs kept counts match the keep policy") {
    val df = Seq(
      (1L, "s1", 10.0, 100L), (2L, "s1", 30.0, 200L), // cluster {1,2}: keep 2
      (3L, "s2", 30.0, 300L),                          // in {1,2,3}? no:
      (4L, "s2", 5.0, 50L), (5L, "s2", 50.0, 70L),     // cluster {4,5}: keep 5
      (6L, "s2", 0.0, 10L)                             // singleton keeps
    ).toDF("doc_id", "src", "q", "toks")
    // clusters: {1,2,3} (keep 3? scores 10,30,30 -> tie 2/3 -> 2), {4,5}, {6}
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val got = Dedup.dedupAttrition(df, "doc_id", "q", "src", "toks", pairs)
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // keep set = {2, 5, 6}: s1 keeps doc 2 (200 toks of 300 raw);
    // s2 keeps 5 and 6 (80 of 430)
    assert(got == Seq(
      ("s1", 2L, 300L, 1L, 200L),
      ("s2", 4L, 430L, 2L, 80L)))
    // conservation: kept tokens equal the keep rows' total
    val keep = Dedup.resolveDuplicatesBy(df, "doc_id", "q", pairs)
      .filter(col("keep")).select("id")
    val keptToks = df.join(keep, df("doc_id") === keep("id"), "left_semi")
      .agg(org.apache.spark.sql.functions.sum("toks")).as[Long].collect().head
    assert(got.map(_._5).sum == keptToks)
  }

  test("clusterAwareSplit: clusters never straddle buckets; hashed ~uniform") {
    import spark.implicits._
    val ids = (0L until 200L).toDF("id")
    // 40 clusters of 5 consecutive ids
    val pairs = (0L until 200L).filter(_ % 5 != 4)
      .map(i => (i, i + 1)).toDF("id_a", "id_b")
    for (hashed <- Seq(true, false)) {
      val got = Dedup.clusterAwareSplit(ids, "id", pairs,
        nBuckets = 7, hashed = hashed)
        .as[(Long, Long, Long)].collect()
      assert(got.length == 200)
      got.foreach { case (_, _, b) => assert(b >= 0 && b < 7) }
      // every cluster maps to exactly one bucket
      got.groupBy(_._2).values.foreach { members =>
        assert(members.map(_._3).toSet.size == 1)
      }
    }
    // hashed spread: 40 clusters over 7 buckets, none empty is too
    // strong, but at least 4 distinct buckets must be hit
    val hashedBuckets = Dedup.clusterAwareSplit(ids, "id", pairs,
      nBuckets = 7, hashed = true)
      .select("bucket").as[Long].collect().toSet
    assert(hashedBuckets.size >= 4)
  }

  test("duplicateClusters property: equals BFS components on random graphs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    (0 until 3).foreach { i =>
      val n = 40
      val edgeGen = Gen.zip(Gen.choose(0L, n - 1L), Gen.choose(0L, n - 1L))
      val raw = Gen.listOfN(30, edgeGen)
        .apply(Gen.Parameters.default, Seed(99L + i)).get
        .filter { case (a, b) => a != b }
        .map { case (a, b) => if (a < b) (a, b) else (b, a) }
        .distinct
      // run BOTH implementations: maxDriverEdges=0 forces the
      // distributed min-label loop, the default takes the driver
      // union-find short-circuit — they must agree with each other
      // and with the plain-Scala reference
      val got = Dedup.duplicateClusters(
        (0L until n).toDF("id"), raw.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      val gotLoop = Dedup.duplicateClusters(
        (0L until n).toDF("id"), raw.toDF("id_a", "id_b"),
        maxDriverEdges = 0)
        .as[(Long, Long)].collect().toMap
      // reference: union-find in plain Scala
      val parent = Array.tabulate(n.toInt)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        r
      }
      raw.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (0 until n.toInt).map { v =>
        val root = find(v)
        // representative = min member of the component
        val members = (0 until n.toInt).filter(u => find(u) == root)
        v.toLong -> members.min.toLong
      }.toMap
      assert(got == expected, s"seed ${99 + i}")
      assert(gotLoop == expected, s"loop path, seed ${99 + i}")
    }
  }

  test("embeddingNearDupPairs (ANN + verify) == exact quadratic at high threshold") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
      .select("vec_id", "embedding")
    // plant same-direction near-dups: 0.5x-scaled copies (exact in
    // float, so cosine == ~1.0 deterministically)
    val planted = emb.filter(col("vec_id") < 50)
      .select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"), x => (x * lit(0.5f)).cast("float"))
          .as("embedding"))
    val corpus = emb.unionByName(planted)
    val composed = Dedup.embeddingNearDupPairs(
      corpus, "vec_id", "embedding", minCos = 0.99, tables = 8, bits = 12)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.embeddingCosinePairs(
      corpus, "vec_id", "embedding", minCos = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.size == 50)
    // the composed scale path loses nothing at near-dup thresholds:
    // same-direction vectors share every LSH bucket structurally
    assert(composed == exact)
  }

  test("embeddingCosinePairs is symmetric-free (id_a < id_b) and bounded") {
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val pairs = Dedup.embeddingCosinePairs(emb, "vec_id", "embedding", 0.3)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect()
    pairs.foreach { case (a, b, c) =>
      assert(a < b); assert(c >= 0.3 && c <= 1.0)
    }
  }

  test("duplicateClustersIncremental == batch on random graphs (incl. old-old merges)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    (0 until 3).foreach { i =>
      val n = 40L
      val cut = 25L
      val edgeGen = Gen.zip(Gen.choose(0L, n - 1), Gen.choose(0L, n - 1))
      val raw = Gen.listOfN(45, edgeGen)
        .apply(Gen.Parameters.default, Seed(17L + i)).get
        .filter { case (a, b) => a != b }
        .map { case (a, b) => if (a < b) (a, b) else (b, a) }
        .distinct
      // the old batch indexed only SOME of its internal edges; the
      // rest arrive later alongside the new batch's pairs — a new
      // edge may therefore merge two PREVIOUSLY SEPARATE old clusters
      val (oldPairs, newPairs) = raw.partition { case (a, b) =>
        a < cut && b < cut && (a + b) % 3 != 0
      }
      val existing = Dedup.duplicateClusters(
        (0L until cut).toDF("id"), oldPairs.toDF("id_a", "id_b"))
      val batch = Dedup.duplicateClusters(
        (0L until n).toDF("id"), raw.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      // both remap paths: driver union-find (default) and the
      // distributed min-label loop (maxDriverEdges = 0 forces it)
      for (maxDriverEdges <- Seq(1L << 20, 0L)) {
        val got = Dedup.duplicateClustersIncremental(
          existing, (cut until n).toDF("id"), newPairs.toDF("id_a", "id_b"),
          maxDriverEdges = maxDriverEdges)
          .as[(Long, Long)].collect().toMap
        assert(got == batch, s"seed ${17 + i} maxDriverEdges=$maxDriverEdges")
      }
    }
  }

  test("minHashLshPairsFromIndex == minHashLshPairs on the same corpus") {
    import spark.implicits._
    val fromIndex = Dedup.minHashLshPairsFromIndex(
      Dedup.minHashIndex(docs, "doc_id", "text"))
      .as[(Long, Long, Double)].collect().toSet
    val direct = Dedup.minHashLshPairs(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    assert(fromIndex.nonEmpty)
    assert(fromIndex == direct)
  }

  test("duplicateClustersIncremental: empty new pair set self-labels the batch") {
    import spark.implicits._
    val existing = Seq((0L, 0L), (1L, 0L), (2L, 2L)).toDF("id", "cluster_id")
    val got = Dedup.duplicateClustersIncremental(
      existing, Seq(5L, 6L).toDF("id"),
      spark.emptyDataset[(Long, Long)].toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 5L -> 5L, 6L -> 6L))
  }

  test("compactIndex: last-writer-wins, tombstones dropped, equals fresh rebuild") {
    import spark.implicits._
    val v1 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "doomed document that will be tombstoned away")
    ).toDF("doc_id", "text")
    // doc 2 re-ingested with DIFFERENT content in a later delta
    val v2 = Seq(
      (2L, "completely rewritten second document body here")
    ).toDF("doc_id", "text")
    val d1 = Dedup.minHashIndex(v1, "doc_id", "text")
    val d2 = Dedup.minHashIndex(v2, "doc_id", "text")
    val tombs = Seq(3L).toDF("doc_id")
    val compacted = Dedup.compactIndex(Seq(d1, d2), Some(tombs), "doc_id")
    // final corpus truth: doc 1 v1, doc 2 v2, doc 3 gone
    val finalCorpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "completely rewritten second document body here")
    ).toDF("doc_id", "text")
    val fresh = Dedup.minHashIndex(finalCorpus, "doc_id", "text")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Seq[String], Seq[Long])].collect()
        .map { case (id, ng, b) => (id, ng.toList, b.toList) }
        .sortBy(_._1).toList
    assert(snap(compacted) == snap(fresh))
    // single delta, no tombstones: identity (modulo duplicate rows)
    assert(snap(Dedup.compactIndex(Seq(d1))) == snap(d1))
  }

  test("compactIndex: duplicate ids WITHIN one delta resolve deterministically") {
    import spark.implicits._
    // minHashIndex emits one row per id, but compactIndex accepts any
    // caller DataFrame — a delta carrying the same id twice with
    // different content must resolve to the same winner on every run
    // and partitioning (content-hash tiebreak), never arbitrarily
    val dupDelta = Seq(
      (1L, "first version of the document body"),
      (1L, "second different version of the body"),
      (2L, "unique document two")
    ).toDF("doc_id", "text")
    val idx = Dedup.minHashIndex(dupDelta, "doc_id", "text")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Seq[String], Seq[Long])].collect()
        .map { case (id, ng, b) => (id, ng.toList, b.toList) }
        .sortBy(_._1).toList
    val runs = (1 to 3).map { i =>
      snap(Dedup.compactIndex(Seq(idx.repartition(i + 2))))
    }
    assert(runs.head.map(_._1) == List(1L, 2L)) // one row per id
    assert(runs.distinct.size == 1, "intra-delta LWW was nondeterministic")
  }

  test("delete propagation into the MinHash index (the q274 loop): " +
      "deleted reps leave, re-elected reps enter, fully-deleted clusters " +
      "vanish, and the probe after delete never returns a tombstoned id") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "the quick brown fox jumps over the lazy dog forever"),
      (5L, "pack my box with five dozen large liquor jugs now"),
      (6L, "pack my box with five dozen large liquor jugs here"),
      (8L, "completely unique text that matches nothing else at all")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minHashLshPairs(df, "doc_id", "text", n = 3)
    val clusters = Dedup.duplicateClusters(df.select("doc_id"), pairs)
    // tombstones: rep 1 of {1,2,3} (re-election) and the whole
    // singleton cluster {8} (fully deleted — must vanish, not re-elect)
    val tomb = Seq(1L, 8L).toDF("doc_id")
    val report = Dedup.deletePropagation(clusters, tomb)
    val rep = report
      .select("cluster_id", "rep_deleted", "new_rep")
      .as[(Long, Long, Option[Long])].collect().sortBy(_._1).toSeq
    assert(rep == Seq((1L, 1L, Some(2L)), (8L, 1L, None)))
    // the index holds the resolved corpus; the report drives the swap
    val reps0 = clusters.filter(col("id") === col("cluster_id"))
      .select("id")
    val index0 = Dedup.minHashIndex(
      df.join(reps0, df("doc_id") === reps0("id"), "left_semi"),
      "doc_id", "text")
    val newReps = report
      .filter(col("rep_deleted") === 1L && col("new_rep").isNotNull)
      .select(col("new_rep").as("doc_id"))
    val delta1 = Dedup.minHashIndex(
      df.join(newReps, Seq("doc_id"), "left_semi"), "doc_id", "text")
    val compacted = Dedup.compactIndex(
      Seq(index0, delta1), Some(tomb), "doc_id")
    // post-delete index content: surviving rep 5, re-elected rep 2 —
    // never the deleted rep 1 or the vanished cluster 8
    assert(compacted.select("id").as[Long].collect().sorted.toSeq
      == Seq(2L, 5L))
    // probe: surviving non-reps {3, 6} against the compacted index
    val probeDocs = df.filter(col("doc_id").isin(3L, 6L))
    val post = Dedup.minHashLshIncremental(
      probeDocs, "doc_id", "text", compacted, minJ = 0.5)
    val got = post.select("id_a", "id_b")
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((2L, 3L), (5L, 6L)),
      "probe should pair each survivor with its post-delete rep")
    assert(!got.exists(p => Set(p._1, p._2).exists(Set(1L, 8L))),
      "probe after delete returned a tombstoned id")
  }

  test("duplicatedSpans: hand fixture — shared run, positions, maximal merge") {
    import spark.implicits._
    // B embeds A's tokens 1..8 at positions 3..10; nothing else shared.
    val fx = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "z y a b c d e f g h q"),
      (3L, "completely different words with no overlap at all here")
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(fx, "doc_id", "text", n = 8)
      .as[(Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq == Seq(
      (1L, 1L, 8L, "a b c d e f g h"),
      (2L, 3L, 8L, "a b c d e f g h")))
  }

  test("duplicatedSpans: overlapping duplicated grams merge into ONE maximal span") {
    import spark.implicits._
    // 9 shared tokens -> grams at starts 1 and 2 -> single span of 9.
    val fx = Seq(
      (1L, "a b c d e f g h i x1 x2"),
      (2L, "a b c d e f g h i y1 y2")
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(fx, "doc_id", "text", n = 8)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 1L, 9L, "a b c d e f g h i"),
      (2L, 1L, 9L, "a b c d e f g h i")))
  }

  test("duplicatedSpans: disjoint shared runs stay separate islands") {
    import spark.implicits._
    // two 8-token shared runs separated by unshared middles
    val fx = Seq(
      (1L, "a b c d e f g h M1 M2 M3 p q r s t u v w"),
      (2L, "a b c d e f g h N1 N2 N3 N4 p q r s t u v w")
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(fx, "doc_id", "text", n = 8)
      .as[(Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq == Seq(
      (1L, 1L, 8L, "a b c d e f g h"),
      (1L, 12L, 8L, "p q r s t u v w"),
      (2L, 1L, 8L, "a b c d e f g h"),
      (2L, 13L, 8L, "p q r s t u v w")))
  }

  test("duplicatedSpans: within-doc repetition alone is NOT duplication") {
    import spark.implicits._
    // doc 1 repeats its own 8-gram twice; no other doc shares it
    val fx = Seq(
      (1L, "a b c d e f g h a b c d e f g h"),
      (2L, "totally unrelated text that goes on for quite a while longer")
    ).toDF("doc_id", "text")
    assert(Dedup.duplicatedSpans(fx, "doc_id", "text", n = 8).isEmpty)
  }

  test("duplicatedSpans: short docs, null text, space runs") {
    import spark.implicits._
    val fx = Seq(
      (1L, "too short"),
      (2L, null),
      (3L, "a  b   c d e f g h tail1"), // space runs collapse
      (4L, "a b c d e f g h tail2")
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(fx, "doc_id", "text", n = 8)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (3L, 1L, 8L, "a b c d e f g h"),
      (4L, 1L, 8L, "a b c d e f g h")))
  }

  test("deletePropagation: per-cluster counts, rep re-election, " +
      "full-delete NULL, untouched clusters absent") {
    import spark.implicits._
    // clusters: {1,2,3} rep 1; {5} singleton; {7,8} rep 7
    val cl = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L),
      (7L, 7L), (8L, 7L)).toDF("id", "cluster_id")
    // tombstones: the rep of {1,2,3}, the whole of {5}, the
    // NON-rep of {7,8}, and an id the dedup layer never saw (99)
    val tomb = Seq(1L, 5L, 8L, 99L).toDF("doc_id")
    val got = Dedup.deletePropagation(cl, tomb)
      .orderBy("cluster_id")
      .as[(Long, Long, Long, Long, Long, Option[Long])].collect().toSeq
    assert(got == Seq(
      (1L, 3L, 1L, 2L, 1L, Some(2L)),   // rep deleted -> re-elect 2
      (5L, 1L, 1L, 0L, 1L, None),       // fully deleted -> NULL rep
      (7L, 2L, 1L, 1L, 0L, Some(7L)))) // rep survives, new_rep == rep
  }

  test("removeDuplicatedSpans: excises exactly the detected spans, everywhere") {
    import spark.implicits._
    val fx = Seq(
      (1L, "a b c d e f g h i j"),       // span at 1..8
      (2L, "z y a b c d e f g h q"),     // span at 3..10
      (3L, "unrelated words that are never shared with anything else"),
      (4L, null.asInstanceOf[String]),
      (5L, "short one")
    ).toDF("doc_id", "text")
    val got = Dedup.removeDuplicatedSpans(fx, "doc_id", "text", n = 8)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "i j", 2L, 8L),
      (2L, "z y q", 3L, 8L),
      (3L, "unrelated words that are never shared with anything else", 9L, 0L),
      (4L, "", 0L, 0L),
      (5L, "short one", 2L, 0L)))
    // consistency with the detector: removed == sum of span lengths.
    // (The final re-detection check is a fixture-level property, not an
    // invariant — splicing excision boundaries can in principle mint
    // new grams; on this corpus it converges in one pass.)
    val cleaned = Dedup.removeDuplicatedSpans(docs, "doc_id", "text", n = 8)
    val spanTotals = Dedup.duplicatedSpans(docs, "doc_id", "text", n = 8)
      .groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.sum("n_tokens").as("t"))
      .as[(Long, Long)].collect().toMap
    cleaned.as[(Long, String, Long, Long)].collect().foreach {
      case (id, _, _, removed) =>
        assert(removed == spanTotals.getOrElse(id, 0L), s"doc $id")
    }
    assert(Dedup.duplicatedSpans(
      cleaned.withColumnRenamed("clean_text", "text"),
      "doc_id", "text", n = 8).isEmpty)
  }

  test("duplicatedSpans property: equals plain-Scala reference on random corpora") {
    // tiny vocabulary => heavy organic cross-doc gram collisions, the
    // stress the hand fixtures can't produce
    val n = 3
    (0 until 3).foreach { round =>
      val rnd = new scala.util.Random(7 + round)
      val vocab = Vector("a", "b", "c", "d", "e")
      val corpus = (0L until 12L).map { id =>
        val len = 2 + rnd.nextInt(28) // some docs shorter than n
        (id, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      // reference: gram postings + interval merge in plain Scala
      val toks = corpus.map { case (id, t) =>
        id -> t.split(" ").filter(_.nonEmpty).toVector
      }.toMap
      val occ = for {
        (id, w) <- toks.toSeq
        p <- 1 to (w.length - n + 1)
      } yield (w.slice(p - 1, p - 1 + n).mkString(" "), id, p)
      val dupGrams = occ.groupBy(_._1)
        .filter(_._2.map(_._2).distinct.size >= 2).keySet
      val expected = occ.filter(o => dupGrams(o._1))
        .groupBy(_._2)
        .flatMap { case (id, os) =>
          val starts = os.map(_._3).sorted
          val islands = starts.foldLeft(List.empty[List[Int]]) {
            case (acc, p) => acc match {
              case (h :: t) :: rest if p <= h + n => (p :: h :: t) :: rest
              case _ => List(p) :: acc
            }
          }
          islands.map { isl =>
            val (start, end) = (isl.min, isl.max + n - 1)
            (id, start.toLong, (end - start + 1).toLong,
              toks(id).slice(start - 1, end).mkString(" "))
          }
        }.toSet
      val got = Dedup.duplicatedSpans(
        corpus.toDF("doc_id", "text"), "doc_id", "text", n = n)
        .as[(Long, Long, Long, String)].collect().toSet
      assert(got == expected, s"round $round")
    }
  }

  test("gramMd5Positions: positional fingerprints match md5Lower64 of each gram") {
    val text = "w1 w2 w3 w4 w5"
    val got = Kernels.gramMd5Positions(text, 3)
    val grams = Seq("w1 w2 w3", "w2 w3 w4", "w3 w4 w5")
    assert(got.toSeq == grams.map(Kernels.md5Lower64))
    assert(Kernels.gramMd5Positions("w1 w2", 3).isEmpty)
  }

  test("containmentPairs: asymmetric direction, jaccard-invisible wrappers") {
    import spark.implicits._
    // doc 2 = doc 1 wrapped in a long frame: 1-in-2 containment is
    // total, 2-in-1 is not; symmetric jaccard is far below any
    // dedup threshold
    val core = (1 to 10).map(i => s"w$i").mkString(" ")
    val frame = (1 to 40).map(i => s"f$i").mkString(" ")
    val docs = Seq(
      (1L, core),
      (2L, s"$frame $core"),
      (3L, "completely different text with no overlap at all here"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text",
      n = 3, minC = 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 1.0))) // only the contained direction
    // the same pair is invisible to symmetric jaccard at 0.5
    assert(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, minJ = 0.5).count() == 0L)
    // mutual near-equality emits both directions
    val twins = Seq((1L, core), (2L, core)).toDF("doc_id", "text")
    val both = Dedup.containmentPairs(twins, "doc_id", "text", 3, 0.9)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(both == Seq((1L, 2L, 1.0), (2L, 1L, 1.0)))
    intercept[IllegalArgumentException] {
      Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.0)
    }
  }

  test("containmentPairs maxDf: capped grams leave the measure on " +
      "BOTH sides (candidates and verification)") {
    import spark.implicits._
    // boilerplate grams: "b1..b6" appears in every doc (df = 4);
    // core grams: docs 1 and 2 share a unique core, doc 3 shares
    // ONLY the boilerplate with them, doc 4 is the second copy of 3
    val boiler = (1 to 6).map(i => s"b$i").mkString(" ")
    val core = (1 to 10).map(i => s"w$i").mkString(" ")
    val other = (1 to 10).map(i => s"z$i").mkString(" ")
    val docs = Seq(
      (1L, s"$boiler $core"),
      (2L, s"$boiler $core"),
      (3L, s"$boiler $other"),
      (4L, s"$boiler $other"))
      .toDF("doc_id", "text")
    // uncapped: the shared boilerplate pushes cross-group
    // containment up (4 shared boiler grams / 14 = 0.286) — at
    // minC 0.25 the cross pairs appear
    val un = Dedup.containmentPairs(docs, "doc_id", "text",
      n = 3, minC = 0.25)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(un.exists { case (a, b, _) => (a, b) == (1L, 3L) })
    // maxDf=3 retires every df-4 boilerplate gram from the measure:
    // cross-group pairs vanish ENTIRELY (not just score lower), and
    // same-group pairs score exactly 1.0 over the capped vocabulary
    val capped = Dedup.containmentPairs(docs, "doc_id", "text",
      n = 3, minC = 0.25, maxDf = Some(3))
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(capped == Seq(
      (1L, 2L, 1.0), (2L, 1L, 1.0), (3L, 4L, 1.0), (4L, 3L, 1.0)))
    // a doc that is ONLY boilerplate drops out (no capped set)
    val withPure = docs.union(
      Seq((5L, boiler)).toDF("doc_id", "text"))
    val got5 = Dedup.containmentPairs(withPure, "doc_id", "text",
      n = 3, minC = 0.25, maxDf = Some(3))
      .as[(Long, Long, Double)].collect().toSeq
    assert(!got5.exists { case (a, b, _) => a == 5L || b == 5L })
    intercept[IllegalArgumentException] {
      Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.5,
        maxDf = Some(0))
    }
  }

  test("noveltyByPeriod: first occurrence by (period, id), batches mix") {
    // content A first at (p0, id1), re-crawled p0 (id2) and p1 (id11)
    // content B first at (p1, id10); C only at p2; p3 all re-crawls
    val df = Seq(
      (1L, "A", 0L), (2L, "A", 0L), (3L, "X", 0L),
      (10L, "B", 1L), (11L, "A", 1L),
      (20L, "C", 2L),
      (30L, "A", 3L), (31L, "B", 3L))
      .toDF("id", "text", "p")
    val got = Dedup.noveltyByPeriod(df.repartition(5), "id", "text", "p")
      .orderBy("period")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (0L, 3L, 2L, 1.0 - 2.0 / 3.0), // A, X new; id2 dup
      (1L, 2L, 1L, 0.5),             // B new; A dup
      (2L, 1L, 1L, 0.0),
      (3L, 2L, 0L, 1.0)))            // pure re-crawl batch
    // out-of-order ids across periods: first = min (period, id), so
    // a LATER period with a SMALLER id does not steal novelty
    val tricky = Seq((100L, "Z", 0L), (5L, "Z", 1L))
      .toDF("id", "text", "p")
    val t = Dedup.noveltyByPeriod(tricky, "id", "text", "p")
      .orderBy("period").as[(Long, Long, Long, Double)].collect().toSeq
    assert(t == Seq((0L, 1L, 1L, 0.0), (1L, 1L, 0L, 1.0)))
    val e = intercept[IllegalArgumentException] {
      Dedup.noveltyByPeriod(
        Seq((1L, "A", 1.5)).toDF("id", "text", "p"), "id", "text", "p")
    }
    assert(e.getMessage.contains("integral"))
  }

  test("cdcChunkTable: kernel parity, dup_docs counts docs not chunks") {
    import spark.implicits._
    val t1 = "alpha beta gamma delta epsilon zeta eta theta " * 6
    val t2 = "INSERTED " + t1 // shifted copy
    val df = Seq((1L, t1), (2L, t2), (3L, "short"))
      .toDF("id", "text")
    val out = Dedup.cdcChunkTable(df, "id", "text", window = 8,
      modulus = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getString(4), r.getLong(5)))
      .toMap
    // per-doc rows match the kernel exactly
    for ((id, t) <- Seq(1L -> t1, 2L -> t2, 3L -> "short")) {
      val ks = Kernels.cdcChunks(t, 8, 16)
      val rows = out.filter(_._1._1 == id).toSeq.sortBy(_._1._2)
      assert(rows.length == ks.length, s"doc $id")
      rows.zip(ks).foreach { case (((_, _), (st, ln, h, _)), k) =>
        assert(st == k.start && ln == k.len && h == k.chunkMd5)
      }
    }
    // the shifted copy's later chunks collide: dup_docs == 1 there
    val dup1 = out.filter { case ((id, _), (_, _, _, d)) =>
      id == 1L && d > 0L }
    assert(dup1.nonEmpty)
    dup1.foreach { case (_, (_, _, _, d)) => assert(d == 1L) }
    // the singleton doc shares nothing
    assert(out.filter(_._1._1 == 3L).forall(_._2._4 == 0L))
    // a doc repeating ITS OWN chunk still counts other DOCS only:
    // duplicate the same text under one id twice -> distinct collapses
    val self = Seq((7L, t1 + " " + t1)).toDF("id", "text")
    val selfOut = Dedup.cdcChunkTable(self, "id", "text", 8, 16)
      .collect()
    assert(selfOut.forall(_.getLong(5) == 0L))
  }

  test("contrastivePairs: pos from LSH, deterministic length-matched " +
      "negative skips the anchor's other dups; no-candidate pairs " +
      "emit no negative; loud contracts") {
    import spark.implicits._
    // 1, 2, 5 are mutual near-dups (J >= 0.5 on 3-grams); 3, 4 are
    // unrelated, all in the same <16-token length bucket
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g x"),
      (5L, "a b c d e f g y"),
      (3L, "p q r s t u v w"),
      (4L, "z y x w v u t s")).toDF("doc_id", "text")
    val rows = Dedup.contrastivePairs(docs, "doc_id", "text")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val got = rows.toSet
    // positives: the dup triangle
    assert(got.filter(_._3 == 1L) ==
      Set((1L, 2L, 1L), (1L, 5L, 1L), (2L, 5L, 1L)))
    // negatives: min bucket id that is NOT a near-dup of the anchor
    // (doc 5 / doc 2 / doc 1 are each excluded for their anchors);
    // one negative PER POSITIVE, so (1,3,0) appears twice
    assert(rows.count(_._3 == 0L) == 3)
    assert(got.filter(_._3 == 0L) ==
      Set((1L, 3L, 0L), (2L, 3L, 0L)))
    // only the dup pair in the corpus: positive emitted, no negative
    val bare = Dedup.contrastivePairs(
      docs.filter(col("doc_id").isin(1L, 2L)), "doc_id", "text")
      .collect()
    assert(bare.length == 1 && bare.head.getLong(2) == 1L)
    intercept[IllegalArgumentException] {
      Dedup.contrastivePairs(docs, "doc_id", "text", lenBucket = 0)
    }
    intercept[IllegalArgumentException] {
      Dedup.contrastivePairs(docs, "doc_id", "text",
        maxBucketDocs = 2L)
    }
  }
}
