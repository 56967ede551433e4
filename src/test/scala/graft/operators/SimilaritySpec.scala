package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emb =
    spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")

  test("cosine kernel on hand vectors") {
    val df = Seq(
      (1L, Array(1f, 0f), Array(1f, 0f)),   // parallel -> 1
      (2L, Array(1f, 0f), Array(0f, 1f)),   // orthogonal -> 0
      (3L, Array(1f, 0f), Array(-1f, 0f)),  // opposite -> -1
      (4L, Array(0f, 0f), Array(1f, 1f))    // zero vector -> 0
    ).toDF("id", "a", "b")
    val got = df.select(col("id"),
      Similarity.cosineKernel(col("a"), col("b")).as("c"))
      .orderBy("id").as[(Long, Double)].collect().map(_._2)
    assert(got.toSeq == Seq(1.0, 0.0, -1.0, 0.0))
  }

  test("cosine kernel UDF is null-tolerant like the native expression") {
    // the result on NULL vectors must be NULL, never an NPE-failed job
    val df = Seq(
      (1L, Option(Seq(1f, 0f)), Option(Seq(1f, 0f))),
      (2L, Option.empty[Seq[Float]], Option(Seq(1f, 0f))),
      (3L, Option(Seq(1f, 0f)), Option.empty[Seq[Float]])
    ).toDF("id", "a", "b")
    val got = df.select(col("id"),
      Similarity.cosineKernel(col("a"), col("b")).as("c"))
      .orderBy("id").collect()
    assert(got(0).getDouble(1) == 1.0)
    assert(got(1).isNullAt(1))
    assert(got(2).isNullAt(1))
  }

  test("bruteForceTopK: self excluded, ranks contiguous, scores descend") {
    val q = emb.filter(col("vec_id") < 3)
    val res = Similarity.bruteForceTopK(
      emb, "vec_id", "embedding", q, "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank")
      .select("query_id", "rank", "nn_id", "cos")
      .as[(Long, Long, Long, Double)].collect()
    assert(res.length == 3 * 5)
    res.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._2).toSeq == (1L to 5L))
      assert(g.map(_._4).toSeq == g.map(_._4).toSeq.sorted.reverse)
      g.foreach { case (qid, _, nn, _) => assert(nn != qid) }
    }
  }

  test("annTopK scores are exact where reported; recall is usable") {
    val k = 5
    val brute = Similarity.bruteForceTopK(
      emb, "vec_id", "embedding", emb, "vec_id", "embedding", k)
      .select("query_id", "nn_id", "cos").as[(Long, Long, Double)]
      .collect()
    val bruteTop = brute.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val bruteCos = brute.map { case (q, n, c) => (q, n) -> c }.toMap
    val ann = Similarity.annTopK(
      emb, "vec_id", "embedding", k, tables = 16, bits = 6)
      .select("query_id", "nn_id", "cos").as[(Long, Long, Double)].collect()
    // every reported (q, nn) cosine equals the exact kernel value
    ann.foreach { case (q, n, c) =>
      bruteCos.get((q, n)).foreach(exact => assert(math.abs(exact - c) < 1e-12))
    }
    // recall@k vs brute force: random 64-dim data is ANN-hostile, but
    // 8 tables x 8 bits must still recover a usable fraction
    val annTop = ann.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = bruteTop.map { case (q, t) =>
      annTop.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }
    val mean = recalls.sum / recalls.size
    info(f"mean recall@$k = $mean%.3f over ${recalls.size} queries")
    assert(mean > 0.25, f"mean recall@$k degraded: $mean%.3f")
  }

  test("ivfTopK: exact scores, contiguous ranks, recall beats cell fraction") {
    val k = 5
    val brute = Similarity.bruteForceTopK(
      emb, "vec_id", "embedding", emb, "vec_id", "embedding", k)
      .select("query_id", "nn_id", "cos").as[(Long, Long, Double)]
      .collect()
    val bruteTop = brute.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val bruteCos = brute.map { case (q, n, c) => (q, n) -> c }.toMap
    val ivf = Similarity.ivfTopK(
      emb, "vec_id", "embedding", k, nlist = 16, nprobe = 4)
      .select("query_id", "rank", "nn_id", "cos")
      .as[(Long, Long, Long, Double)].collect()
    ivf.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._2).toSeq.sorted == (1L to g.length))
      g.foreach { case (q, _, nn, _) => assert(nn != q) }
    }
    // reported scores are the exact kernel values
    ivf.foreach { case (q, _, n, c) =>
      bruteCos.get((q, n)).foreach(exact => assert(math.abs(exact - c) < 1e-12))
    }
    val ivfTop = ivf.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val recalls = bruteTop.map { case (q, t) =>
      ivfTop.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }
    val mean = recalls.sum / recalls.size
    info(f"IVF mean recall@$k = $mean%.3f over ${recalls.size} queries")
    // probing 4/16 cells scans ~25% of the corpus; recall must beat
    // that scan fraction by a wide margin for the index to be useful
    assert(mean > 0.4, f"IVF mean recall@$k degraded: $mean%.3f")
  }

  test("ivfTopK is deterministic across invocations") {
    def run() = Similarity.ivfTopK(
      emb, "vec_id", "embedding", k = 3, nlist = 8, nprobe = 2)
      .select("query_id", "rank", "nn_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(run() == run())
  }

  test("topKScored aggregator == window ranking, incl. score ties") {
    import org.apache.spark.sql.expressions.Window
    // ties on cos force the nn_id tiebreak through both paths
    val scored = (0L until 40L).flatMap { q =>
      (0L until 25L).map(n => (q, n, (n % 7).toDouble / 7.0))
    }.toDF("query_id", "nn_id", "cos")
    val viaAgg = Similarity.topKScored(scored, 5)
      .as[(Long, Long, Long, Double)].collect().toSet
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("nn_id"))
    val viaWindow = scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select("query_id", "rank", "nn_id", "cos")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(viaAgg == viaWindow)
    assert(viaAgg.size == 40 * 5)
  }

  test("annCandidates caps degenerate buckets: bounded fan-out, dup mass kept") {
    // 400 identical vectors — the embedding-farm pathology: one LSH
    // bucket holds all of them in every table, C(400,2) pairs from a
    // single task if uncapped
    val farm = (0L until 400L).map(i => (i, Array(1f, 2f, 3f, 4f)))
    val noise = (400L until 420L).map(i =>
      (i, Array(i.toFloat, -1f, i.toFloat % 7, 0.5f)))
    val df = (farm ++ noise).toDF("id", "v")
    val uncapped = Similarity.annCandidates(
      df, "id", "v", tables = 8, bits = 10, dim = 4,
      maxBucketSize = Int.MaxValue)
    val capped = Similarity.annCandidates(
      df, "id", "v", tables = 8, bits = 10, dim = 4, maxBucketSize = 50)
    val uncappedPairs = uncapped.as[(Long, Long)].collect().toSet
    val cappedPairs = capped.as[(Long, Long)].collect().toSet
    // capping only removes pairs, never invents them
    assert(cappedPairs.subsetOf(uncappedPairs))
    // per-TASK fan-out is bounded (each sub-bucket <= ~2*cap, pinned in
    // BucketsSpec); the distinct-pair union shrinks less because the 8
    // tables' independent split boundaries re-find many pairs — exactly
    // the recall-preserving behavior we want. Expected kept fraction
    // ~1-(1-1/8)^8 ≈ 0.66 of C(400,2).
    assert(uncappedPairs.size >= 79800)
    assert(cappedPairs.size < (uncappedPairs.size * 3) / 4)
    // the duplicate mass is still found: most farm members keep at
    // least one candidate partner (pairs survive within sub-buckets,
    // and split boundaries differ per table)
    val farmIdsSeen = cappedPairs.iterator
      .flatMap(p => Seq(p._1, p._2)).filter(_ < 400L).toSet
    assert(farmIdsSeen.size >= 390)
    // observability: the stats probe reports the split
    val stats = Similarity.annBucketStats(
      df, "id", "v", tables = 8, bits = 10, dim = 4, maxBucketSize = 50)
      .collect()
    assert(stats.nonEmpty)
    assert(stats.forall(_.getAs[Long]("bucket_n") > 50L))
  }

  test("annCandidates cap is inert on the fixture corpus (recall unchanged)") {
    val a = Similarity.annCandidates(emb, "vec_id", "embedding")
      .as[(Long, Long)].collect().toSet
    val b = Similarity.annCandidates(emb, "vec_id", "embedding",
      maxBucketSize = Int.MaxValue)
      .as[(Long, Long)].collect().toSet
    assert(a == b)
  }

  test("exactSelfTopK (aggregator ranking) == bruteForceTopK (window ranking)") {
    val a = Similarity.exactSelfTopK(emb, "vec_id", "embedding", k = 7)
      .as[(Long, Long, Long, Double)].collect().toSet
    val b = Similarity.bruteForceTopK(
      emb, "vec_id", "embedding", emb, "vec_id", "embedding", k = 7)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(a.nonEmpty)
    assert(a == b)
  }

  test("exactSelfTopKBlocked == exactSelfTopK bitwise, across block counts") {
    val ref = Similarity.exactSelfTopK(emb, "vec_id", "embedding", k = 7)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(ref.nonEmpty)
    // doubles compared with ==: the blocked kernel's hoisted-norm
    // division must reproduce Kernels.cosine bit-for-bit
    for (blocks <- Seq(1, 3, 16)) {
      val blk = Similarity.exactSelfTopKBlocked(
        emb, "vec_id", "embedding", k = 7, blocks = blocks)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(blk == ref, s"blocked($blocks) diverged from broadcast exact")
    }
  }

  test("annTopKInt8: float-exact final scores, near-total agreement with float ANN") {
    val k = 10
    val int8Res = Similarity.annTopKInt8(emb, "vec_id", "embedding", k)
      .as[(Long, Long, Long, Double)].collect()
    val floatRes = Similarity.annTopK(emb, "vec_id", "embedding", k)
      .as[(Long, Long, Long, Double)].collect()
    assert(int8Res.nonEmpty)
    // final scores are float-exact: spot-check against the kernel
    val vecs = emb.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    int8Res.take(200).foreach { case (q, _, nn, cos) =>
      assert(cos == Kernels.cosineArrays(vecs(q), vecs(nn)))
    }
    // same candidates, so the only divergence is int8 ordering noise
    // truncated at the rerank stage — with rerank=4k it is marginal
    val a = int8Res.map(r => (r._1, r._3)).toSet
    val b = floatRes.map(r => (r._1, r._3)).toSet
    val overlap = a.intersect(b).size.toDouble / math.max(b.size, 1)
    info(f"int8-vs-float ANN pair agreement = $overlap%.4f")
    assert(overlap >= 0.97, f"agreement $overlap%.4f")
  }

  test("annCandidates emits ordered distinct pairs") {
    val cand = Similarity.annCandidates(emb, "vec_id", "embedding",
      tables = 4, bits = 8)
      .as[(Long, Long)].collect()
    assert(cand.distinct.length == cand.length)
    cand.foreach { case (a, b) => assert(a < b) }
  }

  test("ivfIndex/ivfProbe: parquet round-trip identical, recall above floor") {
    import org.apache.spark.sql.functions.col
    val corpus = emb.filter(col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") % 2 === 1)
    val (assignments, centroids) = Similarity.ivfIndex(
      corpus, "vec_id", "embedding", nlist = 16)
    def run(a: org.apache.spark.sql.DataFrame,
        c: org.apache.spark.sql.DataFrame) =
      Similarity.ivfProbe(batch, "vec_id", "embedding", a, c,
        k = 10, nprobe = 4)
        .as[(Long, Long, Long, Double)].collect().toSet
    val direct = run(assignments, centroids)
    assert(direct.nonEmpty)
    // the index is parquet-shaped: write both halves, read back, probe
    // — identical results (the deployment path)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_").toString
    assignments.write.parquet(s"$dir/assignments")
    centroids.write.parquet(s"$dir/centroids")
    val viaDisk = run(
      spark.read.parquet(s"$dir/assignments"),
      spark.read.parquet(s"$dir/centroids"))
    assert(viaDisk == direct)
    // cross-corpus: results only ever name indexed (even) vectors, and
    // recall vs brute force clears the ANN floor
    direct.foreach { case (q, _, nn, _) =>
      assert(q % 2 == 1 && nn % 2 == 0)
    }
    val exact = Similarity.bruteForceTopK(
      corpus, "vec_id", "embedding", batch, "vec_id", "embedding", 10)
      .select("query_id", "nn_id").as[(Long, Long)].collect().toSet
    val approx = direct.map(r => (r._1, r._3))
    val recall = exact.intersect(approx).size.toDouble / exact.size
    info(f"ivfProbe cross-corpus recall@10 = $recall%.3f")
    assert(recall >= 0.30, f"recall $recall%.3f")
  }

  test("groupCentroids: hand means, ordered-fold determinism under repartition") {
    import org.apache.spark.sql.functions.col
    val fx = Seq(
      (1L, "g1", Array(1.0f, 0.0f)), (2L, "g1", Array(3.0f, 2.0f)),
      (3L, "g2", Array(-2.0f, 4.0f))
    ).toDF("id", "grp", "v")
    val got = Similarity.groupCentroids(fx, "grp", "id", "v")
      .orderBy("group", "dim")
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("g1", 2L, 1L, 2.0), ("g1", 2L, 2L, 1.0),
      ("g2", 1L, 1L, -2.0), ("g2", 1L, 2L, 4.0)))
    // the fold order is pinned by id, not partitioning: bitwise equal
    // on the fixture embeddings however the input is repartitioned
    val a = Similarity.groupCentroids(emb, "label", "vec_id", "embedding")
      .as[(Int, Long, Long, Double)].collect().toSet
    val b = Similarity.groupCentroids(
      emb.repartition(17), "label", "vec_id", "embedding")
      .as[(Int, Long, Long, Double)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("groupCentroids: planted oversized group fails loudly, not silently") {
    val fx = ((1L to 50L).map(i => (i, "big", Array(1.0f, 2.0f))) ++
      Seq((100L, "ok", Array(0.5f, 0.5f)))).toDF("id", "grp", "v")
    val e = intercept[IllegalArgumentException] {
      Similarity.groupCentroids(fx, "grp", "id", "v", maxGroupSize = 10L)
    }
    assert(e.getMessage.contains("maxGroupSize") && e.getMessage.contains("big"))
    // at or under the bound the exact fold still runs
    assert(Similarity.groupCentroids(fx, "grp", "id", "v", maxGroupSize = 50L)
      .count() == 2 * 2) // 2 groups x 2 dims
  }

  test("groupCentroidsTwoPhase: matches the exact fold within its emitted bound") {
    val rnd = new scala.util.Random(7)
    val rows = (1L to 400L).map { i =>
      (i, s"g${i % 7}",
        Array.fill(16)(((rnd.nextDouble() * 2 - 1) * 10).toFloat))
    }
    // adversarial partitioning: groups scattered across 13 partitions,
    // so phase 1 genuinely produces many partials per group
    val fx = rows.toDF("id", "grp", "v").repartition(13)
    val exact = Similarity.groupCentroids(fx, "grp", "id", "v")
      .as[(String, Long, Long, Double)].collect()
      .map(r => (r._1, r._3) -> (r._2, r._4)).toMap
    val two = Similarity.groupCentroidsTwoPhase(fx, "grp", "id", "v")
      .as[(String, Long, Long, Double, Double)].collect()
    assert(two.length == exact.size && two.nonEmpty)
    two.foreach { case (g, n, d, c, bound) =>
      val (en, ec) = exact((g, d))
      assert(n == en, s"count mismatch for ($g,$d)")
      assert(math.abs(c - ec) <= bound,
        s"($g,$d): |$c - $ec| = ${math.abs(c - ec)} > bound $bound")
      assert(bound > 0.0 && bound < 1e-9,
        s"bound $bound not in the negligible range expected at this scale")
    }
    // the gate fires when the tolerance is impossible — wiring check
    val e = intercept[IllegalArgumentException] {
      Similarity.groupCentroidsTwoPhase(fx, "grp", "id", "v",
        maxAbsError = 1e-30)
    }
    assert(e.getMessage.contains("maxAbsError"))
    // the phase-1 in-heap buffer is bounded LOUDLY: an oversized input
    // partition fails with an actionable message, never a silent OOM
    val oom = intercept[org.apache.spark.SparkException] {
      Similarity.groupCentroidsTwoPhase(fx.coalesce(1), "grp", "id", "v",
        maxPartitionRows = 100L).count()
    }
    assert(oom.getMessage.contains("maxPartitionRows"))
    // at or over the partition size the fold still runs
    assert(Similarity.groupCentroidsTwoPhase(fx.coalesce(1), "grp", "id",
      "v", maxPartitionRows = 400L).count() == 7 * 16)
  }

  test("groupCentroids / twoPhase: null vectors excluded explicitly, not an NPE") {
    val fx = Seq(
      (1L, "g", Option(Seq(2.0f, 4.0f))),
      (2L, "g", Option.empty[Seq[Float]]), // must not poison the fold
      (3L, "g", Option(Seq(4.0f, 0.0f))),
      (4L, "allnull", Option.empty[Seq[Float]])
    ).toDF("id", "grp", "v")
    val exact = Similarity.groupCentroids(fx, "grp", "id", "v")
      .as[(String, Long, Long, Double)].collect().toSet
    // n counts only non-null vectors; the all-null group vanishes
    assert(exact == Set(("g", 2L, 1L, 3.0), ("g", 2L, 2L, 2.0)))
    val two = Similarity.groupCentroidsTwoPhase(fx, "grp", "id", "v")
      .as[(String, Long, Long, Double, Double)].collect()
    assert(two.map(t => (t._1, t._2, t._3, t._4)).toSet ==
      Set(("g", 2L, 1L, 3.0), ("g", 2L, 2L, 2.0)))
  }

  test("compactIndex over an IVF lineage (v, cell): LWW + tombstones == fresh rebuild from the surviving latest rows") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
      .select("vec_id", "embedding")
    val (assign0, cents) = Similarity.ivfIndex(
      e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", nlist = 8)
    val delta1 = Similarity.ivfAssign(
      e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", cents)
    val reEmbedded = e.filter(col("vec_id") % 8 === 0)
      .select(col("vec_id"),
        transform(col("embedding"), x => (-x).cast("float")).as("embedding"))
    val delta2 = Similarity.ivfAssign(reEmbedded, "vec_id", "embedding", cents)
    val tombs = e.filter(col("vec_id") % 10 === 0).select("vec_id")
    val compacted = Dedup.compactIndex(
      Seq(assign0, delta1, delta2), Some(tombs), "vec_id", Seq("v", "cell"))
    // the fresh rebuild: assign the surviving LATEST rows directly
    val survivingLatest = e.filter(col("vec_id") % 10 =!= 0)
      .select(col("vec_id"),
        when(col("vec_id") % 8 === 0,
          transform(col("embedding"), x => (-x).cast("float")))
          .otherwise(col("embedding")).as("embedding"))
    val fresh = Similarity.ivfAssign(
      survivingLatest, "vec_id", "embedding", cents)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("v"), col("cell"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
        .toSet
    val c = key(compacted)
    assert(c == key(fresh), "compacted index != fresh rebuild")
    // LWW genuinely kept the re-embedded rows, tombstones the removals
    assert(!c.exists(_._1 % 10 == 0), "tombstoned id survived")
    val re = c.filter(t => t._1 % 8 == 0)
    assert(re.nonEmpty && re.forall(_._2.exists(_ != 0.0f)))
    // compaction is idempotent: compacting the compacted index alone
    // changes nothing
    assert(key(Dedup.compactIndex(Seq(compacted),
      valueCols = Seq("v", "cell"))) == c)
    // the q274 probe-after-delete contract: a probe over the
    // compacted index never returns a tombstoned neighbor — even for
    // a deleted user's own query vector
    val post = Similarity.ivfProbe(
      e, "vec_id", "embedding", compacted, cents, k = 10, nprobe = 8)
    assert(post.filter(col("nn_id") % 10 === 0).isEmpty,
      "post-delete IVF probe returned a tombstoned vec_id")
  }

  test("listInvalidation: deleted query drops its list; neighbor loss " +
      "needs a re-score; untouched queries and unknown tombstones are " +
      "absent no-ops") {
    import spark.implicits._
    val lists = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L),  // loses nn 4 -> rescore
      (2L, 1L), (2L, 3L), (2L, 4L), (2L, 5L),  // loses nn 4 -> rescore
      (4L, 1L), (4L, 2L),                      // deleted query
      (7L, 1L), (7L, 2L),                      // untouched
      (9L, 2L), (9L, 4L), (9L, 6L), (9L, 8L)   // deleted AND lost a nn
    ).toDF("query_id", "nn_id")
    val tomb = Seq(9L, 4L, 99L).toDF("id") // 99: unknown, a no-op
    val got = Similarity.listInvalidation(lists, tomb)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 0L, 4L, 1L, 3L, 1L),
      (2L, 0L, 4L, 1L, 3L, 1L),
      // a deleted query reports k_after 0 and NO rescore — its list
      // is gone, not under-full (even when it also lost neighbors)
      (4L, 1L, 2L, 0L, 0L, 0L),
      (9L, 1L, 4L, 1L, 0L, 0L)))
    assert(!got.exists(_._1 == 7L), "untouched query leaked a row")
  }

  test("listRepair: with every cell probed the healed state equals the " +
      "one-shot exact dual k-NN on the survivor corpus bitwise; no-ghost " +
      "everywhere; untouched lists pass through verbatim; a ghost-bearing " +
      "index fails loudly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
      .select("vec_id", "embedding")
    val a = e.filter($"vec_id" % 2 === 0)
    val b = e.filter($"vec_id" % 2 =!= 0)
    val lists = Similarity.bruteForceTopK(
        b, "vec_id", "embedding", a, "vec_id", "embedding", k = 4)
      .unionByName(Similarity.bruteForceTopK(
        a, "vec_id", "embedding", b, "vec_id", "embedding", k = 4))
      .persist()
    val tomb = e.select($"vec_id").filter($"vec_id" % 97 === 0)
    val survivors = e.filter($"vec_id" % 97 =!= 0)
    val (assign, cents) = Similarity.ivfIndex(
      survivors, "vec_id", "embedding", nlist = 4, sampleSize = 256)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "nn_id", "cos")
        .as[(Long, Long, Long, Double)].collect().sorted.toSeq
    // nprobe >= nlist: the candidate set is every cross-parity
    // survivor, so repair degenerates to exact — and untouched lists
    // were already exact on the survivors (removing non-members
    // cannot change a top-k), so the WHOLE healed state must equal
    // the fresh dual k-NN over the survivor corpus bitwise
    val healed = rows(Similarity.listRepair(
      lists, e, "vec_id", "embedding", tomb, "vec_id", assign, cents,
      k = 4, nprobe = 4,
      candidateFilter = (col("query_id") % 2) =!= (col("nn_id") % 2)))
    val sa = survivors.filter($"vec_id" % 2 === 0)
    val sb = survivors.filter($"vec_id" % 2 =!= 0)
    val fresh = rows(Similarity.bruteForceTopK(
        sb, "vec_id", "embedding", sa, "vec_id", "embedding", k = 4)
      .unionByName(Similarity.bruteForceTopK(
        sa, "vec_id", "embedding", sb, "vec_id", "embedding", k = 4)))
    assert(healed.nonEmpty)
    assert(healed == fresh,
      "healed state diverged from the fresh exact dual k-NN on survivors")
    // no-ghost: neither a deleted query nor a deleted neighbor appears
    assert(!healed.exists(r => r._1 % 97 == 0 || r._3 % 97 == 0))
    // untouched lists passed through VERBATIM (bitwise row equality
    // against the pre-delete state for queries outside the radius)
    val touched = Similarity.listInvalidation(lists, tomb, "vec_id")
      .select("query_id").as[Long].collect().toSet
    val before = rows(lists).filterNot(r => touched(r._1))
    assert(before.nonEmpty &&
      healed.filterNot(r => touched(r._1)) == before)
    // a ghost-bearing index (forgot to compact) fails loudly, BEFORE
    // any healed rows exist
    val (badAssign, badCents) = Similarity.ivfIndex(
      e, "vec_id", "embedding", nlist = 4, sampleSize = 256)
    val err = intercept[IllegalArgumentException] {
      Similarity.listRepair(lists, e, "vec_id", "embedding", tomb,
        "vec_id", badAssign, badCents, k = 4, nprobe = 4)
    }
    assert(err.getMessage.contains("compact the index first"))
    lists.unpersist(blocking = false)
  }

  test("ivfStalenessGate: fresh index passes; a planted centroid/corpus mismatch fails loudly") {
    import org.apache.spark.sql.functions._
    // sf0.01 (2000 vectors): 200 sampled queries — enough statistics
    // that the fresh/stale gap is structural, not noise. nprobe=1 is
    // the sharpest contrast: fresh probes each query's own cell
    // (where its neighbors cluster); stale probes the most-OPPOSITE
    // cell (negated centroids), where they almost never are.
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select("vec_id", "embedding")
    val (assignments, cents) = Similarity.ivfIndex(
      e, "vec_id", "embedding", nlist = 16)
    val (recall, exact) = Similarity.ivfStalenessGate(
      assignments, cents, k = 5, nprobe = 1, floor = 0.2)
    assert(recall >= 0.2 && exact.count() > 0)
    val stale = cents.select(col("cell"),
      transform(col("centroid"), x => (-x).cast("float")).as("centroid"))
    val err = intercept[IllegalArgumentException] {
      Similarity.ivfStalenessGate(assignments, stale, k = 5, nprobe = 1,
        floor = 0.2)
    }
    assert(err.getMessage.contains("recall"))
  }

  test("ivfProbeInt8: exhaustive rerank == float probe bitwise; default rerank recall holds") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
      .select("vec_id", "embedding")
    val corpus = e.filter(col("vec_id") % 2 === 0)
    val batch = e.filter(col("vec_id") % 2 === 1)
    val (assignments, cents) = Similarity.ivfIndex(
      corpus, "vec_id", "embedding", nlist = 8)
    val float = Similarity.ivfProbe(
      batch, "vec_id", "embedding", assignments, cents, k = 5, nprobe = 4)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    // with the rerank bound above the candidate count, stage 1 keeps
    // every candidate and stage 2's float ranking IS the float probe
    val exhaustive = Similarity.ivfProbeInt8(
      batch, "vec_id", "embedding", assignments, cents, k = 5,
      nprobe = 4, rerank = 1000000)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(exhaustive == float,
      "exhaustive-rerank int8 probe must equal the float probe bitwise")
    // default rerank (4k): the int8 coarse pass may only reorder the
    // shortlist tail — pair recall vs the float probe stays high
    val deflt = Similarity.ivfProbeInt8(
      batch, "vec_id", "embedding", assignments, cents, k = 5, nprobe = 4)
    val agree = graft.operators.Gates.pairRecall(
      deflt, Similarity.ivfProbe(
        batch, "vec_id", "embedding", assignments, cents, k = 5, nprobe = 4))
    assert(agree >= 0.95, f"int8-vs-float probe agreement $agree%.3f < 0.95")
  }

  test("round-6 IVF lifecycle edges: empty deltas, empty gate sample, bad centroid tables") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
      .select("vec_id", "embedding")
    val (assignments, cents) = Similarity.ivfIndex(
      e, "vec_id", "embedding", nlist = 8)
    // compaction refuses an empty lineage loudly
    val none = intercept[IllegalArgumentException] {
      Dedup.compactIndex(Seq.empty, valueCols = Seq("v", "cell"))
    }
    assert(none.getMessage.contains("at least one delta"))
    // a gate over a residue with no ids passes vacuously (recall 1.0),
    // it does not divide by zero or throw
    val (vacuous, exact) = Similarity.ivfStalenessGate(
      assignments, cents, k = 3, nprobe = 2,
      sampleMod = 1000000L, sampleResidue = 999999L)
    assert(vacuous == 1.0 && exact.count() == 0)
    // a centroid table with holes (not a graft ivfIndex product) is
    // rejected loudly, never silently probed around
    val wrong = intercept[IllegalArgumentException] {
      Similarity.ivfAssign(e, "vec_id", "embedding",
        cents.filter(col("cell") % 2 === 0))
    }
    assert(wrong.getMessage.contains("gaps"))
  }

  test("centroidOutliers: a planted anti-centroid vector surfaces first") {
    import org.apache.spark.sql.functions.col
    // group of near-identical vectors + one pointing the opposite way
    val members = (1L to 9L).map(i => (i, "g", Array(1.0f, 0.1f * i)))
    val outlier = (100L, "g", Array(-1.0f, -0.5f))
    val fx = (members :+ outlier).toDF("id", "grp", "v")
    val worst = Similarity.centroidOutliers(fx, "grp", "id", "v", k = 1)
      .as[(Long, String, Double)].collect()
    assert(worst.length == 1)
    assert(worst.head._1 == 100L, s"got ${worst.head}")
    assert(worst.head._3 < 0.0) // genuinely anti-aligned, not just low
  }

  test("ivfTopKProjected: exact final scores, high recall on clustered data") {
    // 4 tight clusters in 32 dims: the projected coarse stage must
    // keep same-cluster neighbors, the float rerank must emit EXACT
    // raw-space cosines (bitwise vs the exact reference)
    val rnd = new scala.util.Random(5)
    val vecs = (0 until 120).map { i =>
      val v = new Array[Float](32)
      val c = i % 4
      (0 until 8).foreach(j => v(8 * c + j) = 1f + rnd.nextFloat() * 0.1f)
      v(i % 32) += rnd.nextFloat() * 0.05f
      (i.toLong, v)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.ivfTopKProjected(
      df, "vec_id", "embedding", k = 3, inDim = 32, projDim = 8,
      nlist = 8, nprobe = 4)
      .as[(Long, Long, Long, Double)].collect()
    val exact = Similarity.exactSelfTopK(df, "vec_id", "embedding", k = 3)
      .as[(Long, Long, Long, Double)].collect()
    val exactByQ = exact.groupBy(_._1)
    // exact scores: every emitted (query, nn) pair's cosine must equal
    // the raw-space cosine the exact path computed for that pair
    val exactScore = exact.map(r => (r._1, r._3) -> r._4).toMap
    got.foreach { case (q, _, nn, cos) =>
      exactScore.get((q, nn)).foreach(e => assert(e == cos, s"($q,$nn)"))
    }
    // recall@3 on clustered data should be near-perfect
    val gotByQ = got.groupBy(_._1)
    val hits = exactByQ.map { case (q, ex) =>
      val g = gotByQ.getOrElse(q, Array.empty).map(_._3).toSet
      ex.map(_._3).count(g.contains)
    }.sum
    val recall = hits.toDouble / exact.length
    assert(recall > 0.9, s"clustered recall@3 = $recall")
  }

  test("ivfTopKProjected on the fixture corpus: sane schema, k rows per query") {
    val got = Similarity.ivfTopKProjected(
      emb, "vec_id", "embedding", k = 5, inDim = 64, projDim = 16)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.nonEmpty)
    got.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.length <= 5)
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length).toSeq, s"q=$q")
    }
  }

  test("kmeansLloyd: separated blobs recovered, ties, determinism") {
    import spark.implicits._
    // two tight blobs far apart; seeds (ids 0 and 1) land one in each
    val blobA = Seq(0L -> Seq(0f, 0f), 2L -> Seq(1f, 0f),
      4L -> Seq(0f, 1f), 6L -> Seq(1f, 1f))
    val blobB = Seq(1L -> Seq(100f, 100f), 3L -> Seq(101f, 100f),
      5L -> Seq(100f, 101f), 7L -> Seq(101f, 101f))
    val df = (blobA ++ blobB).toDF("vec_id", "embedding")
    val out = Similarity.kmeansLloyd(df, "vec_id", "embedding",
      k = 2, iters = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    blobA.foreach { case (id, _) => assert(out(id) == ((0L, 4L))) }
    blobB.foreach { case (id, _) => assert(out(id) == ((1L, 4L))) }
    // equidistant point: tiebreak to the smaller cluster id
    val tie = Seq(0L -> Seq(0f), 1L -> Seq(10f), 2L -> Seq(5f))
      .toDF("vec_id", "embedding")
    val t = Similarity.kmeansLloyd(tie, "vec_id", "embedding",
      k = 2, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(t(2L) == 0L)
    // bitwise deterministic under repartitioning (ordered folds)
    val a = Similarity.kmeansLloyd(df, "vec_id", "embedding", 2, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val b = Similarity.kmeansLloyd(df.repartition(7), "vec_id",
      "embedding", 2, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(a == b)
    intercept[IllegalArgumentException] {
      Similarity.kmeansLloyd(df, "vec_id", "embedding", 1, 2)
    }
    intercept[IllegalArgumentException] {
      Similarity.kmeansLloyd(df, "vec_id", "embedding", 2, 0)
    }
  }

  test("daviesBouldin: hand geometry, coincident centroids excluded") {
    import spark.implicits._
    // A: (0,0),(2,0) -> centroid (1,0), scatter 1
    // B: (10,0),(10,2) -> centroid (10,1), scatter 1
    // C: (1,1),(1,-1) -> centroid (1,0) == A's -> M(A,C)=0 excluded
    val df = Seq(
      (1L, "A", Seq(0f, 0f)), (2L, "A", Seq(2f, 0f)),
      (3L, "B", Seq(10f, 0f)), (4L, "B", Seq(10f, 2f)),
      (5L, "C", Seq(1f, 1f)), (6L, "C", Seq(1f, -1f)))
      .toDF("vec_id", "label", "embedding")
    val out = Similarity.daviesBouldin(df, "label", "vec_id", "embedding")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val mAB = math.sqrt(81.0 + 1.0)
    assert(out("A")._1 == 2L && out("A")._2 == 1.0)
    assert(out("B")._2 == 1.0 && out("C")._2 == 1.0)
    // A's only valid partner is B (C's centroid coincides);
    // B sees A and C at the same distance, ratio (1+1)/sqrt(82)
    assert(math.abs(out("A")._3 - 2.0 / mAB) < 1e-12)
    assert(math.abs(out("B")._3 - 2.0 / mAB) < 1e-12)
    assert(math.abs(out("C")._3 - 2.0 / mAB) < 1e-12)
    // well-separated clusters score lower than collapsed ones:
    // move B next to A and its component must grow
    val collapsed = Seq(
      (1L, "A", Seq(0f, 0f)), (2L, "A", Seq(2f, 0f)),
      (3L, "B", Seq(3f, 0f)), (4L, "B", Seq(3f, 2f)))
      .toDF("vec_id", "label", "embedding")
    val c = Similarity.daviesBouldin(
      collapsed, "label", "vec_id", "embedding")
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(c("A") > out("A")._3)
    // partitioning invariance (bitwise: ordered folds end to end)
    val re = Similarity.daviesBouldin(
      df.repartition(7), "label", "vec_id", "embedding")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(re == out)
  }

  test("centroidDrift: identical -> (1, 0), orthogonal hand case, " +
      "one-sided groups dropped, dim mismatch loud") {
    import spark.implicits._
    val snap = Seq(
      (1L, "A", Seq(1f, 0f)), (2L, "A", Seq(0f, 1f)),
      (3L, "B", Seq(2f, 2f)))
      .toDF("vec_id", "label", "embedding")
    val same = Similarity.centroidDrift(snap, snap,
      "label", "vec_id", "embedding")
      .collect().map(r => r.getString(0) ->
        (r.getDouble(3), r.getDouble(4))).toMap
    assert(same("A") == ((1.0, 0.0)) && same("B") == ((1.0, 0.0)))
    // orthogonal centroids: ref A -> (1,0), cur A -> (0,1)
    val ref = Seq((1L, "A", Seq(1f, 0f)), (9L, "C", Seq(1f, 1f)))
      .toDF("vec_id", "label", "embedding")
    val cur = Seq((2L, "A", Seq(0f, 1f)), (8L, "D", Seq(1f, 1f)))
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.centroidDrift(ref, cur,
      "label", "vec_id", "embedding")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    // C (ref-only) and D (cur-only) drop — no drift to measure
    assert(got.keySet == Set("A"))
    assert(got("A")._1 == 1L && got("A")._2 == 1L)
    assert(got("A")._3 == 0.0)
    assert(math.abs(got("A")._4 -
      math.floor(math.sqrt(2.0) * 1e6 + 0.5) / 1e6) < 1e-9)
    // mismatched dimensionalities are corruption, not drift
    val threeD = Seq((5L, "A", Seq(1f, 0f, 0f)))
      .toDF("vec_id", "label", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.centroidDrift(ref, threeD,
        "label", "vec_id", "embedding")
    }
    assert(e.getMessage.contains("dim"))
  }

  test("daviesBouldin: the SCATTER path's group bound is direct — " +
      "an oversized group fails loudly naming this operator") {
    import spark.implicits._
    val df = Seq(
      (1L, "A", Seq(0f, 0f)), (2L, "A", Seq(2f, 0f)),
      (3L, "A", Seq(4f, 0f)),
      (4L, "B", Seq(10f, 0f)), (5L, "B", Seq(10f, 2f)))
      .toDF("vec_id", "label", "embedding")
    val ex = intercept[IllegalArgumentException] {
      Similarity.daviesBouldin(df, "label", "vec_id", "embedding",
        maxGroupSize = 2L)
    }
    // the failure must come from daviesBouldin's own guard, not
    // transitively from groupCentroids — plan reordering or a
    // centroid-source swap must not be able to unguard the scatter
    assert(ex.getMessage.contains("daviesBouldin"))
    assert(ex.getMessage.contains("scatter"))
  }

  test("dimDrift: hand means/vars/effect, planted per-dim shift, " +
      "one-sided drop, dim mismatch loud") {
    // group g, dim1: ref {1,3} (mean 2, var 1) vs cur {5,7}
    // (mean 6, var 1): effect = 4/1 = 4. dim2 constant both sides:
    // var 0 -> effect null.
    val ref = Seq((0L, "g", Array(1f, 9f)), (1L, "g", Array(3f, 9f)),
      (2L, "only_ref", Array(1f, 1f)))
      .toDF("vec_id", "label", "embedding")
    val cur = Seq((0L, "g", Array(5f, 9f)), (1L, "g", Array(7f, 9f)))
      .toDF("vec_id", "label", "embedding")
    val got = Similarity.dimDrift(ref, cur, "label", "vec_id",
      "embedding")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(4), r.getDouble(5), r.getDouble(6),
          r.getDouble(7),
          if (r.isNullAt(8)) None else Some(r.getDouble(8)))).toMap
    assert(got.keySet == Set(("g", 1L), ("g", 2L))) // one-sided drops
    assert(got(("g", 1L)) == ((2.0, 6.0, 1.0, 1.0, Some(4.0))))
    assert(got(("g", 2L)) == ((9.0, 9.0, 0.0, 0.0, None)))
    intercept[IllegalArgumentException] {
      Similarity.dimDrift(ref,
        Seq((0L, "g", Array(1f, 2f, 3f)))
          .toDF("vec_id", "label", "embedding"),
        "label", "vec_id", "embedding")
    }
    intercept[IllegalArgumentException] {
      Similarity.dimDrift(ref, cur, "label", "vec_id", "embedding",
        maxGroupSize = 1L)
    }
  }

  test("semanticDedupPairs: within-cluster only — a perfect cross-cell " +
      "pair is the documented miss; identical copy lands in-cell; loud") {
    // one direction, two magnitudes: cells split by L2, so (0,1)
    // has cosine 1.0 with id 1 yet sits in the other cell
    val vecs = Seq(
      (0L, Array(0f, 1f)), (1L, Array(0f, 200f)),
      (2L, Array(0f, 1.01f)), (3L, Array(0f, 199f)),
      (4L, Array(0f, 1f))) // identical to id 0
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.semanticDedupPairs(
      df, "vec_id", "embedding", k = 2, iters = 2, minCos = 0.9)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    // cell A = {0, 2, 4}, cell B = {1, 3}
    assert(got.keySet ==
      Set((0L, 2L), (0L, 4L), (2L, 4L), (1L, 3L)))
    assert(got((0L, 4L)) == 1.0) // identical vectors: exactly 1
    assert(got.values.forall(_ > 0.999))
    // every cross-cell pair is absent even at cosine ~1.0
    assert(!got.contains((0L, 1L)) && !got.contains((0L, 3L)))
    // collapsed clustering fails loudly at the pair stage
    intercept[IllegalArgumentException] {
      Similarity.semanticDedupPairs(df, "vec_id", "embedding",
        k = 2, iters = 2, minCos = 0.9, maxClusterSize = 2L)
    }
    intercept[IllegalArgumentException] {
      Similarity.semanticDedupPairs(df, "vec_id", "embedding",
        k = 2, minCos = 0.0)
    }
    // DERIVED pair budget: cells {0,2,4} and {1,3} → C(3,2)+C(2,2)
    // = 4 in-cell pairs; every cell passes maxClusterSize yet the
    // Σ m·(m−1)/2 budget still fails loudly at 3 and passes at 4
    val eBudget = intercept[IllegalArgumentException] {
      Similarity.semanticDedupPairs(df, "vec_id", "embedding",
        k = 2, iters = 2, minCos = 0.9, maxPairs = 3L)
    }
    assert(eBudget.getMessage.contains("4 in-cell pairs") &&
      eBudget.getMessage.contains("maxPairs=3"))
    assert(Similarity.semanticDedupPairs(df, "vec_id", "embedding",
      k = 2, iters = 2, minCos = 0.9, maxPairs = 4L).count() == 4L)
  }

  test("principalComponent: exact hand geometry — axis, diagonal, " +
      "rank-1 plant — and ev_share") {
    // all variance on dim 1: eigenvector (1, 0), share 1
    val axis = Seq(Array(1f, 0f), Array(-1f, 0f), Array(2f, 0f),
      Array(-2f, 0f)).map(Tuple1(_)).toDF("embedding")
    val a = Similarity.principalComponent(axis, "embedding")
      .orderBy("dim").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(a.toSeq == Seq((1L, 1.0, 1.0), (2L, 0.0, 1.0)))
    // perfectly correlated diagonal: (1, 1)/sqrt(2)
    val diag = Seq(Array(1f, 1f), Array(-1f, -1f), Array(2f, 2f),
      Array(-2f, -2f)).map(Tuple1(_)).toDF("embedding")
    val b = Similarity.principalComponent(diag, "embedding")
      .orderBy("dim").collect()
      .map(r => (r.getDouble(1), r.getDouble(2)))
    assert(b.toSeq == Seq((0.707107, 1.0), (0.707107, 1.0)))
    // rank-1 plant along (1,2,2)/3: exact thirds at 6 decimals
    val plant = Seq(3f, -3f, 6f, -6f)
      .map(t => Tuple1(Array(t, 2 * t, 2 * t))).toDF("embedding")
    val c = Similarity.principalComponent(plant, "embedding")
      .orderBy("dim").collect()
      .map(r => (r.getDouble(1), r.getDouble(2)))
    assert(c.toSeq ==
      Seq((0.333333, 1.0), (0.666667, 1.0), (0.666667, 1.0)))
  }

  test("principalComponent: loud on annihilation, zero variance, " +
      "ragged dims, oversized dim, tiny corpus") {
    // start vector (1,1) is orthogonal to the only eigen direction
    // (1,-1): the iterate annihilates and must fail loudly
    val anti = Seq(Array(1f, -1f), Array(-1f, 1f), Array(2f, -2f),
      Array(-2f, 2f)).map(Tuple1(_)).toDF("embedding")
    val e1 = intercept[Exception] {
      Similarity.principalComponent(anti, "embedding").collect()
    }
    assert(e1.getMessage.contains("annihilated"))
    // zero-variance corpus: C = 0, same loud path
    val const = Seq(Array(1f, 2f), Array(1f, 2f), Array(1f, 2f))
      .map(Tuple1(_)).toDF("embedding")
    val e2 = intercept[Exception] {
      Similarity.principalComponent(const, "embedding").collect()
    }
    assert(e2.getMessage.contains("annihilated"))
    intercept[IllegalArgumentException] { // ragged dimensions
      Similarity.principalComponent(
        Seq(Array(1f, 2f), Array(1f, 2f, 3f)).map(Tuple1(_))
          .toDF("embedding"), "embedding")
    }
    intercept[IllegalArgumentException] { // d > maxDim
      Similarity.principalComponent(
        Seq(Array.fill(8)(1f), Array.fill(8)(2f)).map(Tuple1(_))
          .toDF("embedding"), "embedding", maxDim = 4)
    }
    intercept[IllegalArgumentException] { // n < 2 after null drop
      Similarity.principalComponent(
        Seq(Option(Array(1f, 2f)), Option.empty[Array[Float]])
          .map(Tuple1(_)).toDF("embedding"), "embedding")
    }
    // r14: the moment products run in LONG arithmetic guarded by the
    // per-row magnitude check — a component whose quantization
    // exceeds floor(sqrt(2^63-1)) must raise loudly, never wrap
    val huge = Seq(Array(1e13f, 0f), Array(-1e13f, 1f),
      Array(2e13f, 2f)).map(Tuple1(_)).toDF("embedding")
    val e3 = intercept[Exception] {
      Similarity.principalComponent(huge, "embedding").collect()
    }
    assert(e3.getMessage.contains("would wrap"))
  }

  test("principalComponent: the per-cell long fast path escalates to " +
      "BigInteger on overflow and stays exact (r14 moment fold)") {
    // x = 2.8125 = 45/16 is dyadic, so at bits=30 the quantization is
    // exact: q = 45 * 2^26 = 3019898880 <= qLim, and q² ≈ 9.12e18 is
    // just under Long.Max — TWO rows overflow the (0,0) cell's
    // running long sum, forcing the escalation path. The covariance
    // is exactly [[0, 0], [0, 16q²]] (dim 1 constant, dim 2 split
    // ±x), so the eigenvector is (0, 1) with the whole variance:
    // any wrap (silent or mis-escalated) destroys these exact values.
    val x = 2.8125f
    // coalesce(1): all four rows MUST share a partition or each
    // task's running sum stays under Long.Max and only the (always
    // exact) driver-side BigInteger combine is exercised
    val of = Seq(Array(x, x), Array(x, x), Array(x, -x), Array(x, -x))
      .map(Tuple1(_)).toDF("embedding").coalesce(1)
    val r = Similarity.principalComponent(of, "embedding", bits = 30)
      .orderBy("dim").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(r.toSeq == Seq((1L, 0.0, 1.0), (2L, 1.0, 1.0)))
  }

  test("queryPred prunes construction but passing queries' lists stay " +
      "bitwise identical, for all four ANN paths (r14: the recall " +
      "gates stop building lists they discard)") {
    val pred: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => c % 10 === 0
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("query_id") % 10 === 0)
      .select("query_id", "rank", "nn_id", "cos").collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    def check(full: org.apache.spark.sql.DataFrame,
        pruned: org.apache.spark.sql.DataFrame, what: String): Unit = {
      val f = rows(full)
      assert(f.nonEmpty, s"$what: empty sampled reference")
      assert(rows(pruned) == f, s"$what: pruned lists differ")
    }
    check(
      Similarity.annTopK(emb, "vec_id", "embedding", k = 5,
        tables = 16, bits = 6),
      Similarity.annTopK(emb, "vec_id", "embedding", k = 5,
        tables = 16, bits = 6, queryPred = Some(pred)),
      "annTopK")
    check(
      Similarity.annTopKInt8(emb, "vec_id", "embedding", k = 5,
        tables = 16, bits = 6),
      Similarity.annTopKInt8(emb, "vec_id", "embedding", k = 5,
        tables = 16, bits = 6, queryPred = Some(pred)),
      "annTopKInt8")
    check(
      Similarity.ivfTopK(emb, "vec_id", "embedding", k = 5),
      Similarity.ivfTopK(emb, "vec_id", "embedding", k = 5,
        queryPred = Some(pred)),
      "ivfTopK")
    check(
      Similarity.ivfTopKProjected(emb, "vec_id", "embedding", k = 5,
        inDim = 64, projDim = 32, nprobe = 6, rerank = 100),
      Similarity.ivfTopKProjected(emb, "vec_id", "embedding", k = 5,
        inDim = 64, projDim = 32, nprobe = 6, rerank = 100,
        queryPred = Some(pred)),
      "ivfTopKProjected")
  }

  test("principalComponent: fixture corpus — unit norm, ev_share in " +
      "(0,1], bitwise determinism under repartition") {
    val one = Similarity.principalComponent(emb, "embedding")
      .orderBy("dim").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(one.length == 64)
    val norm2 = one.map { case (_, v, _) => v * v }.sum
    assert(math.abs(norm2 - 1.0) < 1e-4) // 6-decimal rounding slack
    assert(one.forall { case (_, _, s) => s > 0.0 && s <= 1.0 })
    assert(one.map(_._3).distinct.length == 1) // scalar attach
    val two = Similarity.principalComponent(
      emb.repartition(13), "embedding")
      .orderBy("dim").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(one.toSeq == two.toSeq) // order-free exact moments
  }

  test("centroidSilhouette: separated clusters score high, a " +
      "mislabeled point scores negative") {
    // cluster 0 at x~0, cluster 1 at x~10; id 5 sits AT cluster 1
    // but carries label 0
    val df = Seq(
      (1L, 0, Array(0f, 0f)), (2L, 0, Array(0f, 1f)),
      (3L, 1, Array(10f, 0f)), (4L, 1, Array(10f, 1f)),
      (5L, 0, Array(10f, 0.5f))
    ).toDF("vec_id", "label", "embedding")
    val per = Similarity.centroidSilhouette(
      df.filter(col("vec_id") < 5), "label", "vec_id", "embedding")
      .orderBy("group").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(per.map(_._1).toSeq == Seq(0, 1))
    assert(per.forall(_._2 == 2L))
    // a = 0.5 (to own centroid), b = sqrt(100 + .25)^.5 distance to
    // the other centroid => s = (b-a)/b ~ 0.9500x for every point
    per.foreach { case (_, _, s) => assert(s > 0.94 && s < 0.96) }
    // with the mislabeled point, label 0's mean drops: point 5's own
    // centroid moves but it still sits 10-ish from it vs ~0.5 from
    // cluster 1's => strongly negative s drags the label-0 mean down
    val withBad = Similarity.centroidSilhouette(
      df, "label", "vec_id", "embedding")
      .orderBy("group").collect()
      .map(r => (r.getInt(0), r.getDouble(2)))
    assert(withBad.find(_._1 == 0).get._2 < per.head._3 - 0.3)
  }

  test("centroidSilhouette: loud guards — single cluster, oversized " +
      "group; fixture determinism under repartition") {
    val one = Seq((1L, 0, Array(0f)), (2L, 0, Array(1f)))
      .toDF("vec_id", "label", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.centroidSilhouette(one, "label", "vec_id", "embedding")
    }
    val two = Seq((1L, 0, Array(0f)), (2L, 0, Array(1f)),
      (3L, 1, Array(5f)))
      .toDF("vec_id", "label", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.centroidSilhouette(two, "label", "vec_id", "embedding",
        maxGroupSize = 1L)
    }
    val a = Similarity.centroidSilhouette(
      emb, "label", "vec_id", "embedding")
      .orderBy("group").collect().toSeq
    val b = Similarity.centroidSilhouette(
      emb.repartition(11), "label", "vec_id", "embedding")
      .orderBy("group").collect().toSeq
    assert(a == b) // id-ordered folds
  }
}
