package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Test-set decontamination — the step every serious training-data
  * pipeline runs before a model ever sees the corpus: find (and drop)
  * training documents that overlap a held-out evaluation set, so
  * benchmark numbers measure generalization rather than memorization.
  * Reference method: n-gram collision (as published for GPT-2/GPT-3
  * and the standard since) — a training document is contaminated if
  * any of its word n-grams appears in any evaluation document.
  *
  * Scale shape: the evaluation side is ALWAYS tiny relative to the
  * corpus (benchmarks are KBs–MBs; the corpus is the 100 TB side), so
  * the distinct test-gram set broadcasts, the train side streams one
  * n-gram explode through a broadcast semi-join, and the per-doc hit
  * count is a partial-aggregated groupBy on the (already filtered,
  * usually near-empty) collision stream. The corpus is never
  * shuffled; row bodies move only in the final keep/drop semi-join
  * keyed on the id. */
object Decontaminate {

  private def ngramsUdf(n: Int) = udf((t: String) =>
    if (t == null) Array.empty[String] else Kernels.wordNgrams(t, n))

  private def grams(df: DataFrame, idCol: String, textCol: String, n: Int) =
    df.select(col(idCol).as("id"), explode(ngramsUdf(n)(col(textCol))).as("g"))

  /** The benchmark side's distinct grams — no id column riding along. */
  private def testGramSet(test: DataFrame, testTextCol: String, n: Int) =
    test.select(explode(ngramsUdf(n)(col(testTextCol))).as("g")).distinct()

  /** Per-training-document contamination report:
    * (id, n_shared, contaminated) — n_shared counts the DISTINCT
    * train-doc n-grams that also occur anywhere in the evaluation
    * set; every training row appears exactly once (n_shared 0 when
    * clean, including docs shorter than n words). */
  def contaminationReport(
      train: DataFrame,
      trainId: String,
      trainText: String,
      test: DataFrame,
      testText: String,
      n: Int = 8): DataFrame = {
    val testGrams = testGramSet(test, testText, n)
    val hits = grams(train, trainId, trainText, n)
      .join(broadcast(testGrams), Seq("g"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_shared"))
    train.select(col(trainId).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("contaminated", col("n_shared") > 0)
  }

  /** [[contaminationReport]] with a Bloom-filter pre-pass — the
    * BIG-benchmark-set spelling: when the held-out side has millions
    * of distinct grams, broadcasting them as strings is GBs per
    * executor, but a Bloom filter at `fpp` is ~1.2 bytes/gram — the
    * corpus gram stream tests membership against the broadcast sketch
    * first, collapsing to true hits plus an fpp-fraction of noise,
    * and only that near-empty stream reaches the EXACT verify join
    * (which Catalyst is free to shuffle — its stream side is tiny
    * now, so the full gram set never needs to broadcast). The verify
    * keeps the output bitwise EQUAL to [[contaminationReport]] —
    * Bloom filters have no false negatives, and the false positives
    * die in the verify — DecontaminateSpec pins the equality, and
    * q106 runs this path against q70's exact oracle. */
  def contaminationReportBloom(
      train: DataFrame,
      trainId: String,
      trainText: String,
      test: DataFrame,
      testText: String,
      n: Int = 8,
      fpp: Double = 0.01): DataFrame = {
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0,1), got $fpp")
    val testGrams = testGramSet(test, testText, n)
    val nGrams = testGrams.count()
    // an empty held-out side has nothing to hit, and no filter to build:
    // Spark's bloomFilter aggregate yields null over zero rows
    val might =
      if (nGrams == 0L) lit(false)
      else {
        val bf = testGrams.stat.bloomFilter("g", nGrams, fpp)
        val bfB = train.sparkSession.sparkContext.broadcast(bf)
        udf((g: String) => bfB.value.mightContainString(g)).apply(col("g"))
      }
    // the corpus gram stream collapses to true hits + ~fpp noise
    // BEFORE any join — so the exact verify below joins a near-empty
    // stream and need not broadcast the full gram set
    val hits = grams(train, trainId, trainText, n)
      .filter(might)
      .join(testGrams, Seq("g"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_shared"))
    train.select(col(trainId).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("contaminated", col("n_shared") > 0)
  }

  // -------------------------------------------------------------------
  // SEMANTIC decontamination — the embedding-space twin of the n-gram
  // screen: a training item whose embedding sits within cosine tau of
  // any benchmark embedding is a paraphrase-level leak the n-gram
  // collision test cannot see. The published playbook (e.g. the
  // phi-series "seen during training" analyses and every
  // embedding-dedup paper since SemDeDup) is exactly this predicate;
  // the hard part at 100 TB is doing it EXACTLY without |X|·|B| flops
  // per row. ANN indexes (LSH / IVF probes) are the wrong tool here —
  // they have false NEGATIVES, and a decontamination screen that
  // silently misses leaks is worse than none. This one is exact.
  // -------------------------------------------------------------------

  /** Shared plumbing: the PRUNED (corpus row × benchmark member)
    * candidate stream, provably a superset of all true matches.
    *
    * Geometry: for unit vectors, cos(x,b) ≥ τ ⟺ ‖x̂−b̂‖ ≤ d_τ =
    * √(2−2τ). Cluster the BENCHMARK side into ≤ nlist spherical
    * cells (bounded hash-ordered training sample, the ivfIndex
    * discipline) and record each cell's radius r_c = max_b ‖b̂−c‖.
    * Triangle inequality: ‖x̂−b̂‖ ≥ ‖x̂−c‖ − r_c, so a corpus row
    * can only match inside cells with ‖x̂−c‖ ≤ r_c + d_τ — every
    * other cell is pruned EXACTLY, no recall loss. The `eps` slack
    * absorbs float→double rounding between the prune arithmetic and
    * the verify kernel (the bound is geometric-exact in reals; eps
    * covers the ~1e-7 representation noise, spec-pinned against
    * brute force). Requires τ > 0 — a zero-norm corpus vector scores
    * cosine 0 by [[Kernels.cosine]]'s convention and can then never
    * match, so its pruning is trivially sound.
    *
    * Scale shape: the corpus is scanned once and never shuffled —
    * per row O(nlist·dim) centroid math plus only the surviving
    * cells' members through a broadcast join. The benchmark side
    * broadcasts (it is the small side by the same argument as the
    * n-gram screen — loud `maxBench` guard via a narrow count).
    * Centroid training reads a BOUNDED sample; radii are one tiny
    * nlist-row aggregate. */
  private def semanticCandidates(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      bench: DataFrame, benchId: String, benchVec: String,
      tau: Double, nlist: Int, sampleSize: Int, iters: Int,
      eps: Double, maxBench: Long): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0,1], got $tau")
    require(eps >= 0.0, "eps must be non-negative")
    val b = bench.select(col(benchId).as("bid"), col(benchVec).as("bv"))
      .filter(col("bv").isNotNull)
    val nb = b.count() // narrow: ids+vectors don't move for the guard
    require(nb <= maxBench,
      s"semantic decontamination benchmark side has $nb rows — exceeds " +
        s"maxBench=$maxBench; the benchmark set must broadcast. Raise " +
        "the bound explicitly if this is really the small side")
    val sample = b.orderBy(xxhash64(col("bid")), col("bid"))
      .limit(sampleSize).select("bv").collect()
      .map(_.getSeq[Float](0).toArray)
    val dTau = math.sqrt(math.max(0.0, 2.0 - 2.0 * tau))
    if (sample.isEmpty)
      return corpus.select(col(corpusId).as("id"),
        col(corpusVec).as("cv")).filter(lit(false))
        .withColumn("bv", col("cv"))
    val cents = Similarity.trainCentroids(sample, nlist, iters)
    val assignUdf = udf((v: scala.collection.Seq[Float]) => {
      val vn = Similarity.normalized(v.toArray)
      var best = 0; var bestDot = Double.NegativeInfinity
      var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        var d = 0.0; var i = 0
        val n = math.min(vn.length, cent.length)
        while (i < n) { d += vn(i).toDouble * cent(i); i += 1 }
        if (d > bestDot) { bestDot = d; best = c }
        c += 1
      }
      (best, math.sqrt(math.max(0.0, 2.0 - 2.0 * bestDot)))
    })
    val assigned = b
      .withColumn("_a", assignUdf(col("bv")))
      .select(col("bv"), col("_a._1").as("cell"), col("_a._2").as("dist"))
    val radii = assigned.groupBy("cell").agg(max("dist").as("r"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val cellIds = radii.keys.toArray.sorted
    val radiiArr = cellIds.map(radii)
    val surviveUdf = udf((v: scala.collection.Seq[Float]) => {
      val vn = Similarity.normalized(v.toArray)
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      var j = 0
      while (j < cellIds.length) {
        val cent = cents(cellIds(j))
        var d = 0.0; var i = 0
        val n = math.min(vn.length, cent.length)
        while (i < n) { d += vn(i).toDouble * cent(i); i += 1 }
        val dist = math.sqrt(math.max(0.0, 2.0 - 2.0 * d))
        if (dist <= radiiArr(j) + dTau + eps) out += cellIds(j)
        j += 1
      }
      out.toArray
    })
    corpus.select(col(corpusId).as("id"), col(corpusVec).as("cv"))
      .filter(col("cv").isNotNull)
      .withColumn("cell", explode(surviveUdf(col("cv"))))
      .join(broadcast(assigned.select("cell", "bv")), Seq("cell"))
      .select(col("id"), col("cv"), col("bv"))
  }

  /** Per-corpus-row semantic contamination report:
    * (id, n_matches, contaminated) — n_matches the EXACT number of
    * benchmark embeddings within cosine ≥ τ, every corpus row
    * present (null-vector rows report 0). Bitwise the brute-force
    * |X|·|B| answer: pruning only drops provably-unmatchable cells,
    * and the survivors go through the same [[Similarity.cosineKernel]]
    * fold the q38 oracle reproduces. */
  def semanticReport(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      bench: DataFrame, benchId: String, benchVec: String,
      tau: Double,
      nlist: Int = 16,
      sampleSize: Int = 256,
      iters: Int = 5,
      eps: Double = 1e-4,
      maxBench: Long = 1000000L): DataFrame = {
    val cand = semanticCandidates(corpus, corpusId, corpusVec,
      bench, benchId, benchVec, tau, nlist, sampleSize, iters, eps, maxBench)
    val hits = cand
      .filter(Similarity.cosineKernel(col("cv"), col("bv")) >= tau)
      .groupBy("id").agg(count(lit(1)).as("n_matches"))
    corpus.select(col(corpusId).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"))
      .withColumn("contaminated", col("n_matches") > 0)
  }

  // -------------------------------------------------------------------
  // FUZZY decontamination — the NEAR-duplicate screen between corpus
  // and benchmark: the exact n-gram collision test above misses a
  // training document that is a lightly-edited copy of a benchmark
  // item once the edits break every shared n-gram run, and the
  // semantic screen needs embeddings. The published middle ground
  // (the Llama/Dolma-era "fuzzy decontamination") is MinHash-LSH at a
  // Jaccard threshold — exactly the near-dup machinery the dedup
  // family already runs, pointed ACROSS the corpus/benchmark split
  // instead of within one corpus.
  //
  // Scale shape: the benchmark side is the small side (same argument
  // as the n-gram screen, loud `maxBench` guard) — its banded keys
  // and shingle sets broadcast; the corpus streams ONE shingle+band
  // pass through a broadcast band-bucket join, so the corpus is never
  // shuffled and only candidate rows' shingle arrays are ever paired
  // for the exact verify. With bands=32, rows=4 a J>=0.9 pair is
  // missed with p~1e-15 (the q36 argument), and the exact-Jaccard
  // verify keeps false positives out — so on corpora whose
  // cross-split near-dups are high-J the report is bitwise the
  // brute-force cross-join answer (q117's oracle).
  // -------------------------------------------------------------------

  /** Per-training-document fuzzy contamination report:
    * (id, n_matches, contaminated) — n_matches the number of DISTINCT
    * benchmark documents within n-gram Jaccard >= minJ; every
    * training row appears exactly once (0 when clean, including docs
    * shorter than n words). */
  def fuzzyReport(
      train: DataFrame, trainId: String, trainText: String,
      test: DataFrame, testId: String, testText: String,
      n: Int = 3,
      bands: Int = 32,
      rowsPerBand: Int = 4,
      minJ: Double = 0.5,
      maxBench: Long = 10000000L): DataFrame = {
    require(minJ > 0.0 && minJ <= 1.0, s"minJ must be in (0,1], got $minJ")
    val shingleUdf = udf((t: String) =>
      if (t == null) Array.empty[String] else Kernels.wordNgrams(t, n))
    val bandsUdf = udf((ng: scala.collection.Seq[String]) =>
      Kernels.minHashBands(ng, bands, rowsPerBand))
    val jUdf = udf((a: scala.collection.Seq[String],
        b: scala.collection.Seq[String]) => {
      val mn = math.min(a.length, b.length).toDouble
      val mx = math.max(a.length, b.length).toDouble
      if (mx > 0 && mn / mx < minJ) 0.0 else Kernels.jaccard(a, b)
    })
    val bench = test
      .select(col(testId).as("bid"), shingleUdf(col(testText)).as("bngrams"))
      .filter(size(col("bngrams")) > 0)
    val nb = bench.select("bid").count() // narrow guard, bodies don't move
    require(nb <= maxBench,
      s"fuzzy decontamination benchmark side has $nb rows — exceeds " +
        s"maxBench=$maxBench; the benchmark set must broadcast. Raise " +
        "the bound explicitly if this is really the small side")
    val benchBanded = bench.select(col("bid"),
      posexplode(bandsUdf(col("bngrams"))).as(Seq("band", "bucket")))
    // NOT cached: like ngramJaccardPairs, re-running the shingle
    // kernel per branch beats caching string-array rows; the verify
    // branch touches only candidate ids after the semi-join below.
    val sets = train
      .select(col(trainId).as("id"), shingleUdf(col(trainText)).as("ngrams"))
      .filter(size(col("ngrams")) > 0)
    val candidates = sets
      .select(col("id"),
        posexplode(bandsUdf(col("ngrams"))).as(Seq("band", "bucket")))
      .join(broadcast(benchBanded), Seq("band", "bucket"))
      .select("id", "bid").distinct()
    val hits = candidates
      .join(sets, Seq("id"))
      .join(broadcast(bench), Seq("bid"))
      .select(col("id"), col("bid"),
        jUdf(col("ngrams"), col("bngrams")).as("jaccard"))
      .filter(col("jaccard") >= minJ)
      .groupBy("id").agg(count(lit(1)).as("n_matches"))
    train.select(col(trainId).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"))
      .withColumn("contaminated", col("n_matches") > 0)
  }

  /** Spec hook: candidate-pair count after pruning (the spec asserts
    * it undercuts |X|·|B| on clustered data while the report stays
    * bitwise-exact). */
  private[operators] def semanticCandidateCount(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      bench: DataFrame, benchId: String, benchVec: String,
      tau: Double, nlist: Int = 16, sampleSize: Int = 256,
      iters: Int = 5, eps: Double = 1e-4,
      maxBench: Long = 1000000L): Long =
    semanticCandidates(corpus, corpusId, corpusVec,
      bench, benchId, benchVec, tau, nlist, sampleSize, iters, eps,
      maxBench).count()
}
