package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`array<float>`),
  * SURVEY §7.2 M4. Two paths:
  *
  *   - [[bruteForceTopK]] — the exact baseline: broadcast the (small)
  *     query set against the full corpus, one scan, per-query top-k via
  *     window rank. Linear in corpus size, no corpus shuffle at all
  *     when the query side broadcasts.
  *   - [[annTopK]] — the scale path: random-hyperplane LSH buckets
  *     (sign sketch); only bucket-mates are scored. Sub-linear
  *     candidate generation, tunable recall via tables × bits.
  *
  * The cosine kernel is a pure Catalyst expression chain
  * (`zip_with` + `aggregate`): stays in whole-stage codegen, and —
  * load-bearing for the DuckDB oracle — float operands are cast to
  * double and summed strictly left-to-right, which is exactly what a
  * sequential SQL engine does, so scores agree bitwise across engines.
  */
object Similarity {

  /** Sequential-fold dot product in double precision (Catalyst HOF
    * spelling — fine for one-off column math; the pairwise hot paths
    * use [[cosineKernel]] because HOF lambdas evaluate interpreted). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Euclidean norm, same fold discipline. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in [-1, 1]; 0 for zero vectors, NULL when
    * either side is NULL. One JIT'd [[Kernels.cosine]] call per row —
    * same strict left-to-right double fold as the HOF spelling, so
    * values are bitwise identical (the DuckDB oracle relies on this). */
  def cosineKernel(a: Column, b: Column): Column = {
    val u = udf((x: scala.collection.Seq[Float], y: scala.collection.Seq[Float]) =>
      if (x == null || y == null) null.asInstanceOf[java.lang.Double]
      else java.lang.Double.valueOf(Kernels.cosine(x, y)))
      .withName("graft_cosine_kernel")
    u(a, b)
  }

  /** Exact top-k nearest neighbors by cosine for each query vector.
    * `queries` must be small enough to broadcast (it is hash-joined
    * against every corpus row); the corpus side streams — one scan,
    * no shuffle of corpus vectors. Ties broken by corpus id so rank
    * is total and deterministic. This is also the SAMPLED recall
    * reference for the ANN paths: a deterministic query subset run
    * through here costs O(n·|sample|) — the gate that stays
    * affordable at any corpus size (see the q40/q48/q63 catalog
    * entries and [[Gates.pairRecall]]). */
  def bruteForceTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    graft.expressions.GraftFunctions.register(corpus.sparkSession)
    val c = corpus.select(col(corpusId).as("nn_id"), col(corpusVec).as("cv"))
    val q = queries.select(col(queryId).as("query_id"), col(queryVec).as("qv"))
    val joined = c.join(broadcast(q),
      if (excludeSelf) col("nn_id") =!= col("query_id") else lit(true))
    val scored = joined.select(
      col("query_id"), col("nn_id"),
      call_function("graft_cosine", col("qv"), col("cv")).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("nn_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nn_id"), col("cos"))
  }

  /** Exact self top-k with bounded-state ranking: same rows as
    * `bruteForceTopK(df, df, ...)` (spec-pinned equal), but the
    * ranking runs through [[topKScored]]'s native imperative
    * aggregate — map-side partial heaps mean the shuffle after
    * scoring carries at most k entries per query per partition
    * instead of every n² score. Measured at sf0.1 (4M scored rows,
    * local[32]): parity with the window spelling while it fits in
    * memory, and strictly better once the window sort would spill —
    * the earlier typed-Aggregator spelling of the same idea was 2x
    * SLOWER than the window purely from its per-row object-encoding
    * fence, which is why topKScored is a TypedImperativeAggregate.
    * Requires long ids.
    *
    * BOUNDED-CORPUS CONTRACT: this broadcasts the ENTIRE corpus as the
    * query side and scores all n² pairs — it is the ground-truth /
    * recall-reference operator for fixtures and evaluation harnesses,
    * NOT a scale path. `maxBroadcastRows` (guarded with one cheap
    * count) fails fast before a caller ships an unbounded corpus to
    * every executor; the at-scale spelling of the same question is
    * [[annTopK]] / [[ivfTopK]] (sub-quadratic candidates), with THIS
    * operator run on a sampled query subset to measure their recall. */
  def exactSelfTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      maxBroadcastRows: Long = 1000000L): DataFrame = {
    val n = df.count()
    require(n <= maxBroadcastRows,
      s"exactSelfTopK is the bounded-corpus ground-truth operator: corpus has " +
        s"$n rows > maxBroadcastRows=$maxBroadcastRows. Use annTopK/ivfTopK " +
        "at scale (with a sampled exact reference for recall).")
    graft.expressions.GraftFunctions.register(df.sparkSession)
    val c = df.select(col(idCol).as("nn_id"), col(vecCol).as("cv"))
    val q = df.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val scored = c.join(broadcast(q), col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id"),
        call_function("graft_cosine", col("qv"), col("cv")).as("cos"))
    topKScored(scored, k)
  }

  /** Exact self top-k, blocked: the same rows as [[exactSelfTopK]]
    * (spec-pinned bitwise equal) at a fraction of the cost. Rows are
    * hashed into `blocks` buckets and replicated to their block-pairs
    * exactly like [[Dedup.embeddingCosinePairs]]; each block-pair task
    * runs a tight JIT'd dot-product loop (per-vector norms hoisted —
    * sqrt(Σx²) over the same left-to-right fold, so cos = dot/(na·nb)
    * is bit-identical to [[Kernels.cosine]]) and maintains a bounded
    * [[graft.expressions.TopKBuffer]] PER ROW — the n² scores
    * collapse to k partials per row per block before anything leaves
    * the task. The only shuffles are the block replication (n·blocks
    * vectors) and the final merge (n·blocks·k 24-byte rows through
    * [[topKScored]]). Compute is still O(n²·dim/tasks) — the
    * ground-truth operator for evaluation harnesses, not a scale path
    * (that's [[annTopK]]/[[ivfTopK]]); at 100 TB run it on a sampled
    * query subset. Requires long ids. */
  def exactSelfTopKBlocked(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      blocks: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val kk = k
    val nb = blocks
    val v = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<float>").as("v"))
      .as[(Long, Array[Float])]
    val replicated = v.flatMap { case (id, vec) =>
      val blk = ((id % nb) + nb).toInt % nb
      (0 until nb).map { other =>
        val bp = if (blk <= other) blk * nb + other else other * nb + blk
        (bp, blk, id, vec)
      }
    }
    val partial = replicated
      .groupByKey(_._1)
      .flatMapGroups { (bp, it) =>
        val lo = bp / nb
        val hi = bp % nb
        val left = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
        val right = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
        it.foreach { case (_, blk, id, vec) =>
          if (blk == lo) left += ((id, vec))
          if (blk == hi && lo != hi) right += ((id, vec))
        }
        val l = left.toArray
        val r = if (lo == hi) l else right.toArray
        // norms hoisted out of the pair loop: sqrt of the same strict
        // left-to-right Σx² fold Kernels.cosine runs, so the division
        // below reproduces its result bit-for-bit
        def norms(rows: Array[(Long, Array[Float])]): Array[Double] =
          rows.map { case (_, a) =>
            var ss = 0.0; var i = 0
            while (i < a.length) { val x = a(i).toDouble; ss += x * x; i += 1 }
            math.sqrt(ss)
          }
        val ln = norms(l)
        val rn = if (lo == hi) ln else norms(r)
        val lBuf = Array.fill(l.length)(new graft.expressions.TopKBuffer(kk))
        val rBuf = if (lo == hi) lBuf
          else Array.fill(r.length)(new graft.expressions.TopKBuffer(kk))
        var i = 0
        while (i < l.length) {
          val va = l(i)._2
          var j = if (lo == hi) i + 1 else 0
          while (j < r.length) {
            val vb = r(j)._2
            val n = math.min(va.length, vb.length)
            var dot = 0.0; var d = 0
            while (d < n) { dot += va(d).toDouble * vb(d).toDouble; d += 1 }
            val den = ln(i) * rn(j)
            val cos = if (den == 0.0) 0.0 else dot / den
            lBuf(i).insert(cos, r(j)._1)
            rBuf(j).insert(cos, l(i)._1)
            j += 1
          }
          i += 1
        }
        def emit(rows: Array[(Long, Array[Float])],
                 bufs: Array[graft.expressions.TopKBuffer]) =
          rows.iterator.zip(bufs.iterator).flatMap { case ((id, _), b) =>
            (0 until b.size).iterator.map(x => (id, b.ids(x), b.scores(x)))
          }
        if (lo == hi) emit(l, lBuf)
        else emit(l, lBuf) ++ emit(r, rBuf)
      }
      .toDF("query_id", "nn_id", "cos")
    topKScored(partial, k)
  }

  /** Deterministic random hyperplanes: `tables` sketch tables of
    * `bits` hyperplanes each, components from a fixed-seed LCG
    * (reproducible across runs/JVMs — no global RNG). */
  private[operators] def hyperplanes(
      tables: Int, bits: Int, dim: Int, seed: Long): Array[Array[Array[Double]]] = {
    var s = seed
    def next(): Double = {
      // 64-bit LCG (MMIX constants), mapped to [-1, 1)
      s = s * 6364136223846793005L + 1442695040888963407L
      (s >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
    Array.fill(tables, bits, dim)(next())
  }

  /** Sign-sketch bucket keys, one per table: bit j of table t's key =
    * sign(v · h_tj), packed into a long. One JIT'd call per row; the
    * hyperplane matrix rides along in the task closure (a few KB of
    * constants — no driver-side state at runtime). */
  private[operators] def signBuckets(
      vec: scala.collection.Seq[Float],
      hp: Array[Array[Array[Double]]]): Array[Long] = {
    val out = new Array[Long](hp.length)
    var t = 0
    while (t < hp.length) {
      val planes = hp(t)
      var key = 0L
      var j = 0
      while (j < planes.length) {
        val p = planes(j)
        val n = math.min(vec.length, p.length)
        var d = 0.0
        var i = 0
        while (i < n) { d += vec(i).toDouble * p(i); i += 1 }
        if (d >= 0.0) key |= (1L << j)
        j += 1
      }
      out(t) = key
      t += 1
    }
    out
  }

  /** Candidate pairs that share an LSH bucket in any table —
    * the sub-quadratic front end for near-dup / ANN at scale.
    * Output: (id_a, id_b) distinct, id_a < id_b.
    *
    * `maxBucketSize` bounds the O(|bucket|²) pair fan-out of a
    * degenerate bucket (near-identical embedding farms, zero vectors):
    * oversized buckets are hash-SPLIT into ceil(n/cap) sub-buckets
    * ([[Buckets.capped]]) so no task exceeds O(cap²) pair work; each
    * table splits along different boundaries, so a pair separated in
    * one table can still collide in another. Splits are observable
    * via [[annBucketStats]], never silent. */
  def annCandidates(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      tables: Int = 8,
      bits: Int = 12,
      dim: Int = 64,
      seed: Long = 42L,
      maxBucketSize: Int = 4096,
      // keep only pairs passing this predicate over (id_a, id_b) —
      // injected into the self-join condition so pruned pairs never
      // materialize (r14: a recall gate consuming a sampled query
      // subset prunes ~90% of the pair work). None = every pair.
      pairPred: Option[(Column, Column) => Column] = None): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val bucketed = signBucketed(df, idCol, vecCol, tables, bits, dim, seed)
    // Persist the capped assignments: the self-join consumes them on
    // BOTH sides and the capping join has two more branches over the
    // raw buckets — without the cache the scan+sketch pipeline runs
    // 4x per action (measured 1.9s -> 0.6s for the join at sf0.1).
    // The operator is EAGER: it materializes the (small) distinct
    // pair set, then immediately frees the assignments cache — every
    // caller reads the pairs at least twice (symmetrize / verify),
    // and freeing big intermediates at the seam is what keeps a
    // 69-query session from accumulating dead cached blocks. The
    // pairs cache itself (16 bytes/pair) is left to LRU.
    val capped = Buckets.capped(bucketed, Seq("tbl", "bkt"), "id", maxBucketSize)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pairs = capped.as("l")
      .join(capped.as("r"),
        col("l.tbl") === col("r.tbl") && col("l.bkt") === col("r.bkt") &&
          col("l._sub") === col("r._sub") &&
          col("l.id") < col("r.id") &&
          pairPred.map(p => p(col("l.id"), col("r.id")))
            .getOrElse(lit(true)))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    pairs.count()
    capped.unpersist(blocking = false)
    pairs
  }

  /** (id, tbl, bkt) sign-sketch bucket assignments — shared by the
    * candidate join and the bucket-stats probe. */
  private def signBucketed(
      df: DataFrame, idCol: String, vecCol: String,
      tables: Int, bits: Int, dim: Int, seed: Long): DataFrame = {
    val hp = hyperplanes(tables, bits, dim, seed)
    val bucketsUdf = udf((v: scala.collection.Seq[Float]) => signBuckets(v, hp))
    df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .select(col("id"), posexplode(bucketsUdf(col("v"))).as(Seq("tbl", "bkt")))
  }

  /** Which LSH buckets exceed the cap, and into how many sub-buckets
    * each is split: (tbl, bkt, bucket_n, n_splits). Run alongside
    * [[annCandidates]] for skew monitoring. */
  def annBucketStats(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      tables: Int = 8,
      bits: Int = 12,
      dim: Int = 64,
      seed: Long = 42L,
      maxBucketSize: Int = 4096): DataFrame =
    Buckets.oversized(
      signBucketed(df, idCol, vecCol, tables, bits, dim, seed),
      Seq("tbl", "bkt"), maxBucketSize)

  // -------------------------------------------------------------------
  // IVF (inverted-file) ANN — the second scale path next to LSH.
  // -------------------------------------------------------------------

  /** Normalize to unit L2 (zero vectors pass through). */
  private[operators] def normalized(v: Array[Float]): Array[Float] = {
    var ss = 0.0; var i = 0
    while (i < v.length) { ss += v(i).toDouble * v(i); i += 1 }
    val n = math.sqrt(ss)
    if (n == 0.0) v
    else {
      val out = new Array[Float](v.length)
      i = 0
      while (i < v.length) { out(i) = (v(i) / n).toFloat; i += 1 }
      out
    }
  }

  /** Spherical k-means over an in-memory sample: assign by dot product
    * on unit vectors, recompute means, re-normalize. Deterministic —
    * init takes the first `nlist` sample vectors (callers pass a
    * hash-ordered sample). The sample is BOUNDED (config constant),
    * so driver memory is O(sampleSize · dim) regardless of corpus
    * size — this is how IVF training works at any scale. */
  private[operators] def trainCentroids(
      sample: Array[Array[Float]],
      nlist: Int,
      iters: Int): Array[Array[Float]] = {
    val unit = sample.map(normalized)
    val k = math.min(nlist, unit.length)
    var cents = unit.take(k).map(_.clone)
    var it = 0
    while (it < iters) {
      val dim = cents(0).length
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      unit.foreach { v =>
        var best = 0; var bestDot = Double.MinValue
        var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          val cent = cents(c)
          while (i < dim) { d += v(i).toDouble * cent(i); i += 1 }
          if (d > bestDot) { bestDot = d; best = c }
          c += 1
        }
        val s = sums(best)
        var i = 0
        while (i < dim) { s(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c) // keep empty cells stable
        else normalized(Array.tabulate(cents(c).length)(i =>
          (sums(c)(i) / counts(c)).toFloat))
      }
      it += 1
    }
    cents
  }

  /** Top-`nprobe` centroid ids by dot product (unit centroids ⇒ rank
    * order equals cosine order). Tight loops, one call per row. */
  private[operators] def probeCells(
      vec: scala.collection.Seq[Float],
      cents: Array[Array[Float]],
      nprobe: Int): Array[Int] = {
    val k = cents.length
    val dots = new Array[Double](k)
    var c = 0
    while (c < k) {
      val cent = cents(c)
      val n = math.min(vec.length, cent.length)
      var d = 0.0; var i = 0
      while (i < n) { d += vec(i).toDouble * cent(i); i += 1 }
      dots(c) = d
      c += 1
    }
    val m = math.min(nprobe, k)
    val out = new Array[Int](m)
    val taken = new Array[Boolean](k)
    var j = 0
    while (j < m) {
      var best = -1; var bestDot = Double.NegativeInfinity
      c = 0
      while (c < k) {
        // `best < 0` guard: NaN dots (NaN components in the vector)
        // fail every comparison — still pick some untaken cell rather
        // than index -1
        if (!taken(c) && (best < 0 || dots(c) > bestDot)) {
          bestDot = dots(c); best = c
        }
        c += 1
      }
      taken(best) = true; out(j) = best
      j += 1
    }
    out
  }

  /** Rank scored (query_id, nn_id, cos) rows to per-query top-k with
    * the native bounded-state aggregate
    * [[graft.expressions.TopKScoredAgg]]: map-side partial heaps mean
    * the shuffle moves at most k entries per query per partition — the
    * 100 TB replacement for a window over every candidate score — and
    * the `TypedImperativeAggregate` form reads primitives straight off
    * InternalRows (no per-row object-encoding fence like the typed
    * `Aggregator` spelling, which measured 2x slower than the window
    * at sf0.1). Same total order as the window spelling (cos DESC,
    * nn_id ASC), so results are identical. Requires long ids (both
    * ANN self-search paths have them). */
  private[operators] def topKScored(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.graftshim.GraftSqlShim
    val aggCol = GraftSqlShim.column(
      graft.expressions.TopKScoredAgg(
        GraftSqlShim.expression(col("cos")),
        GraftSqlShim.expression(col("nn_id")),
        k).toAggregateExpression())
    scored
      .select(col("query_id").cast("long").as("query_id"),
        col("nn_id").cast("long").as("nn_id"), col("cos"))
      .groupBy("query_id")
      .agg(aggCol.as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("query_id"), (col("i") + 1).cast("long").as("rank"),
        col("s.nn_id").as("nn_id"), col("s.cos").as("cos"))
  }

  /** IVF approximate top-k self-search: train `nlist` centroids on a
    * bounded hash-ordered sample, assign every corpus vector to its
    * nearest cell (ONE map pass, no shuffle), then score each query
    * only against the vectors in its `nprobe` closest cells. The
    * cell join shuffles on the cell id — candidate volume is
    * corpus/nlist · nprobe per query instead of the full corpus.
    * Recall tunes with (nlist, nprobe); SimilaritySpec measures it
    * against [[bruteForceTopK]]. */
  def ivfTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      sampleSize: Int = 256,
      iters: Int = 5,
      // compute lists only for queries passing this predicate (the
      // corpus side, training sample, and cell assignment are
      // untouched, so passing queries' lists are bitwise unchanged)
      // — the recall-gate pruning knob. None = every query.
      queryPred: Option[Column => Column] = None): DataFrame = {
    graft.expressions.GraftFunctions.register(df.sparkSession)
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    // Deterministic bounded training sample: hash-order, take N. The
    // collect is O(sampleSize · dim) — a constant, not corpus-scaled.
    val sample = v.orderBy(xxhash64(col("id")), col("id")).limit(sampleSize)
      .select("v").collect()
      .map(_.getSeq[Float](0).toArray)
    if (sample.isEmpty) {
      // empty corpus: empty result whose schema matches the non-empty
      // path — topKScored always casts ids to LONG, so use LongType
      // here too (not the source id type)
      import org.apache.spark.sql.types._
      return df.sparkSession.createDataFrame(
        df.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("query_id", LongType, nullable = false),
          StructField("rank", LongType, nullable = false),
          StructField("nn_id", LongType, nullable = false),
          StructField("cos", DoubleType, nullable = false))))
    }
    val cents = trainCentroids(sample, nlist, iters)

    val assignUdf = udf((x: scala.collection.Seq[Float]) => probeCells(x, cents, 1)(0))
    val probesUdf = udf((x: scala.collection.Seq[Float]) => probeCells(x, cents, nprobe))
    val corpus = v.withColumn("cell", assignUdf(col("v")))
    val queries0 = v.select(col("id").as("query_id"), col("v").as("qv"))
    val queries = queryPred.fold(queries0)(p =>
        queries0.filter(p(col("query_id"))))
      .withColumn("cell", explode(probesUdf(col("qv"))))
    val scored = queries.join(corpus, Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("nn_id"),
        call_function("graft_cosine", col("qv"), col("v")).as("cos"))
      // a (query, candidate) pair can surface from several probed
      // cells only if the corpus row moved cells — it cannot (single
      // assignment), so no distinct needed before ranking.
    topKScored(scored, k)
  }

  /** [[ivfTopK]] with the candidate stage run in a RANDOM-PROJECTED
    * space — the JL composition: [[Quantize.randomProjector]] shrinks
    * every vector inDim→projDim map-side, centroids train and cells
    * route on the projected vectors, and the cell join (the probe's
    * only shuffle) moves projDim floats per row instead of inDim.
    * Coarse candidates rank by projected cosine (JL preserves inner
    * products approximately); only the top `rerank` survivors per
    * query re-score against the RAW vectors for the exact final
    * ranking — the [[annTopKInt8]] two-stage ladder with dimensions,
    * not bytes-per-dimension, as the compressed axis. The two
    * compose at 100 TB (project, then quantize the projection);
    * this operator keeps one axis per stage so each is gated
    * separately. Recall is measured, not assumed — q115 runs the
    * sampled-exact recall gate like every ANN path here. */
  def ivfTopKProjected(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      inDim: Int,
      projDim: Int = 16,
      nlist: Int = 16,
      nprobe: Int = 4,
      sampleSize: Int = 256,
      iters: Int = 5,
      rerank: Int = 0, // 0 => 4k
      salt: String = "graft",
      // same contract as [[ivfTopK]]'s queryPred — the recall-gate
      // pruning knob. None = complete lists for every query.
      queryPred: Option[Column => Column] = None): DataFrame = {
    graft.expressions.GraftFunctions.register(df.sparkSession)
    val r = if (rerank <= 0) 4 * k else math.max(rerank, k)
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val projCol = Quantize.randomProjector(inDim, projDim, salt)
    // projected copy rides the SAME rows — no id-join to attach it
    val base = v.withColumn("p", projCol(col("v")).cast("array<float>"))
    val sample = base.orderBy(xxhash64(col("id")), col("id"))
      .limit(sampleSize).select("p").collect()
      .map(_.getSeq[Float](0).toArray)
    if (sample.isEmpty) {
      import org.apache.spark.sql.types._
      return df.sparkSession.createDataFrame(
        df.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("query_id", LongType, nullable = false),
          StructField("rank", LongType, nullable = false),
          StructField("nn_id", LongType, nullable = false),
          StructField("cos", DoubleType, nullable = false))))
    }
    val cents = trainCentroids(sample, nlist, iters)
    val assignUdf = udf((x: scala.collection.Seq[Float]) =>
      probeCells(x, cents, 1)(0))
    val probesUdf = udf((x: scala.collection.Seq[Float]) =>
      probeCells(x, cents, nprobe))
    val corpus = base.select(col("id"), col("p"))
      .withColumn("cell", assignUdf(col("p")))
    val queries0 = base.select(col("id").as("query_id"),
      col("p").as("qp"))
    val queries = queryPred.fold(queries0)(p =>
        queries0.filter(p(col("query_id"))))
      .withColumn("cell", explode(probesUdf(col("qp"))))
    // stage 1: coarse scoring entirely in the projected space
    val coarse = topKScored(
      queries.join(corpus, Seq("cell"))
        .filter(col("id") =!= col("query_id"))
        .select(col("query_id"), col("id").as("nn_id"),
          call_function("graft_cosine", col("qp"), col("p")).as("cos")),
      r)
    // stage 2: exact re-score of the shortlist against raw vectors
    topKScored(
      coarse.select("query_id", "nn_id")
        .join(v.select(col("id").as("query_id"), col("v").as("qv")),
          Seq("query_id"))
        .join(v.select(col("id"), col("v")), col("nn_id") === col("id"))
        .select(col("query_id"), col("nn_id"),
          call_function("graft_cosine", col("qv"), col("v")).as("cos")),
      k)
  }

  /** [[annTopK]] with int8 candidate scoring — the shuffle-weight
    * composition for 100 TB: LSH buckets come from the float vectors
    * (sign sketches are scale-invariant), but the candidate join
    * moves QUANTIZED codes (4x fewer bytes) and scores them with the
    * pure-integer kernel; only the top `rerank` survivors per query
    * are re-scored against float vectors for the exact final ranking.
    * With rerank ≥ ~4k the int8 ordering noise (cosine error < 0.02)
    * almost never evicts a true top-k member before the float pass —
    * QuantizeSpec/SimilaritySpec measure the agreement.
    *
    * The returned frame is eagerly materialized via localCheckpoint
    * (lineage truncated so the candidate caches can be freed at the
    * seam) — its blocks live in executor storage and do NOT survive
    * executor loss; on a real cluster persist the (k-bounded, small)
    * result to storage promptly rather than holding it across a long
    * job. */
  def annTopKInt8(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rerank: Int = 0, // 0 => 4k
      tables: Int = 8,
      bits: Int = 10,
      dim: Int = 64,
      seed: Long = 42L,
      maxBucketSize: Int = 4096,
      // same contract as [[annTopK]]'s queryPred: complete lists only
      // for passing queries (partial otherwise) — the recall-gate
      // pruning knob. None = complete lists for every query.
      queryPred: Option[Column => Column] = None): DataFrame = {
    graft.expressions.GraftFunctions.register(df.sparkSession)
    val r = if (rerank <= 0) 4 * k else math.max(rerank, k)
    val cand = annCandidates(df, idCol, vecCol, tables, bits, dim, seed,
      maxBucketSize,
      pairPred = queryPred.map(p => (a: Column, b: Column) => p(a) || p(b)))
    val sym = cand.select(col("id_a").as("query_id"), col("id_b").as("nn_id"))
      .unionAll(cand.select(col("id_b").as("query_id"), col("id_a").as("nn_id")))
    val q = df.select(col(idCol).as("id"),
      Quantize.int8(col(vecCol)).as("qv"))
    // stage 1: integer scoring over codes, keep `rerank` per query.
    // (Unlike annTopK, scoring the pre-symmetrized set is the right
    // call here: int8 codes make the join 4x lighter and the kernel
    // integer-cheap, so the materialization pass a score-once-then-
    // mirror spelling needs costs more than it saves — measured.)
    val coarse = topKScored(
      sym.join(q.as("a"), col("query_id") === col("a.id"))
        .join(q.as("b"), col("nn_id") === col("b.id"))
        .select(col("query_id"), col("nn_id"),
          Quantize.cosineInt8(col("a.qv"), col("b.qv")).as("cos")),
      r)
    // stage 2: float re-score of the shortlist only, exact final rank.
    // Eagerly materialized (lineage-truncating localCheckpoint, not a
    // cache-manager persist) so the candidate pair cache can be freed
    // at the seam — the q63 path strands no cached blocks (GatesSpec).
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val ranked = topKScored(
      coarse.select("query_id", "nn_id")
        .join(v.as("qf"), col("query_id") === col("qf.id"))
        .join(v.as("cf"), col("nn_id") === col("cf.id"))
        .select(col("query_id"), col("nn_id"),
          call_function("graft_cosine", col("qf.v"), col("cf.v")).as("cos")),
      k)
      .localCheckpoint(true)
    cand.unpersist(blocking = false)
    ranked
  }

  /** Approximate top-k: score only same-bucket candidates, then rank.
    * Recall is tunable via (tables, bits); a spec measures it against
    * [[bruteForceTopK]] on the fixture data.
    *
    * With `eager = true` (default) the result is materialized via
    * localCheckpoint so the candidate/score caches can be freed at
    * the seam — localCheckpoint blocks live in executor storage and
    * do NOT survive executor loss, so on a real cluster persist the
    * (k-bounded, small) result to storage promptly, or run with
    * `eager = false` and manage lineage/caching yourself. */
  def annTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      tables: Int = 8,
      bits: Int = 10,
      dim: Int = 64,
      seed: Long = 42L,
      // eager=false returns the SAME dataflow lazily (no checkpoint,
      // caches left to the caller) — for plan inspection/tests; the
      // default materializes and frees caches at the seam
      eager: Boolean = true,
      // restrict COMPLETE lists to queries passing this predicate:
      // candidate pairs keep only rows with a passing endpoint, so
      // passing queries' lists are bitwise unchanged while other
      // queries' lists may be partial — exactly what a sampled
      // recall gate consumes (r14: the gates discarded ~90% of the
      // constructed lists). None = complete lists for every query.
      queryPred: Option[Column => Column] = None): DataFrame = {
    graft.expressions.GraftFunctions.register(df.sparkSession)
    val cand = annCandidates(df, idCol, vecCol, tables, bits, dim, seed,
      pairPred = queryPred.map(p => (a: Column, b: Column) => p(a) || p(b)))
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    // score each UNDIRECTED pair once — graft_cosine folds the dot
    // left-to-right with commutative IEEE multiplies, so cos(a,b) is
    // bitwise cos(b,a) — then mirror the narrow (id, id, cos) rows for
    // per-id ranking: halves the vector-join shuffle weight and the
    // kernel evaluations vs scoring a pre-symmetrized pair set
    val scoredPairs = cand
      .join(v.as("a"), col("id_a") === col("a.id"))
      .join(v.as("b"), col("id_b") === col("b.id"))
      .select(col("id_a"), col("id_b"),
        call_function("graft_cosine", col("a.v"), col("b.v")).as("cos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    scoredPairs.count()
    // the raw pair cache is dead once the scored set exists — swap them
    cand.unpersist(blocking = false)
    // free-at-the-seam, all the way down: the k-bounded result is
    // eagerly materialized (localCheckpoint — truncated lineage, small
    // RDD blocks NOT registered with the cache manager), at which
    // point the scored pair cache is dead too and is released — so
    // repeated annTopK calls in a long session strand no cached
    // blocks at all (GatesSpec pins the q40 path cache-clean end to
    // end, same discipline as the sampled gates)
    val ranked = topKScored(
      scoredPairs.select(col("id_a").as("query_id"),
          col("id_b").as("nn_id"), col("cos"))
        .unionAll(scoredPairs.select(col("id_b").as("query_id"),
          col("id_a").as("nn_id"), col("cos"))),
      k)
    if (!eager) return ranked
    val out = ranked.localCheckpoint(true)
    scoredPairs.unpersist(blocking = false)
    out
  }

  /** Persisted IVF index — the ANN counterpart of
    * [[Dedup.minHashIndex]]'s continuous-ingestion story: train the
    * cell centroids ONCE over a bounded hash-ordered sample, assign
    * every corpus vector to its nearest cell, and hand back BOTH
    * halves as DataFrames so the whole index round-trips through
    * parquet — `assignments` (id, v, cell; the big half, partitioned
    * by cell at write time in production) and `centroids`
    * (cell, centroid; nlist rows, driver-small by construction).
    * Future query batches go through [[ivfProbe]] without re-training
    * or re-scanning the corpus. */
  def ivfIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 16,
      sampleSize: Int = 256,
      iters: Int = 5): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    import spark.implicits._
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val sample = v.orderBy(xxhash64(col("id")), col("id")).limit(sampleSize)
      .select("v").collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "ivfIndex over an empty corpus")
    val cents = trainCentroids(sample, nlist, iters)
    val assignUdf = udf((x: scala.collection.Seq[Float]) =>
      probeCells(x, cents, 1)(0))
    val assignments = v.withColumn("cell", assignUdf(col("v")))
    val centroids = cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
    (assignments, centroids)
  }

  /** Probe a persisted [[ivfIndex]] with a NEW query batch —
    * cross-corpus ANN (queries need not be index members): each query
    * routes to its `nprobe` nearest cells (the centroid table is
    * nlist rows — collected with a loud bound, broadcast into the
    * probe kernel), scores only those cells' vectors, and ranks
    * through the bounded-state top-k aggregate. The corpus is never
    * re-trained or re-scanned beyond the probed cells; per-batch cost
    * tracks |queries| · corpus/nlist · nprobe. */
  def ivfProbe(
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      assignments: DataFrame,
      centroids: DataFrame,
      k: Int,
      nprobe: Int = 4,
      excludeSelf: Boolean = true): DataFrame =
    // exactly the raw candidate feed, ranked — ONE copy of the
    // probe/cell-join/score sequence (r11 review: the candidate body
    // existed twice and a probe-semantics fix would have had to land
    // in both or silently diverge)
    topKScored(ivfCandidates(queries, queryId, queryVec, assignments,
      centroids, nprobe, excludeSelf), k)

  /** [[ivfProbe]] with int8 candidate scoring — the shuffle-weight
    * composition ([[annTopKInt8]]'s two-stage ladder) applied to the
    * persisted-index path: the cell join moves QUANTIZED codes (4x
    * fewer bytes through the probe's only shuffle — at 100 TB the
    * index stores the codes next to the floats and ships only codes
    * to the probe), candidates are scored with the pure-integer
    * kernel, and only the top `rerank` survivors per query re-score
    * against float vectors for the exact final ranking. Same
    * (query_id, rank, nn_id, cos) schema as [[ivfProbe]]; agreement
    * at rerank ≥ ~4k is the measured annTopKInt8 contract
    * (SimilaritySpec pins it for this path too). */
  def ivfProbeInt8(
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      assignments: DataFrame,
      centroids: DataFrame,
      k: Int,
      nprobe: Int = 4,
      rerank: Int = 0, // 0 => 4k
      excludeSelf: Boolean = true): DataFrame = {
    graft.expressions.GraftFunctions.register(queries.sparkSession)
    val r = if (rerank <= 0) 4 * k else math.max(rerank, k)
    val cents = collectCentroids(centroids, "ivfProbeInt8")
    val probesUdf = udf((x: scala.collection.Seq[Float]) =>
      probeCells(x, cents, nprobe))
    val q = queries.select(col(queryId).as("query_id"), col(queryVec).as("qv"))
      .withColumn("cell", explode(probesUdf(col("qv"))))
      .withColumn("q8", Quantize.int8(col("qv")))
    // stage 1: integer scoring over codes through the cell join — the
    // float corpus vectors never move here
    val codes = assignments.select(col("id"), col("cell"),
      Quantize.int8(col("v")).as("c8"))
    val coarse = topKScored(
      q.join(codes, Seq("cell"))
        .filter(if (excludeSelf) col("id") =!= col("query_id") else lit(true))
        .select(col("query_id"), col("id").as("nn_id"),
          Quantize.cosineInt8(col("q8"), col("c8")).as("cos")),
      r)
    // stage 2: float re-score of the shortlist only — exact final rank
    val qf = queries.select(col(queryId).as("query_id"), col(queryVec).as("qv"))
    val vf = assignments.select(col("id"), col("v"))
    topKScored(
      coarse.select("query_id", "nn_id")
        .join(qf, Seq("query_id"))
        .join(vf, col("nn_id") === col("id"))
        .select(col("query_id"), col("nn_id"),
          call_function("graft_cosine", col("qv"), col("v")).as("cos")),
      k)
  }

  /** Collect a (cell, centroid) table into a dense array with loud
    * bounds — shared by [[ivfProbe]] and [[ivfAssign]]. An IVF
    * centroid table is nlist rows by construction; anything bigger is
    * a caller error (the corpus passed in the wrong slot), never a
    * silent driver OOM. */
  private def collectCentroids(
      centroids: DataFrame, what: String): Array[Array[Float]] = {
    val centRows = centroids.select(col("cell"), col("centroid"))
      .collect()
    require(centRows.nonEmpty && centRows.length <= 65536,
      s"$what centroid table has ${centRows.length} rows — an IVF " +
        "index is nlist cells by construction; this is not the corpus")
    val cents = new Array[Array[Float]](centRows.map(_.getInt(0)).max + 1)
    centRows.foreach { r =>
      cents(r.getInt(0)) = r.getSeq[Float](1).toArray
    }
    require(cents.forall(_ != null),
      s"$what centroid table has gaps in its cell ids — not a " +
        "graft ivfIndex centroid table (cells are 0..nlist-1 dense)")
    cents
  }

  /** Assign a NEW vector batch to an existing [[ivfIndex]]'s cells —
    * the APPEND path of the index lifecycle: centroids are NOT
    * retrained (that is exactly what keeps appends O(batch) — the
    * corpus is never re-scanned), each batch vector simply routes to
    * its nearest existing cell in one map pass. Output is a schema
    * drop-in for the index's `assignments` half (id, v, cell), written
    * as a [[graft.streaming.DeltaStore]] delta in production — the layout [[Dedup.compactIndex]]
    * consumes. As deltas accumulate the centroids go STALE (the data
    * distribution drifts from what they were trained on); gate every
    * maintenance cycle with [[ivfStalenessGate]] and retrain
    * deliberately — loudly — when it fires. */
  def ivfAssign(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame): DataFrame = {
    val cents = collectCentroids(centroids, "ivfAssign")
    val assignUdf = udf((x: scala.collection.Seq[Float]) =>
      probeCells(x, cents, 1)(0))
    batch.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("cell", assignUdf(col("v")))
  }

  /** Centroid-staleness gate — the recall-drift alarm for a
    * continuously-ingested IVF index: as [[ivfAssign]] deltas
    * accumulate, the centroids (trained once, long ago) stop
    * representing the corpus and probe recall decays SILENTLY — this
    * gate makes that decay loud. It probes the index with a
    * deterministic sampled query subset drawn from the index itself
    * (ids ≡ sampleResidue mod sampleMod), computes the exact sampled
    * reference in ONE corpus scan (O(n·|sample|) — the affordable
    * shape at any corpus size, never the O(n²) self-join), and FAILS
    * the job below `floor` — the signal to retrain centroids and
    * rebuild, as a visible decision. Returns (recall, exact sampled
    * reference); the reference is eagerly materialized (small by
    * construction: |sample|·k rows) so callers can emit or audit it
    * without re-running the scan. */
  def ivfStalenessGate(
      assignments: DataFrame,
      centroids: DataFrame,
      k: Int = 10,
      nprobe: Int = 4,
      floor: Double = 0.3,
      sampleMod: Long = 10L,
      sampleResidue: Long = 0L,
      what: String = "ivf-staleness"): (Double, DataFrame) = {
    val corpus = assignments.select(col("id"), col("v"))
    val queries = corpus
      .filter(pmod(col("id"), lit(sampleMod)) === lit(sampleResidue))
    val ann = ivfProbe(queries, "id", "v", assignments, centroids,
      k, nprobe)
    // localCheckpoint: the reference is read twice (gate join + the
    // caller's emit) — truncate once so the brute-force scan runs
    // once, registering nothing with the cache manager; executor-loss
    // caveat as elsewhere (gate fixtures are transient by nature)
    val exact = bruteForceTopK(corpus, "id", "v", queries, "id", "v", k)
      .localCheckpoint(true)
    val recall = Gates.pairRecall(ann, exact)
    Gates.requireFloor(recall, floor,
      s"$what sampled pair recall@$k (ids = $sampleResidue mod $sampleMod)")
    (recall, exact)
  }

  /** Embedding near-dup pairs from a probed IVF index — the candidate
    * rule a continuously-ingesting pipeline can replay EXACTLY: each
    * query vector probes its `nprobe` nearest cells and pairs with
    * every INDEXED vector of SMALLER id found there (the
    * ingestion-order rule — ids monotone with arrival means "the
    * newer vector probes the older corpus", which is precisely what
    * [[graft.streaming.Streams.ingestVectorStream]] does per batch,
    * so streamed union == one-shot is an equality, not an
    * approximation). Candidates are exact-verified with the bitwise
    * cosine kernel against `minCos`; a vector is assigned exactly one
    * cell and probe cells are distinct, so no pair surfaces twice.
    * Output: (id_a, id_b, cos), id_a < id_b.
    *
    * Capture contract (same shape as the LSH near-dup story): a pair
    * at cosine ≈ 1 shares its probe ranking, so the smaller id's
    * assigned cell IS the larger id's first probe — planted/true
    * near-dups are captured structurally; recall for moderate-cosine
    * pairs tunes with nprobe. */
  def ivfNearDupPairsAgainst(
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      index: DataFrame,
      centroids: DataFrame,
      nprobe: Int = 4,
      minCos: Double = 0.99): DataFrame = {
    graft.expressions.GraftFunctions.register(queries.sparkSession)
    val cents = collectCentroids(centroids, "ivfNearDupPairsAgainst")
    val probesUdf = udf((x: scala.collection.Seq[Float]) =>
      probeCells(x, cents, nprobe))
    val q = queries.select(col(queryId).as("query_id"),
        col(queryVec).as("qv"))
      .withColumn("cell", explode(probesUdf(col("qv"))))
    q.join(index.select(col("id"), col("v"), col("cell")), Seq("cell"))
      .filter(col("id") < col("query_id"))
      .select(col("id").as("id_a"), col("query_id").as("id_b"),
        call_function("graft_cosine", col("v"), col("qv")).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** RAW IVF candidate pairs for a query batch against a persisted
    * index — the un-ranked, un-thresholded sibling of [[ivfProbe]]
    * (which top-ks before a caller can filter) and
    * [[ivfNearDupPairsAgainst]] (whose smaller-id ingestion-order
    * rule drops cross-batch pairs whose INDEX id is larger): every
    * (query, index-row) pair sharing one of the query's `nprobe`
    * probed cells, scored exactly, emitted as (query_id, nn_id, cos)
    * with no rank and no floor — the candidate feed for consumers
    * that apply their OWN predicate before ranking (the cross-parity
    * filter of [[graft.streaming.Streams.ingestCrossLingualAnnStream]]
    * is the motivating case: filtering after a top-k would let
    * same-parity neighbors evict the cross-parity ones the caller
    * actually wants). Pair-unique by construction when index ids are
    * unique (an index row lives in exactly one cell). Per-batch cost
    * is the IVF contract: |queries| · corpus/nlist · nprobe. */
  def ivfCandidates(
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      index: DataFrame,
      centroids: DataFrame,
      nprobe: Int = 4,
      excludeSelf: Boolean = true): DataFrame = {
    graft.expressions.GraftFunctions.register(queries.sparkSession)
    val cents = collectCentroids(centroids, "ivfCandidates")
    val probesUdf = udf((x: scala.collection.Seq[Float]) =>
      probeCells(x, cents, nprobe))
    val q = queries.select(col(queryId).as("query_id"),
        col(queryVec).as("qv"))
      .withColumn("cell", explode(probesUdf(col("qv"))))
    q.join(index.select(col("id"), col("v"), col("cell")), Seq("cell"))
      .filter(if (excludeSelf) col("id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("id").as("nn_id"),
        call_function("graft_cosine", col("qv"), col("v")).as("cos"))
  }

  /** Tombstone blast radius through maintained k-NN LIST state — the
    * fourth derived artifact the right-to-be-forgotten story touches
    * (clusters: [[Dedup.deletePropagation]]; indexes:
    * [[Dedup.compactIndex]]; packed chunks:
    * [[Pack.deleteBlastRadius]]; and here the per-query neighbor
    * lists a [[graft.streaming.Streams.ingestCrossLingualStream]]-
    * style pipeline maintains). Deleting a vector does two distinct
    * things to list state: the deleted QUERY's whole list drops
    * (own_deleted = 1), and every OTHER query whose list held the
    * deleted vector as a neighbor loses entries it cannot locally
    * refill — a k-bounded list does not know its (k+1)th neighbor, so
    * those queries need a RE-SCORE, not an in-place patch
    * (needs_rescore = 1). This operator reports exactly that radius,
    * one row per touched query: (query_id, own_deleted, k_before,
    * n_lost, k_after, needs_rescore) with k_after = 0 for deleted
    * queries and k_before − n_lost otherwise.
    *
    * Shape (q271's touched-first discipline): the tombstone set
    * broadcasts into two narrow map-side semi-join scans that derive
    * the TOUCHED query ids (lists hit on query_id — tombstone-sized —
    * ∪ lists hit on nn_id, which is REVERSE-kNN-sized: a deleted hub
    * vector can appear in a large fraction of all lists, so this side
    * is NOT tombstone-bounded and the touched set is deliberately
    * joined WITHOUT a broadcast hint — Catalyst/AQE may still
    * broadcast a small one, but a hub delete must degrade to a
    * shuffle semi-join instead of dying at the broadcast hard-stop).
    * Only touched queries' rows enter the one partial-aggregable
    * groupBy. `lists`: any (query_id, nn_id) frame
    * ([[bruteForceTopK]] output, the streamed `listsDir/state=N`).
    * Ids in `tombstones` absent from the lists touch nothing. */
  def listInvalidation(
      lists: DataFrame,
      tombstones: DataFrame,
      tombstoneIdCol: String = "id"): DataFrame = {
    val tomb = tombstones
      .select(col(tombstoneIdCol).cast("long").as("_tid")).distinct()
    val l = lists.select(col("query_id").cast("long").as("query_id"),
      col("nn_id").cast("long").as("nn_id"))
    val touched = l
      .join(broadcast(tomb), col("nn_id") === col("_tid"), "left_semi")
      .select("query_id")
      .unionByName(l.join(broadcast(tomb),
          col("query_id") === col("_tid"), "left_semi")
        .select("query_id"))
      .distinct()
    l.join(touched, Seq("query_id"), "left_semi")
      .join(broadcast(tomb.withColumnRenamed("_tid", "_qtid")),
        col("query_id") === col("_qtid"), "left")
      .join(broadcast(tomb), col("nn_id") === col("_tid"), "left")
      .groupBy("query_id")
      .agg(
        max(when(col("_qtid").isNotNull, 1L).otherwise(0L))
          .as("own_deleted"),
        count(lit(1)).as("k_before"),
        sum(when(col("_tid").isNotNull, 1L).otherwise(0L)).as("n_lost"))
      .select(col("query_id"), col("own_deleted"), col("k_before"),
        col("n_lost"),
        when(col("own_deleted") === 1L, 0L)
          .otherwise(col("k_before") - col("n_lost")).as("k_after"),
        when(col("own_deleted") === 0L && col("n_lost") >= 1L, 1L)
          .otherwise(0L).as("needs_rescore"))
  }

  /** CONSUME [[listInvalidation]]'s work order — list REPAIR, the
    * maintenance job the `needs_rescore` flag exists for (r11
    * verdict: "an operator that takes needs_rescore queries and
    * re-scores exactly them against the surviving corpus"). Returns
    * the fully HEALED list state, (query_id, rank, nn_id, cos):
    *
    *   - a deleted query's list drops entirely (own_deleted — the
    *     query itself left the corpus);
    *   - an untouched query's list passes through VERBATIM (it
    *     references no tombstone, and removing non-member vectors
    *     cannot change a top-k it never contained — so on the
    *     survivor corpus the old list is still exact, bitwise);
    *   - a needs_rescore query gets a FULL fresh k-list re-scored
    *     against the surviving corpus through the IVF candidate
    *     machinery ([[ivfCandidates]] pointed at the bounded rescore
    *     set, `candidateFilter` applied BEFORE ranking — q273's
    *     parity lesson), ranked by the exact (cos desc, nn_id)
    *     tie-break. A k-bounded list cannot locally refill (the
    *     (k+1)th neighbor was evicted at build time), so repair is a
    *     re-score, never a patch.
    *
    * With nprobe >= nlist the candidate set is every cross-filter
    * survivor, so the healed state equals the one-shot exact dual
    * k-NN over the survivor corpus BITWISE (SimilaritySpec pins it);
    * at production nprobe the repaired lists are recall-gated
    * approximations and the caller gates them (q278 runs q267's gate
    * discipline in-job).
    *
    * No-ghost contract (q274's discipline): the survivor `index`
    * must already exclude the tombstones — checked with a limit-1
    * fail-fast scan, so a caller who forgot to compact fails loudly
    * BEFORE healed lists with ghost neighbors are written anywhere.
    *
    * Scale shape: tombstones broadcast (request-sized); the rescore
    * set is reverse-kNN-sized (a hub delete makes it a large
    * fraction of all queries) so it is deliberately NOT
    * broadcast-hinted, and neither is the untouched pass-through
    * anti-join — both degrade to shuffle semi-joins (the
    * [[listInvalidation]] hub lesson). Per-rescore-query cost is the
    * IVF contract: survivors/nlist · nprobe candidates. */
  def listRepair(
      lists: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      tombstones: DataFrame,
      tombstoneIdCol: String,
      index: DataFrame,
      centroids: DataFrame,
      k: Int,
      nprobe: Int = 4,
      candidateFilter: org.apache.spark.sql.Column = lit(true)): DataFrame = {
    require(k >= 1 && k <= 64, s"k must be in [1, 64], got $k")
    val tomb = tombstones
      .select(col(tombstoneIdCol).cast("long").as("_tid")).distinct()
    // fail-fast no-ghost gate on the index (limit-1 short-circuits)
    val ghost = index.select(col("id").cast("long").as("id"))
      .join(broadcast(tomb), col("id") === col("_tid"), "left_semi")
      .limit(1).collect()
    require(ghost.isEmpty,
      s"listRepair: survivor index still contains tombstoned id " +
        s"${ghost.headOption.map(_.getLong(0)).getOrElse(-1L)} — " +
        "compact the index first (Dedup.compactIndex); " +
        "repairing against a ghost-bearing index would re-insert " +
        "deleted vectors as neighbors.")
    // radius appears in both union branches — a pure lazy plan, so one
    // action evaluates listInvalidation twice (touched-bounded groupBy
    // over two semi scans; cheap next to the rescore). Callers running
    // several actions over the healed state persist the RESULT.
    val radius = listInvalidation(lists, tombstones, tombstoneIdCol)
    val untouched = lists
      .select(col("query_id").cast("long").as("query_id"),
        col("rank").cast("long").as("rank"),
        col("nn_id").cast("long").as("nn_id"), col("cos"))
      .join(radius.select("query_id"), Seq("query_id"), "left_anti")
    val rescore = radius.filter(col("needs_rescore") === 1L)
      .select("query_id")
    val qVecs = corpus
      .select(col(idCol).cast("long").as("query_id"),
        col(vecCol).as("_qv"))
      .join(rescore, Seq("query_id"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cos").desc, col("nn_id"))
    val repaired = ivfCandidates(
        qVecs, "query_id", "_qv", index, centroids, nprobe)
      .filter(candidateFilter)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id").cast("long").as("query_id"),
        col("rank"), col("nn_id").cast("long").as("nn_id"), col("cos"))
    untouched.unionByName(repaired)
  }

  /** One-shot spelling of [[ivfNearDupPairsAgainst]] over a whole
    * corpus: assign everything to the given centroids, then let every
    * vector probe for smaller-id neighbors. The batch twin the
    * streaming ingestion's union is spec-pinned equal to. */
  def ivfNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      nprobe: Int = 4,
      minCos: Double = 0.99): DataFrame =
    ivfNearDupPairsAgainst(
      df.select(col(idCol), col(vecCol)), idCol, vecCol,
      ivfAssign(df, idCol, vecCol, centroids), centroids, nprobe, minCos)

  /** Per-group centroids (class prototypes): mean embedding per
    * `groupCol`, folded IN ID ORDER so the double accumulation is
    * bitwise-reproducible (the [[Kernels.cosine]] sequential-fold
    * contract applied to aggregation — a plain distributed SUM of
    * doubles is order-nondeterministic and would never hash-match an
    * oracle). One shuffle keyed by the group; each group's vectors
    * are collected INTO that group's task — bounded LOUDLY by
    * `maxGroupSize` (one cheap narrow count pass over the group
    * column before the collect; a billion-row label group must fail
    * with this message, not OOM one executor silently). Fine for
    * class/label/source cardinalities; a bigger group should be
    * pre-sampled, or routed through [[groupCentroidsTwoPhase]] — the
    * at-scale relaxation that trades the bitwise fold for partial
    * sums with an explicit reordering-error bound asserted in-job.
    * NULL vectors are EXCLUDED (both from the fold and from `n`) —
    * explicitly, not via an NPE deep in a task; a group of only null
    * vectors emits nothing. Output: (group, n, dim, c) — one row per
    * dimension, 1-based, so the emitted values stay scalar. */
  def groupCentroids(
      df0: DataFrame,
      groupCol: String,
      idCol: String,
      vecCol: String,
      maxGroupSize: Long = 1L << 20): DataFrame = {
    val df = df0.filter(col(vecCol).isNotNull)
    // the guard scans only the group column (columnar scan prunes the
    // vectors) — one partial-agg count job, the price of failing fast
    // BEFORE a whole group's vectors are built into one task's list
    val oversized = df.groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > maxGroupSize)
      .limit(1).collect()
    require(oversized.isEmpty, {
      val r = oversized.head
      s"groupCentroids collects each group into ONE task: group " +
        s"'${r.get(0)}' has ${r.getLong(1)} rows > maxGroupSize=" +
        s"$maxGroupSize. Pre-sample the group, raise the bound " +
        "deliberately, or use groupCentroidsTwoPhase (partial-sum " +
        "fold with an explicit reordering-error gate)."
    })
    val centroidUdf = udf(
      (vs: scala.collection.Seq[scala.collection.Seq[Float]]) =>
        Kernels.centroid(vs))
    df.select(col(groupCol).as("group"),
        struct(col(idCol).cast("long").as("id"),
          col(vecCol).cast("array<float>").as("v")).as("s"))
      .groupBy("group")
      .agg(sort_array(collect_list(col("s"))).as("vs"),
        count(lit(1)).as("n"))
      .select(col("group"), col("n"),
        posexplode(centroidUdf(transform(col("vs"), s => s.getField("v"))))
          .as(Seq("_d0", "c")))
      .select(col("group"), col("n"),
        (col("_d0") + 1).cast("long").as("dim"), col("c"))
  }

  /** The at-scale spelling of [[groupCentroids]]: two-phase partial
    * sums instead of one whole-group task. Phase 1 folds each input
    * partition's slice of every group IN ID ORDER into (n, Σx, Σ|x|)
    * partials — pure map-side work, the vectors themselves never
    * shuffle; phase 2 shuffles only the partials (input-partitions
    * rows per group, each 2·dim doubles) and combines them IN
    * PARTITION-ID ORDER, so the whole computation is deterministic
    * for a fixed input partitioning. What the two-phase fold gives up
    * is the single-sequence bitwise contract — combining partials
    * reorders the IEEE adds — so, per the Gates discipline, the
    * operator asserts IN-JOB that the worst-case reordering
    * divergence from the single-task id-ordered fold is within
    * `maxAbsError`: per dimension, both folds lie within
    * eps·(n+P)·Σ|x| of the exact real sum (standard sequential-
    * summation bound, P = partial count), so their centroids differ
    * by at most `err_bound` = 2·eps·(n+P)·Σ|x|/n — computed from the
    * carried Σ|x| and emitted per row; the job FAILS if any bound
    * exceeds the tolerance (the caller then knows the data's
    * magnitude/cardinality outgrew the relaxation, instead of
    * silently drifting from the exact answer). SimilaritySpec proves
    * |twoPhase − exact| ≤ err_bound on random data under adversarial
    * repartition. Null vectors are excluded like [[groupCentroids]].
    *
    * MEMORY CONTRACT: phase 1 buffers each input PARTITION's rows
    * in-heap (to sort by id before folding), so partition size — not
    * group size — is the bound that matters here; it is enforced
    * LOUDLY via `maxPartitionRows` (a skewed/oversized partition must
    * fail with this message, not OOM an executor silently — the same
    * posture as [[groupCentroids]]' maxGroupSize). Repartition the
    * input finer, or raise the bound deliberately for fat executors.
    * The small result is eagerly materialized via localCheckpoint —
    * its blocks live in executor storage and do NOT survive executor
    * loss; on a real cluster write it to storage promptly (it is
    * groups × dim rows — trivially small next to the input).
    * Output: (group, n, dim, c, err_bound). */
  def groupCentroidsTwoPhase(
      df0: DataFrame,
      groupCol: String,
      idCol: String,
      vecCol: String,
      maxAbsError: Double = 1e-6,
      maxPartitionRows: Long = 4L << 20): DataFrame = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val df = df0.filter(col(vecCol).isNotNull)
    val spark = df.sparkSession
    val sel = df.select(col(groupCol).as("group"),
      col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<float>").as("v"))
    val groupType = sel.schema("group").dataType
    val partialSchema = StructType(Seq(
      StructField("group", groupType),
      StructField("pid", IntegerType, nullable = false),
      StructField("pn", LongType, nullable = false),
      StructField("psum", ArrayType(DoubleType, containsNull = false)),
      StructField("pabs", ArrayType(DoubleType, containsNull = false))))
    // phase 1: genuine per-partition imperative fold (mapPartitions is
    // the right tool here — there is no Catalyst spelling of "buffer,
    // sort by id, fold sequentially" that avoids collecting the group)
    val maxPart = maxPartitionRows
    val partialsRdd = sel.rdd.mapPartitionsWithIndex { (pid, it) =>
      val byGroup = scala.collection.mutable.LinkedHashMap
        .empty[Any, scala.collection.mutable.ArrayBuffer[(Long, scala.collection.Seq[Float])]]
      var buffered = 0L
      it.foreach { r =>
        buffered += 1
        require(buffered <= maxPart,
          s"groupCentroidsTwoPhase buffers each partition in-heap for " +
            s"the id-ordered phase-1 fold: partition $pid exceeds " +
            s"maxPartitionRows=$maxPart. Repartition the input into " +
            "more partitions, or raise the bound deliberately.")
        val buf = byGroup.getOrElseUpdate(r.get(0),
          scala.collection.mutable.ArrayBuffer.empty)
        buf += ((r.getLong(1), r.getSeq[Float](2)))
      }
      byGroup.iterator.map { case (g, rows) =>
        val sorted = rows.sortBy(_._1)
        val dim = sorted.head._2.length
        val sum = new Array[Double](dim)
        val abs = new Array[Double](dim)
        sorted.foreach { case (_, v) =>
          require(v.length == dim, s"ragged vectors: ${v.length} vs $dim")
          var i = 0
          while (i < dim) {
            val x = v(i).toDouble; sum(i) += x; abs(i) += math.abs(x); i += 1
          }
        }
        Row(g, pid, rows.length.toLong, sum.toSeq, abs.toSeq)
      }
    }
    val partials = spark.createDataFrame(partialsRdd, partialSchema)
    // phase 2: deterministic pid-ordered combine of the tiny partials.
    // sort_array on struct(pid, ...) orders by pid (first field), so
    // the parallel field arrays handed to the UDF are pid-ordered —
    // no Row-typed UDF input needed.
    val eps = 2.220446049250313e-16 // IEEE double machine epsilon
    val combineUdf = udf((
        ns: scala.collection.Seq[Long],
        sums: scala.collection.Seq[scala.collection.Seq[Double]],
        abss: scala.collection.Seq[scala.collection.Seq[Double]]) => {
      val dim = sums.head.length
      val sum = new Array[Double](dim)
      val abs = new Array[Double](dim)
      var n = 0L
      var p = 0
      while (p < ns.length) {
        n += ns(p)
        val s = sums(p); val a = abss(p)
        // phase 1 catches ragged vectors WITHIN a partition; a group
        // whose partitions disagree on dim (each internally
        // consistent) must fail just as loudly here — same contract
        // as Kernels.centroid, never a silent truncation
        require(s.length == dim,
          s"ragged vectors across partitions: ${s.length} vs $dim")
        var i = 0
        while (i < dim) { sum(i) += s(i); abs(i) += a(i); i += 1 }
        p += 1
      }
      val nOps = (n + ns.length).toDouble
      Array.tabulate(dim) { i =>
        (sum(i) / n, 2.0 * eps * nOps * abs(i) / n)
      }.toSeq
    })
    val res = partials
      .groupBy("group")
      .agg(sort_array(collect_list(struct(col("pid"), col("pn"),
        col("psum"), col("pabs")))).as("ps"), sum(col("pn")).as("n"))
      .select(col("group"), col("n"),
        posexplode(combineUdf(
          transform(col("ps"), s => s.getField("pn")),
          transform(col("ps"), s => s.getField("psum")),
          transform(col("ps"), s => s.getField("pabs")))).as(Seq("_d0", "cb")))
      .select(col("group"), col("n"),
        (col("_d0") + 1).cast("long").as("dim"),
        col("cb._1").as("c"), col("cb._2").as("err_bound"))
      // small result (groups × dim rows), eagerly materialized with
      // truncated lineage so the gate below and the caller's reads
      // never re-run the phase-1 scan — and nothing is registered
      // with the cache manager (cache-clean, like the sampled gates)
      .localCheckpoint(true)
    // the in-job gate: loud failure the moment the relaxation's bound
    // stops being negligible (same discipline as Gates.requireFloor)
    val worst = res.agg(max(col("err_bound"))).first()
    val worstBound = if (worst.isNullAt(0)) 0.0 else worst.getDouble(0)
    require(worstBound <= maxAbsError,
      f"groupCentroidsTwoPhase reordering-error bound $worstBound%.3e " +
        f"exceeds maxAbsError=$maxAbsError%.3e — the partial-sum " +
        "relaxation is no longer safely exact for this data; use " +
        "groupCentroids (bitwise fold) or raise the tolerance " +
        "deliberately")
    res
  }

  /** Centroid-distance outliers: each vector's cosine to ITS OWN
    * group's centroid, lowest k emitted — the mislabeled/junk-vector
    * screen a curation run applies per class or per source. The
    * centroid is cast to float (correctly rounded, engine-identical)
    * so the scoring reuses the bitwise [[Kernels.cosine]] kernel; the
    * ranking is one narrow TakeOrdered, never a global sort. */
  def centroidOutliers(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    graft.expressions.GraftFunctions.register(df.sparkSession)
    val cents = groupCentroids(df, groupCol, idCol, vecCol)
      .groupBy("group")
      .agg(transform(sort_array(collect_list(struct(col("dim"), col("c")))),
        s => s.getField("c").cast("float")).as("centroid"))
    df.select(col(idCol).cast("long").as("id"),
        col(groupCol).as("group"), col(vecCol).as("v"))
      .join(cents, "group")
      .select(col("id"), col("group"),
        call_function("graft_cosine", col("v"), col("centroid")).as("cos"))
      .orderBy(col("cos").asc, col("id").asc)
      .limit(k)
  }

  /** Distributed Lloyd k-means — the FULL-CORPUS clustering pass
    * (the bounded-sample `trainCentroids` trains IVF cells from a
    * hash-ordered sample; this is the spelling for when the corpus
    * itself must be clustered and assignments are the product).
    * Deterministic end to end: seeds are the k smallest-id vectors
    * (cluster i = i-th smallest id), assignment is argmin SQUARED
    * distance with (distance, cluster) tiebreak, and recentering is
    * [[groupCentroids]]'s id-ordered bitwise fold — so any engine,
    * partitioning, or retry produces the identical clustering, and
    * an oracle can replay every iteration.
    *
    * Scale shape per iteration: centroids collapse to ONE broadcast
    * row (k·dim doubles); assignment is a map-side fold per vector
    * (no shuffle of the corpus); recentering pays one keyed shuffle
    * guarded by `maxGroupSize`. Driver holds only the k seed rows
    * (k <= 4096, loud). Empty clusters drop out (standard Lloyd);
    * `iters` counts assignment passes.
    *
    * Output: (id, cluster, cluster_n). */
  def kmeansLloyd(
      df0: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 2,
      maxGroupSize: Long = 1L << 20): DataFrame = {
    require(k >= 2 && k <= 4096, s"k must be in [2, 4096], got $k")
    require(iters >= 1 && iters <= 10,
      s"iters must be in [1, 10], got $iters")
    val spark = df0.sparkSession
    val df = df0.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("v"))
    val seeds = df.orderBy("id").limit(k).collect()
    require(seeds.length >= 2,
      s"kmeansLloyd needs >= 2 vectors, got ${seeds.length}")
    val seedRows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(seeds.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row(
          i.toLong, r.getSeq[Float](1).map(_.toDouble))
      }: _*)
    val centSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cluster",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cvec",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType), nullable = false)))
    var cents = spark.createDataFrame(seedRows, centSchema)
    def assign(cs: DataFrame): DataFrame = {
      val one = cs.agg(sort_array(
        collect_list(struct(col("cluster"), col("cvec")))).as("_cs"))
      df.crossJoin(broadcast(one))
        .withColumn("_best", array_min(transform(col("_cs"), c =>
          struct(
            aggregate(
              zip_with(col("v"), c.getField("cvec"),
                (x, y) => (x.cast("double") - y) *
                  (x.cast("double") - y)),
              lit(0.0), (acc, t) => acc + t).as("d"),
            c.getField("cluster").as("cluster")))))
        .select(col("id"), col("v"),
          col("_best").getField("cluster").as("cluster"))
    }
    var assigned = assign(cents)
    for (_ <- 2 to iters) {
      val cl = groupCentroids(assigned, "cluster", "id", "v",
        maxGroupSize)
      cents = cl
        .groupBy(col("group").as("cluster"))
        .agg(sort_array(collect_list(struct(col("dim"), col("c"))))
          .as("cs"))
        .select(col("cluster"),
          transform(col("cs"), s => s.getField("c")).as("cvec"))
      assigned = assign(cents)
    }
    // the final assignment is consumed at least twice (the size agg
    // and the join back; callers like semanticDedupPairs add a guard
    // pass and a self-join) — persist the NARROW (id, cluster) frame
    // so the assign passes run once, not once per consumer. Narrow on
    // purpose: the vectors are droppable here and callers re-attach
    // them by id; MEMORY_AND_DISK spills rather than OOMs and blocks
    // stay recomputable (no localCheckpoint caveat).
    val aFinal = assigned.select(col("id"), col("cluster"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = aFinal.groupBy("cluster")
      .agg(count(lit(1)).as("cluster_n"))
    aFinal.join(sizes, "cluster")
      .select(col("id"), col("cluster"), col("cluster_n"))
  }

  /** Per-DIMENSION embedding drift between two snapshots, per group
    * — the diagnostic UNDER [[centroidDrift]]'s aggregate cosine:
    * when the rollout monitor fires, this table says WHICH
    * dimensions moved (a truncated projection head, a re-normalized
    * block, one poisoned feature) instead of one opaque angle. Per
    * (group, dim): n, mean, population variance on BOTH snapshots,
    * and the standardized mean shift
    * effect = |μ_ref − μ_cur| / √((σ²_ref + σ²_cur)/2) — Cohen's-d
    * shaped, unit-free across dimensions of different scales.
    *
    * Determinism: per (group, dim) the values fold IN ID ORDER
    * (sort_array over (id, x) structs — the [[groupCentroids]]
    * bitwise discipline, maxGroupSize-guarded loudly), once for Σx
    * and once for Σx² — both sequential IEEE chains the oracle
    * replays with `list(... ORDER BY id)` folds; mean/var/effect
    * are fixed IEEE chains at the 6-decimal face. Groups present on
    * one side only drop (no drift to measure); a snapshot pair with
    * different dimensionalities fails loudly (corruption, not
    * drift). Zero-variance dims emit null effect (undecidable).
    *
    * Shape: one posexplode + (group, dim)-keyed agg per side —
    * each task holds ONE dimension's n doubles, never whole
    * vectors — then a (groups·dim)-sized join. Row-scaled work ends
    * at the folds.
    *
    * Output: (group, dim, n_ref, n_cur, mean_ref, mean_cur,
    * var_ref, var_cur, effect). */
  def dimDrift(
      ref: DataFrame,
      cur: DataFrame,
      groupCol: String,
      idCol: String,
      vecCol: String,
      maxGroupSize: Long = 1L << 20): DataFrame = {
    def side(df0: DataFrame, tag: String): DataFrame = {
      val df = df0.filter(col(vecCol).isNotNull)
      val oversized = df.groupBy(col(groupCol).as("group"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > maxGroupSize)
        .limit(1).collect()
      require(oversized.isEmpty, {
        val r = oversized.head
        s"dimDrift folds each (group, dim) in one task: group " +
          s"'${r.get(0)}' has ${r.getLong(1)} rows > maxGroupSize=" +
          s"$maxGroupSize on the $tag side. Pre-sample the group " +
          "or raise the bound deliberately."
      })
      df.select(col(groupCol).as("group"),
          col(idCol).cast("long").as("_id"),
          posexplode(col(vecCol).cast("array<float>"))
            .as(Seq("_d0", "_xf")))
        .select(col("group"), (col("_d0") + 1).cast("long").as("dim"),
          col("_id"), col("_xf").cast("double").as("_x"))
        .groupBy("group", "dim")
        .agg(sort_array(collect_list(struct(col("_id"), col("_x"))))
          .as("_vs"), count(lit(1)).as(s"n_$tag"))
        .withColumn(s"_sx_$tag",
          aggregate(transform(col("_vs"), s => s.getField("_x")),
            lit(0.0), (a, x) => a + x))
        .withColumn(s"_sxx_$tag",
          aggregate(transform(col("_vs"),
            s => s.getField("_x") * s.getField("_x")),
            lit(0.0), (a, x) => a + x))
        .drop("_vs")
    }
    val a = side(ref, "ref")
    val b = side(cur, "cur")
    val dimsA = a.agg(max("dim")).head()
    val dimsB = b.agg(max("dim")).head()
    if (!dimsA.isNullAt(0) && !dimsB.isNullAt(0)) {
      require(dimsA.getLong(0) == dimsB.getLong(0),
        s"dimDrift: snapshot dimensionalities differ — ref has " +
          s"${dimsA.getLong(0)} dims, cur has ${dimsB.getLong(0)}; " +
          "that is corruption (or an encoder swap), not drift")
    }
    def meanC(t: String) = col(s"_sx_$t") / col(s"n_$t")
    def varC(t: String) =
      col(s"_sxx_$t") / col(s"n_$t") - meanC(t) * meanC(t)
    val den = sqrt((varC("ref") + varC("cur")) / lit(2.0))
    a.join(b, Seq("group", "dim"))
      .select(col("group"), col("dim"), col("n_ref"), col("n_cur"),
        round(meanC("ref"), 6).as("mean_ref"),
        round(meanC("cur"), 6).as("mean_cur"),
        round(varC("ref"), 6).as("var_ref"),
        round(varC("cur"), 6).as("var_cur"),
        when(den > 0.0,
          round(abs(meanC("ref") - meanC("cur")) / den, 6))
          .as("effect"))
  }

  /** SemDeDup-style semantic near-duplicate pairs: Lloyd k-means
    * partitions the corpus, then exact cosine runs ONLY within each
    * cluster — the published cluster-bounded spelling (Abbas et al.
    * 2023, "SemDeDup") of embedding dedup at scale, where all-pairs
    * is impossible and LSH recall on high thresholds is wasteful:
    * two semantic duplicates sit near each other, hence in the same
    * k-means cell, and the pair stage drops from O(n²) to
    * O(Σ m_c²) with m_c ≈ n/k chosen by the caller's k.
    *
    * By construction this only reports WITHIN-cluster pairs — a pair
    * straddling a cell boundary is missed (the method's documented
    * recall trade; raise k slower than n, or run
    * [[Dedup.embeddingNearDupPairs]] when cross-cell recall
    * matters). Determinism: clustering is [[kmeansLloyd]]
    * (deterministic seeds, (d, cluster) argmin tie-break, id-ordered
    * bitwise recentering); cosine is the [[Kernels.cosineArrays]]
    * dim-ordered fold, bitwise equal to the oracle's sequential
    * list fold — the emitted cosine needs no rounding.
    *
    * Shape: the k-means passes (broadcast centroids, no corpus
    * shuffle per pass), one id-keyed join to re-attach vectors, one
    * cluster-keyed self-join bounded TWO ways (both loud): the worst
    * single cell ≤ `maxClusterSize`, and the DERIVED total work
    * Σ_c m_c·(m_c−1)/2 — the exact in-cell pair count the self-join
    * will generate, computed from the same cluster_n the assignment
    * already carries — ≤ `maxPairs`. The per-cell cap alone is not a
    * work bound (many mid-size cells multiply), and a flat cap
    * generous enough for a big corpus quietly admits a quadratic
    * cell on a small one; the pair budget is scale-free.
    *
    * Output: (cluster, id_a, id_b, cos), id_a < id_b. */
  def semanticDedupPairs(
      df0: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 2,
      minCos: Double = 0.9,
      maxClusterSize: Long = 10000L,
      maxPairs: Long = 50000000L): DataFrame = {
    require(minCos > 0.0 && minCos <= 1.0,
      s"minCos must be in (0, 1], got $minCos")
    require(maxClusterSize >= 2L,
      s"maxClusterSize must be >= 2, got $maxClusterSize")
    require(maxPairs >= 1L, s"maxPairs must be >= 1, got $maxPairs")
    val assigned = kmeansLloyd(df0, idCol, vecCol, k, iters)
    // exact m·(m−1) in DECIMAL(38,0) — no long overflow however
    // large a cell gets, same exact-moment discipline as the
    // correlation family
    val cn = col("cluster_n")
      .cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val stats = assigned.select("cluster", "cluster_n").distinct()
      .agg(max(col("cluster_n")), sum(cn * (cn - lit(1)))).head()
    if (!stats.isNullAt(0)) {
      require(stats.getLong(0) <= maxClusterSize,
        s"semanticDedupPairs: a cluster holds ${stats.getLong(0)} " +
          s"vectors > maxClusterSize=$maxClusterSize — the in-cell " +
          "pair stage is O(m²); raise k, or raise the bound " +
          "deliberately")
      val pairs = BigDecimal(stats.getDecimal(1)) / 2
      require(pairs <= BigDecimal(maxPairs),
        s"semanticDedupPairs: the clustering yields $pairs in-cell " +
          s"pairs > maxPairs=$maxPairs — the exact-cosine stage " +
          "would do exactly that much work; raise k (smaller " +
          "cells), or raise the budget deliberately")
    }
    val v = df0.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("v"))
    val withVec = assigned.select("id", "cluster").join(v, "id")
    // native codegen cosine (r14): the former Scala UDF paid a
    // dispatch + ArrayData→Seq conversion + boxing per in-cell pair;
    // graft_cosine is the same strict left-to-right double fold
    // ([[Kernels.cosineArrays]] == [[CosineSimilarity.compute]]
    // bitwise), inlined into the join's whole-stage codegen
    graft.expressions.GraftFunctions.register(df0.sparkSession)
    withVec.as("a")
      .join(withVec.as("b"),
        col("a.cluster") === col("b.cluster") &&
          col("a.id") < col("b.id"))
      .select(col("a.cluster").as("cluster"),
        col("a.id").as("id_a"), col("b.id").as("id_b"),
        call_function("graft_cosine", col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Davies–Bouldin cluster-quality components per group — the
    * clustering diagnostic that needs NO pairwise point distances
    * (unlike silhouette's O(n²)): per-cluster scatter S_i (mean
    * Euclidean distance to own centroid) and the DB component
    * max_{j≠i} (S_i + S_j) / M_ij over centroid distances M_ij.
    * Lower is better-separated; the corpus DB index is the mean of
    * the components. The gate to run after (re)training IVF
    * centroids or per-label prototypes: a label whose component
    * jumps has collapsed into a neighbor.
    *
    * Determinism: centroids come from [[groupCentroids]] (vec-id
    * ordered bitwise fold, maxGroupSize-guarded); every distance is
    * a dim-ordered sequential fold + one sqrt; scatters fold in
    * vec-id order; the max over j is order-free. Bit-identical on
    * any engine/partitioning.
    *
    * Scale shape: one centroid pass, one broadcast of k centroid
    * rows onto the corpus for per-point distances, one scatter agg,
    * then k×(k−1) centroid pairs — k is the label/cell count,
    * bounded by construction. Pairs with coincident centroids
    * (M = 0) are excluded from the max rather than emitting inf.
    *
    * Output: (group, n, scatter, db_component) per group. */
  /** Embedding drift between two corpus snapshots, per group — the
    * encoder-rollout / ingest-shift monitor: each label's (or
    * cell's) centroid is computed on BOTH snapshots and compared by
    * cosine and L2. A cosine sliding from 1 flags direction drift
    * (encoder change, population shift); L2 adds magnitude. The
    * embedding-space sibling of [[graft.operators.Profile.psi]].
    *
    * Determinism: both centroids ride [[groupCentroids]] (vec-id
    * ordered bitwise fold, maxGroupSize-guarded); dot/norm/L2 fold
    * in dim order; faces at 6 decimals (sqrt/division chains over
    * derived doubles). Groups present in only one snapshot are
    * dropped (no drift to measure); mismatched dimensionalities
    * fail loudly (corruption, not drift).
    *
    * Shape: two centroid passes + a groups-sized join; nothing
    * row-scaled after the folds.
    *
    * Output per group: (group, n_ref, n_cur, cosine, l2_dist). */
  def centroidDrift(
      ref: DataFrame,
      cur: DataFrame,
      groupCol: String,
      idCol: String,
      vecCol: String,
      maxGroupSize: Long = 1L << 20): DataFrame = {
    def cents(df: DataFrame, nName: String, vName: String): DataFrame =
      groupCentroids(df, groupCol, idCol, vecCol, maxGroupSize)
        .groupBy(col("group"))
        .agg(first(col("n")).as(nName),
          sort_array(collect_list(struct(col("dim"), col("c"))))
            .as("_cs"))
        .select(col("group"), col(nName),
          transform(col("_cs"), s => s.getField("c")).as(vName))
    val joined = cents(ref, "n_ref", "_va")
      .join(cents(cur, "n_cur", "_vb"), "group")
    val badDims = joined
      .filter(size(col("_va")) =!= size(col("_vb")))
      .limit(1).collect()
    require(badDims.isEmpty, {
      val r = badDims.head
      s"centroidDrift: group '${r.get(0)}' has ${r.getSeq(2).size}-dim " +
        s"ref vs ${r.getSeq(4).size}-dim cur centroids — snapshot " +
        "dimensionalities must match (corruption, not drift)"
    })
    def fold(c: Column): Column =
      aggregate(c, lit(0.0), (acc, t) => acc + t)
    val dot = fold(zip_with(col("_va"), col("_vb"), (x, y) => x * y))
    val na = sqrt(fold(transform(col("_va"), x => x * x)))
    val nb = sqrt(fold(transform(col("_vb"), x => x * x)))
    val l2 = sqrt(fold(zip_with(col("_va"), col("_vb"),
      (x, y) => (x - y) * (x - y))))
    joined.select(col("group"), col("n_ref"), col("n_cur"),
      round(when(na > 0.0 && nb > 0.0, dot / (na * nb)), 6)
        .as("cosine"),
      round(l2, 6).as("l2_dist"))
  }

  def daviesBouldin(
      df0: DataFrame,
      groupCol: String,
      idCol: String,
      vecCol: String,
      maxGroupSize: Long = 1L << 20): DataFrame = {
    // DIRECT guard for the scatter fold below: its per-group
    // sort_array(collect_list(distances)) builds one group into one
    // task, exactly like groupCentroids' vector fold. groupCentroids
    // runs the same check on the same groups, but relying on it
    // firing FIRST would couple this operator's safety to plan
    // ordering — an edit there (or a centroid-source swap) must not
    // silently unguard the scatter. One narrow count job, group
    // column only.
    val oversizedHere = df0.filter(col(vecCol).isNotNull)
      .groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > maxGroupSize)
      .limit(1).collect()
    require(oversizedHere.isEmpty, {
      val r = oversizedHere.head
      s"daviesBouldin's scatter aggregation collects each group's " +
        s"distances into ONE task: group '${r.get(0)}' has " +
        s"${r.getLong(1)} rows > maxGroupSize=$maxGroupSize. " +
        "Pre-sample the group or raise the bound deliberately."
    })
    val cent = groupCentroids(df0, groupCol, idCol, vecCol, maxGroupSize)
      .groupBy(col("group"), col("n"))
      .agg(sort_array(collect_list(struct(col("dim"), col("c"))))
        .as("cs"))
      .select(col("group"), col("n"),
        transform(col("cs"), s => s.getField("c")).as("cvec"))
    def sqDist(a: Column, b: Column): Column =
      sqrt(aggregate(
        zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, t) => acc + t))
    val dist = df0.filter(col(vecCol).isNotNull)
      .select(col(groupCol).as("group"),
        col(idCol).cast("long").as("id"),
        transform(col(vecCol).cast("array<float>"),
          x => x.cast("double")).as("v"))
      .join(broadcast(cent.select(col("group"), col("cvec"))), "group")
      .select(col("group"), col("id"), sqDist(col("v"), col("cvec")).as("d"))
    val scatter = dist.groupBy("group")
      .agg(sort_array(collect_list(struct(col("id"), col("d")))).as("ds"),
        count(lit(1)).as("_n"))
      .select(col("group"),
        (aggregate(transform(col("ds"), s => s.getField("d")),
          lit(0.0), (acc, t) => acc + t) / col("_n").cast("double"))
          .as("scatter"))
    val other = cent.select(col("group").as("g2"), col("cvec").as("cvec2"))
    val comp = cent.join(other, col("group") =!= col("g2"))
      .select(col("group"), col("n"), col("g2"),
        sqDist(col("cvec"), col("cvec2")).as("m"))
      .join(scatter, "group")
      .join(scatter.select(col("group").as("g2"),
        col("scatter").as("_s2")), "g2")
      .filter(col("m") > 0.0)
      .groupBy(col("group"), col("n"), col("scatter"))
      .agg(max((col("scatter") + col("_s2")) / col("m"))
        .as("db_component"))
    comp.select(col("group"), col("n"), col("scatter"),
      col("db_component"))
  }

  /** Mean centroid-silhouette per cluster — the membership-quality
    * complement to [[daviesBouldin]] (which scores cluster
    * separation/compactness at the centroid level): per vector,
    * a = distance to its OWN centroid, b = distance to the NEAREST
    * OTHER centroid, s = (b − a) / max(a, b) ∈ [−1, 1]; positive
    * means the vector sits closer to its own prototype, negative
    * means it would rather live in another cluster. This is the
    * linear-scan centroid variant (the "simplified silhouette") —
    * the classical pairwise silhouette is O(n²) in the corpus and
    * un-runnable at 100 TB, while this shape is one broadcast of the
    * g centroid vectors against one corpus scan.
    *
    * Determinism: centroids come from [[groupCentroids]]' id-ordered
    * fold (the q90 contract); each vector→centroid distance folds
    * (xᵢ−cᵢ)² in ascending index order; a is a single selected value
    * and b a MIN (order-free); the per-cluster mean folds s IN ID
    * ORDER, guarded by the same direct `maxGroupSize` count as
    * daviesBouldin's scatter (an edit to the centroid source must
    * not silently unguard this fold). Face rounded to 6 decimals.
    *
    * Output: (group, n, silhouette), one row per cluster. */
  def centroidSilhouette(
      df0: DataFrame,
      groupCol: String,
      idCol: String,
      vecCol: String,
      maxGroupSize: Long = 1L << 20): DataFrame = {
    val oversizedHere = df0.filter(col(vecCol).isNotNull)
      .groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > maxGroupSize)
      .limit(1).collect()
    require(oversizedHere.isEmpty, {
      val r = oversizedHere.head
      s"centroidSilhouette's per-cluster mean collects each group's " +
        s"scores into ONE task: group '${r.get(0)}' has " +
        s"${r.getLong(1)} rows > maxGroupSize=$maxGroupSize. " +
        "Pre-sample the group or raise the bound deliberately."
    })
    val cent = groupCentroids(df0, groupCol, idCol, vecCol, maxGroupSize)
      .groupBy(col("group"), col("n"))
      .agg(sort_array(collect_list(struct(col("dim"), col("c"))))
        .as("cs"))
      .select(col("group").as("_cg"),
        transform(col("cs"), s => s.getField("c")).as("cvec"))
    require(cent.limit(2).count() == 2L,
      "centroidSilhouette needs at least 2 clusters: with one " +
        "centroid there is no 'nearest other' term b")
    def sqDist(a: Column, b: Column): Column =
      sqrt(aggregate(
        zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, t) => acc + t))
    val dist = df0.filter(col(vecCol).isNotNull)
      .select(col(groupCol).as("group"),
        col(idCol).cast("long").as("id"),
        transform(col(vecCol).cast("array<float>"),
          x => x.cast("double")).as("v"))
      .crossJoin(broadcast(cent))
      .select(col("group"), col("id"), col("_cg"),
        sqDist(col("v"), col("cvec")).as("d"))
    val perVec = dist.groupBy(col("group"), col("id"))
      .agg(max(when(col("_cg") === col("group"), col("d"))).as("a"),
        min(when(col("_cg") =!= col("group"), col("d"))).as("b"))
      .select(col("group"), col("id"),
        when(greatest(col("a"), col("b")) === 0.0, lit(0.0))
          .otherwise((col("b") - col("a")) /
            greatest(col("a"), col("b"))).as("s"))
    perVec.groupBy("group")
      .agg(sort_array(collect_list(struct(col("id"), col("s"))))
        .as("ss"), count(lit(1)).as("n"))
      .select(col("group"), col("n"),
        round(aggregate(transform(col("ss"), s => s.getField("s")),
          lit(0.0), (acc, t) => acc + t) / col("n").cast("double"), 6)
          .as("silhouette"))
  }

  /** Top principal component of the embedding corpus — the dominant
    * covariance eigenvector, i.e. the direction a drift monitor or a
    * whitening pass cares about first, with its explained-variance
    * share. Computed by FIXED-COUNT power iteration so the result is
    * a pure function of the data (no convergence test, no RNG):
    * reproducible across runs, engines, and partitionings.
    *
    * Determinism contract (the corrMatrix + q39 disciplines
    * combined):
    *   1. Components quantize to integers qᵢ = floor(xᵢ·2^bits) — a
    *      power-of-TWO scale on purpose: a float widened to double is
    *      exact, a double times 2^k is exact (IEEE exponent shift),
    *      and floor is exact, so the quantization has ZERO rounding
    *      seam across engines (a 10^k scale would hit each engine's
    *      own float→decimal rounding). All second moments Σqᵢqⱼ,
    *      first moments Σqᵢ and n are then EXACT DECIMAL(38,0) group
    *      sums — order-free, partition-free, and overflow fails
    *      loudly (ANSI), never silently.
    *   2. The scaled covariance Cᵢⱼ = n·Σqᵢqⱼ − Σqᵢ·Σqⱼ narrows to
    *      double ONCE per cell; every subsequent float op (the d-term
    *      matrix·vector folds, the L2 norms, the Rayleigh quotient)
    *      is an ORDERED fold in ascending index order — bit-identical
    *      to SQL's list_aggregate over index-ordered lists.
    *
    * Shape at 100 TB: ONE scan, and each partition folds its rows
    * into the d(d+3)/2 + 1 moment cells locally (a tight primitive
    * loop — long fast path, exact BigInteger escalation on overflow;
    * the former explode + DECIMAL(38,0) hash-aggregate spelling paid
    * ~d²/2 struct allocations and decimal updates PER ROW for the
    * same exact integers). Only numPartitions × that many cells come
    * to the driver (loudly bounded by `maxDim`) — the corpus itself
    * is never collected, shuffled, re-scanned, or iterated over. The
    * power iteration runs on the driver's d×d matrix: d ≤ 128 ⇒
    * ≤ 200k multiplies per pass, microseconds. Iterating IN Spark
    * would shuffle d² rows per pass for a matrix that fits in a
    * cache line budget — wrong tool.
    *
    * Output: (dim 1..d, component, ev_share) — the unit-L2
    * eigenvector at 6 decimals and its λ/trace(C) share (same value
    * every row, a deliberate scalar attach). Zero-variance corpora
    * fail loudly (the iterate annihilates). */
  def principalComponent(
      df0: DataFrame,
      vecCol: String,
      iterations: Int = 12,
      bits: Int = 20,
      maxDim: Int = 128): DataFrame = {
    require(iterations >= 1 && iterations <= 64,
      s"iterations must be in [1, 64], got $iterations")
    require(bits >= 8 && bits <= 30,
      s"bits must be in [8, 30], got $bits")
    val spark = df0.sparkSession
    val mult = (1L << bits).toDouble
    val df = df0.filter(col(vecCol).isNotNull)
    val dims = df.select(size(col(vecCol)).as("d")).distinct()
      .limit(3).collect().map(_.getInt(0))
    require(dims.length == 1,
      s"principalComponent needs one uniform dimension, saw " +
        dims.sorted.mkString("{", ",", "}"))
    val d = dims.head
    require(d >= 2 && d <= maxDim,
      s"dimension $d outside [2, $maxDim] — the moment frame is " +
        "d(d+1)/2 cells and the driver matrix d×d; raise maxDim " +
        "deliberately if the cells still fit comfortably")
    // the quantized components are LONGs; their pairwise products run
    // in long arithmetic (whole-stage codegen — the former
    // DECIMAL×DECIMAL spelling paid a BigDecimal multiply per one of
    // the d(d+1)/2 terms per row) and widen to DECIMAL(38,0) only at
    // the group sum, which stays exact. Exactness of the products is
    // GUARDED, not hoped: every |qᵢ| must stay ≤ floor(sqrt(2⁶³−1))
    // so qᵢ·qⱼ cannot wrap — the per-row check below raises loudly
    // with the offending magnitude (the loud-overflow contract the
    // decimal spelling carried), at d checks per row against the
    // d²/2 multiplies it protects.
    val qLim = 3037000499L // floor(sqrt(2^63 - 1))
    val q0 = df.select(transform(col(vecCol),
      x => floor(x.cast("double") * mult).cast("long")).as("q0"))
    val q = q0.select(when(
      aggregate(col("q0"), lit(0L), (a, x) => greatest(a, abs(x)))
        <= qLim, col("q0"))
      .otherwise(raise_error(concat(
        lit("principalComponent: a quantized component exceeds "),
        lit(qLim).cast("string"),
        lit(" in magnitude — the long product would wrap; lower " +
          "`bits` for this data range")))).as("q"))
    // moment pass (r14): one partition-local fold instead of the
    // former explode-into-DECIMAL(38,0)-hash-aggregate spelling,
    // which allocated d(d+3)/2 + 1 decimal structs PER ROW (~4.3M
    // at sf0.1) for integer sums a tight loop produces in one pass
    // with nothing shuffled. Exactness is UNCHANGED: every product
    // qᵢ·qⱼ fits a long exactly (the qLim guard above is precisely
    // the no-wrap bound), per-cell running sums ride a long fast
    // path and escalate to BigInteger the moment an add would wrap
    // (sign-rule check — detected, absorbed, never silent), and
    // partitions combine by exact BigInteger addition: the same
    // order-free exact integers the decimal aggregate produced, so
    // every covariance cell below is bitwise identical. The guarded
    // `q` projection (incl. its raise_error) still evaluates per
    // row inside this scan.
    val nCells = d * (d + 1) / 2
    val dLoc = d
    import spark.implicits._
    val partSums = q.select(col("q").as("value"))
      .as[Array[Long]]
      .rdd
      .mapPartitions { it =>
        val width = nCells + dLoc
        val big = Array.fill[java.math.BigInteger](width)(
          java.math.BigInteger.ZERO)
        val fast = new Array[Long](width)
        def add(c: Int, p: Long): Unit = {
          val s = fast(c) + p
          if (((fast(c) ^ s) & (p ^ s)) < 0L) {
            big(c) = big(c)
              .add(java.math.BigInteger.valueOf(fast(c)))
              .add(java.math.BigInteger.valueOf(p))
            fast(c) = 0L
          } else fast(c) = s
        }
        var n = 0L
        while (it.hasNext) {
          val qs = it.next()
          n += 1L
          var c = 0
          var i = 0
          while (i < dLoc) {
            val qi = qs(i)
            var j = i
            while (j < dLoc) {
              add(c, qi * qs(j)) // exact by the qLim guard
              c += 1
              j += 1
            }
            add(nCells + i, qi)
            i += 1
          }
        }
        var c = 0
        while (c < width) {
          if (fast(c) != 0L)
            big(c) = big(c).add(java.math.BigInteger.valueOf(fast(c)))
          c += 1
        }
        Iterator.single((n, big))
      }
      .collect()
    val nRows = partSums.map(_._1).sum
    val cells = Array.fill[java.math.BigInteger](nCells + d)(
      java.math.BigInteger.ZERO)
    for ((_, arr) <- partSums; c <- 0 until nCells + d)
      cells(c) = cells(c).add(arr(c))
    // same (i, j)-keyed map and scala-BigDecimal arithmetic the
    // decimal spelling fed downstream (identical values => identical
    // MathContext behavior => bitwise-identical doubles)
    def cellIdx(i: Int, j: Int): Int = i * d - i * (i - 1) / 2 + (j - i)
    val mom: Map[(Int, Int), BigDecimal] =
      ((for (i <- 0 until d; j <- i until d)
        yield (i, j) -> BigDecimal(BigInt(cells(cellIdx(i, j))))) ++
        (for (i <- 0 until d)
          yield (i, -1) -> BigDecimal(BigInt(cells(nCells + i)))) ++
        Seq((-2, -2) -> BigDecimal(nRows))).toMap
    val n = mom((-2, -2))
    require(n >= 2, s"principalComponent needs >= 2 rows, got $n")
    val c = Array.ofDim[Double](d, d)
    for (i <- 0 until d; j <- i until d) {
      val cij = (n * mom((i, j)) - mom((i, -1)) * mom((j, -1))).toDouble
      c(i)(j) = cij; c(j)(i) = cij
    }
    var trace = 0.0
    for (i <- 0 until d) trace += c(i)(i)
    def matVec(v: Array[Double]): Array[Double] =
      Array.tabulate(d) { i =>
        var s = 0.0
        var j = 0
        while (j < d) { s += c(i)(j) * v(j); j += 1 }
        s
      }
    def l2(v: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < d) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }
    var v = Array.fill(d)(1.0)
    for (_ <- 1 to iterations) {
      val w = matVec(v)
      val norm = l2(w)
      require(norm > 0.0,
        "principalComponent: the iterate annihilated — zero-variance " +
          "corpus (or a vector in the covariance null space)")
      v = w.map(_ / norm)
    }
    val w = matVec(v)
    var vw = 0.0
    var vv = 0.0
    for (i <- 0 until d) { vw += v(i) * w(i); vv += v(i) * v(i) }
    val lambda = vw / vv
    v.toSeq.zipWithIndex
      .map { case (x, i) => ((i + 1).toLong, x, lambda / trace) }
      .toDF("dim", "_c", "_e")
      .select(col("dim"), round(col("_c"), 6).as("component"),
        round(col("_e"), 6).as("ev_share"))
  }
}
