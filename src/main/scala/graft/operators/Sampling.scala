package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.TextFunctions

/** Sampling for training-data curation (mix rebalancing, eval-split
  * carving). Everything is hash-deterministic: the same row always
  * makes the same decision regardless of partitioning, executor
  * count, or retries — a property plain `rand()`-based sampling does
  * not have under task re-execution, and the one that matters when a
  * 100 TB job's stage gets retried halfway through. */
object Sampling {

  /** Cross-engine deterministic Bernoulli: keep a row iff the low 64
    * bits of md5(key ++ ":" ++ salt), read as UNSIGNED, fall below
    * fraction·2⁶⁴. Any engine with an md5 builtin reproduces the
    * exact decision set (DuckDB: `md5_number_lower(x) < T::UBIGINT`)
    * — the contract to reach for when a split must be carved
    * identically by non-Spark systems. */
  def crossEngineSample(
      df: DataFrame, keyCol: Column, fraction: Double,
      salt: String = "graft"): DataFrame = {
    df.filter(crossEngineKeep(keyCol, fraction, salt))
  }

  /** The keep-decision column behind [[crossEngineSample]], exposed
    * so stratified variants can switch fractions per stratum. */
  def crossEngineKeep(
      keyCol: Column, fraction: Double, salt: String): Column = {
    require(fraction >= 0.0 && fraction <= 1.0)
    if (fraction == 1.0) return keyCol.isNotNull
    val threshold = unsignedThreshold(fraction)
    val saltLocal = salt
    val u = udf((k: String) =>
      k != null && java.lang.Long.compareUnsigned(
        Kernels.md5Lower64(k + ":" + saltLocal), threshold) < 0)
    u(keyCol.cast("string"))
  }

  /** fraction·2⁶⁴ as the unsigned-bits long (fraction = 1.0 is
    * special-cased to keep-all before this is called — 2⁶⁴ itself
    * does not fit). */
  private[graft] def unsignedThreshold(fraction: Double): Long =
    (BigDecimal(fraction) * BigDecimal(BigInt(1) << 64))
      .toBigInt.longValue

  /** Deterministic corpus shuffle into shards — the "randomize 100 TB
    * of training documents, reproducibly" step every pretraining run
    * needs before sequence packing: a document's position must be a
    * pure function of its key (stage retries, re-runs, and other
    * engines must all agree), never of `rand()` or input order.
    *
    * Each row's md5(key ++ ":" ++ salt) low 64 bits (unsigned) give
    * BOTH its shard (hash mod nShards) and its rank within the shard
    * (unsigned hash order, key tiebreak on the astronomically-rare
    * collision) — so the output reads as a hash-random permutation of
    * the corpus, sharded. With UNIQUE keys (the normal case — keys
    * are ids) the permutation is cross-engine by the
    * [[crossEngineSample]] contract: DuckDB reproduces shard AND
    * position exactly (`md5_number_lower(k) % n`, `row_number() OVER
    * (PARTITION BY … ORDER BY hv, key)`) — the q99 oracle pins it.
    *
    * Scale shape: one shuffle keyed by shard; each shard sorts within
    * its own task — which is exactly the production write shape (one
    * task streams one sorted shard file), so pick nShards to make a
    * shard file-sized (100k+ shards at 100 TB), never a global sort.
    * Null keys hash as "" (all land together, deterministically);
    * shard is unsigned-correct for the full 64-bit hash range.
    * DUPLICATE keys (including multiple nulls) cannot tiebreak on the
    * key, so the order falls through to a hash of the row's HASHABLE
    * columns — still a pure function of content, never of arrival
    * order, but Spark-side only (a DuckDB oracle has no xxhash64, so
    * cross-engine position parity requires unique keys). Rows that
    * differ ONLY in an unhashable (map-typed) column cannot tiebreak
    * at all (maps are unordered; xxhash64 rejects them), so map-typed
    * input is REJECTED loudly by default — positions among such rows
    * would be the one thing this operator couldn't pin; pass
    * `allowMapTies = true` to accept the residual order-tie
    * deliberately (safe when the shuffle key is unique, where the
    * tiebreak never fires). Output: the input columns + (shard, pos),
    * pos 1-based within shard; `shard`/`pos` (and the internal `_sk`)
    * are reserved — input frames already carrying them are rejected
    * rather than silently overwritten. */
  def shuffleShards(
      df: DataFrame, keyCol: Column, nShards: Int,
      salt: String = "graft", allowMapTies: Boolean = false): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val reserved = Seq("shard", "pos", "_sk").filter(df.columns.contains)
    require(reserved.isEmpty,
      s"shuffleShards emits 'shard'/'pos' and uses '_sk' internally; " +
        s"the input already has ${reserved.mkString(", ")} — rename " +
        "before shuffling (silent overwrite would corrupt the caller's " +
        "columns)")
    val saltLocal = salt
    val n = nShards.toLong
    val u = udf((k: String) => {
      val h = Kernels.md5Lower64((if (k == null) "" else k) + ":" + saltLocal)
      // signed order of (h ^ MIN_VALUE) == unsigned order of h — the
      // flip makes Spark's signed long sort match DuckDB's UBIGINT
      (java.lang.Long.remainderUnsigned(h, n), h ^ Long.MinValue)
    })
    val withKey = df.withColumn("_sk", u(keyCol.cast("string")))
    // the duplicate-key tiebreak hashes every HASHABLE column (maps
    // are unordered and xxhash64 rejects them — a map-typed column
    // must not break the operator; the residual tie between rows
    // differing ONLY in map columns is documented above)
    def hashable(dt: org.apache.spark.sql.types.DataType): Boolean = {
      import org.apache.spark.sql.types._
      dt match {
        case _: MapType => false
        case s: StructType => s.fields.forall(f => hashable(f.dataType))
        case a: ArrayType => hashable(a.elementType)
        case _ => true
      }
    }
    val mapCols = df.schema.fields.filterNot(f => hashable(f.dataType))
    require(mapCols.isEmpty || allowMapTies,
      s"shuffleShards input has map-typed column(s) " +
        s"${mapCols.map(_.name).mkString(", ")} — rows differing only " +
        "there cannot tiebreak (maps are unordered, xxhash64 rejects " +
        "them) and would stay order-tied. Drop/serialize the column, " +
        "or pass allowMapTies = true to accept the residual tie " +
        "deliberately (safe when the shuffle key is unique).")
    val tieCols = df.schema.fields
      .filter(f => hashable(f.dataType)).map(f => col(f.name))
    val tie = if (tieCols.nonEmpty) xxhash64(tieCols: _*) else lit(0L)
    val w = Window.partitionBy(col("_sk._1"))
      .orderBy(col("_sk._2").asc, keyCol.asc, tie.asc)
    withKey
      .withColumn("shard", col("_sk._1"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("_sk")
  }

  /** Exact-count mixture balancing — cut a corpus to a target source
    * mix ("50% web, 30% books, 20% code"): per-group rate
    * fractions give BINOMIAL per-group counts, this gives EXACT ones. Two
    * phases: (1) one aggregate pass counts each group's available
    * rows (≤ |weights| rows to the driver — bounded by construction);
    * the driver apportions `total` into integer targets by largest
    * remainder (floor(wᵍ/Σw · total) + the leftover rows to the
    * largest fractional parts, group name breaking ties — so the
    * targets SUM TO `total` exactly, not total−|weights|+1 as plain
    * floors would), then caps each target at availability (capped
    * shortfalls are logged, never silently rebalanced — a mix that
    * can't be met should be a visible decision, not a surprise);
    * (2) one per-group window ranks rows by md5(key ++ ":" ++ salt)
    * and keeps each group's first targetᵍ. The md5 hex order makes
    * the EXACT kept set reproducible by any engine (DuckDB: same md5,
    * same row_number — the q81 oracle), and hash-order ranking means
    * the kept subset is stable under retries and repartitioning, and
    * nested across totals within a group (per-GROUP targets are
    * monotone in `total` up to the ±1 largest-remainder wobble).
    * Groups without a weight are dropped (weight 0); the group column
    * is compared as STRING (weights are string-keyed).
    *
    * Scale shape: the count aggregate is fully partial; the window
    * shuffles once on the group key with per-group parallel sorts —
    * the q75 per-group-window pattern. For few huge groups, pre-cut
    * each group with [[crossEngineKeep]] at a fraction comfortably
    * above targetᵍ/availᵍ before ranking (two-phase again: threshold
    * prune, exact rank on the survivors). */
  def mixtureSample(
      df: DataFrame,
      groupCol: String,
      keyCol: Column,
      weights: Map[String, Double],
      total: Long,
      salt: String = "graft"): DataFrame = {
    require(total >= 0L, "total must be non-negative")
    require(weights.nonEmpty, "weights must be non-empty")
    require(weights.values.forall(_ >= 0.0), "weights must be non-negative")
    val wsum = weights.values.sum
    require(wsum > 0.0, "at least one weight must be positive")
    val grp = col(groupCol).cast("string")
    val inMix = df.filter(grp.isin(weights.keys.toSeq: _*))
    val avail = inMix.groupBy(grp.as("_g")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // largest-remainder apportionment: floors first, then the leftover
    // total - Σfloor rows go to the largest fractional parts (group
    // name breaks ties) so Σtargets == total exactly
    val exactShares = weights.toSeq.sortBy(_._1)
      .map { case (g, w) => g -> w / wsum * total }
    val floors = exactShares.map { case (g, x) => g -> math.floor(x).toLong }
    var leftover = total - floors.map(_._2).sum
    val order = exactShares.zip(floors)
      .sortBy { case ((g, x), (_, f)) => (-(x - f), g) }
    val wants = scala.collection.mutable.Map(floors: _*)
    order.foreach { case ((g, _), _) =>
      if (leftover > 0L) { wants(g) += 1L; leftover -= 1L }
    }
    val targets = wants.toMap.map { case (g, want) =>
      val have = avail.getOrElse(g, 0L)
      if (have < want)
        System.err.println(s"[graft] mixtureSample: group '$g' wants " +
          s"$want rows but has $have — mix will run short")
      g -> math.min(want, have)
    }
    val targetCol = targets.foldLeft(lit(0L)) {
      case (acc, (g, t)) => when(grp === g, lit(t)).otherwise(acc)
    }
    val w = Window.partitionBy(grp)
      .orderBy(md5(concat(keyCol.cast("string"), lit(":" + salt))), keyCol)
    inMix.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= targetCol)
      .drop("_rn")
  }

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    * Spirakis, "Weighted random sampling with a reservoir", IPL 2006 —
    * the A-ES scheme): every row draws u ∈ (0,1) from its key's md5
    * (u = (md5_lower_64 >>> 11 + 0.5) / 2⁵³ — exact integer-and-IEEE
    * math any engine reproduces bit-for-bit), takes priority
    * ln(u)/weight, and the k LARGEST priorities win. Inclusion odds
    * are proportional to weight at each of the k draws, the decision
    * is retry/partitioning-stable like everything else in this file,
    * and the whole operator is ONE TakeOrdered over a narrow priority
    * column + one filter scan — no window, no global sort, bounded
    * driver state (k+1 doubles, loudly required <= maxDriverK).
    *
    * Cross-engine contract: every step except ln() is IEEE basic ops
    * (correctly rounded, engine-identical); ln differs by ≤ ~1 ulp
    * across libms, which can only flip the kept SET if the k-th and
    * (k+1)-th priorities are within that ulp — so the operator GATES
    * the boundary gap in-job (relative gap >= relTol or fail loudly,
    * the [[graft.operators.Gates]] discipline applied to determinism
    * itself). Rows with null/zero/negative weight are excluded (the
    * A-ES weight→0 limit: never sampled).
    *
    * Output: the k winners with original columns, no priority column
    * (ln values are the one thing the oracle can't rebuild bitwise). */
  def weightedSample(
      df: DataFrame,
      keyCol: Column,
      weightCol: Column,
      k: Int,
      salt: String = "graft",
      relTol: Double = 1e-9,
      maxDriverK: Int = 1000000): DataFrame = {
    require(k >= 0, s"k must be non-negative, got $k")
    require(k <= maxDriverK,
      s"k=$k exceeds maxDriverK=$maxDriverK — TakeOrdered returns k+1 " +
        "priorities to the driver; raise the bound explicitly if intended")
    require(!df.columns.contains("_pri"),
      "column name _pri is reserved by weightedSample")
    if (k == 0) return df.filter(lit(false))
    val saltLocal = salt
    val pri = udf((key: String, w: Double) => {
      val m = Kernels.md5Lower64(key + ":" + saltLocal) >>> 11
      math.log((m.toDouble + 0.5) / 9007199254740992.0) / w
    })
    // NaN is explicitly excluded: Spark SQL comparison semantics rank
    // NaN ABOVE every number (so `NaN > 0` is true!), and a NaN weight
    // yields a NaN priority that TakeOrdered would likewise sort first
    // — a NaN-weight row would silently win a slot every time
    val eligible = df.filter(weightCol.isNotNull &&
      !isnan(weightCol.cast("double")) && weightCol > 0.0)
    val withPri = eligible.withColumn("_pri",
      pri(keyCol.cast("string"), weightCol.cast("double")))
    // narrow top-(k+1): only the priority doubles travel to the driver
    val top = withPri.select(col("_pri"))
      .orderBy(col("_pri").desc).limit(k + 1).collect().map(_.getDouble(0))
    if (top.length <= k) return eligible // fewer rows than k: keep all
    val pk = top(k - 1); val pk1 = top(k)
    val gap = (pk - pk1) / math.max(math.abs(pk1), java.lang.Double.MIN_NORMAL)
    System.err.println(
      f"[graft] weightedSample boundary gap = $gap%.3e (tol $relTol%.1e)")
    require(gap >= relTol,
      f"weightedSample k=$k boundary priorities $pk%.17g / $pk1%.17g are " +
        f"within relTol=$relTol%.1e — a 1-ulp ln() disagreement could flip " +
        "the kept set; change salt or k")
    withPri.filter(col("_pri") >= pk).drop("_pri")
  }

  /** Mixture EPOCHING — materialize a training mix as (doc, epoch)
    * rows from per-source weights and a global token budget, the way
    * LLM pretraining mixes are actually scheduled: a source whose
    * token share falls short of its target weight is REPEATED
    * (multiple epochs), a source that overshoots is SUBSAMPLED
    * (a fractional epoch), and the whole assignment is deterministic
    * so a retried 100 TB job rebuilds the identical mix.
    *
    * Per source g: target_g = floor(budget · w_g/Σw) tokens;
    * e_g = target_g div T_g full epochs (T_g the source's exact token
    * count); the remaining r_g = target_g − e_g·T_g tokens come from
    * a fractional epoch that keeps docs in md5(salt|id) hash order
    * while the running token total stays ≤ r_g — the same
    * cumulative-prefix contract as [[Curation.tokenBudgetSelect]]
    * (zero-token docs ride free at the front of the order). Every doc
    * emits rows (id, group, epoch) for epoch 0..e_g−1, plus e_g if it
    * made the fractional cut.
    *
    * Scale shape: the cumulative sum is NEVER a per-source global
    * window (a source can be most of the corpus). Docs bucket by
    * their md5's first byte — fixed-width lowercase hex compares
    * lexicographically as its numeric value, so the 256 buckets are
    * order-consistent prefix ranges of the hash order — and one tiny
    * (source × 256) token-sum aggregate lets the driver place each
    * source's boundary bucket and in-bucket cutoff exactly, as
    * integer math. One more scan runs the per-(source, bucket)
    * window (bounded, parallel) and explodes epochs map-side. Two
    * scans, one narrow shuffle, broadcast metadata; bitwise the
    * single-window answer by prefix-sum decomposition.
    *
    * Sources absent from the input or with zero tokens are skipped
    * with a stderr warning (a mix spec naming a missing source is a
    * data bug worth hearing about, not a crash). `maxEpochs` bounds
    * the repeat factor loudly — a 3-doc source with a 10% weight
    * would otherwise explode the output silently.
    *
    * Reference analog: the chained-job composition pattern —
    * successive `MapReduceMaster::MapReduce` submissions
    * (`Imagine_MapReduce/MapReduceMaster.cpp:36-58`) — counts feed a second
    * pass that rewrites the dataset; here phases 1/2 are the counts,
    * phase 3 the rewrite. */
  /** EXACTLY-k deterministic global sample: the top-k rows by
    * `(md5(salt|id), id)` — "give me exactly 10k eval docs,
    * reproducibly, from any engine" (a Bernoulli fraction gives a
    * BINOMIAL count; an eval set wants an exact one). The md5 order
    * is uniform and content-independent, the id tiebreak makes it
    * total, and any engine that can md5 reproduces the same k rows —
    * the exact-count twin of [[crossEngineSample]].
    *
    * Scale shape: one `TakeOrderedAndProject` — per-partition top-k
    * heaps, k rows to the driver-side merge, no global sort. k is
    * bounded (an eval set, not a corpus cut — use
    * [[crossEngineSample]]'s fraction form for proportional
    * cuts). */
  def exactK(
      df: DataFrame,
      idCol: String,
      k: Int,
      salt: String = "graft"): DataFrame = {
    require(k >= 0 && k <= 10000000,
      s"k must be in [0, 10^7] (driver-merged), got $k")
    Seq("_h").foreach { r =>
      require(!df.columns.contains(r),
        s"input column name $r is reserved by exactK")
    }
    df.withColumn("_h",
        md5(concat_ws("|", lit(salt), col(idCol).cast("string"))))
      .orderBy(col("_h"), col(idCol))
      .limit(k)
      .drop("_h")
  }

  /** The PLANNING half of [[epochMixture]]: before materializing a
    * mix, the designer wants the per-source bill — how many tokens
    * each source holds, how many the target weights ask for under
    * `budgetTokens`, and whether that means subsampling (rate < 1)
    * or repetition (full epochs + a fractional remainder). Same
    * integer math as epochMixture (`target = floor(budget·w/Σw)`,
    * `epochs = target div current`), so the plan PREDICTS exactly
    * what the materializer will do. One partial-agg scan; the
    * targets frame is weights-sized. Sources named in `weights` but
    * absent from the corpus report zero current tokens and a null
    * rate — the "mix will run short" warning as a row instead of a
    * log line. Corpus sources not in `weights` are out of the mix
    * and do not report. */
  def mixturePlan(
      df: DataFrame,
      groupCol: String,
      textCol: String,
      weights: Map[String, Double],
      budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0L, "budgetTokens must be non-negative")
    require(weights.nonEmpty, "weights must be non-empty")
    require(weights.values.forall(_ >= 0.0), "weights must be non-negative")
    val wsum = weights.values.sum
    require(wsum > 0.0, "at least one weight must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val grp = col(groupCol).cast("string")
    val current = df.filter(grp.isin(weights.keys.toSeq: _*))
      .groupBy(grp.as("source"))
      .agg(sum(coalesce(TextFunctions.tokenCount(col(textCol)), lit(0L)))
        .as("current_tokens"))
    val targets = weights.toSeq.sortBy(_._1).map { case (g, wgt) =>
      (g, math.floor(budgetTokens * (wgt / wsum)).toLong)
    }.toDF("source", "target_tokens")
    targets.join(current, Seq("source"), "left")
      .withColumn("current_tokens", coalesce(col("current_tokens"), lit(0L)))
      .withColumn("epochs",
        when(col("current_tokens") > 0,
          expr("target_tokens div current_tokens")).otherwise(lit(null)))
      .withColumn("remainder_tokens",
        when(col("current_tokens") > 0,
          col("target_tokens") - col("epochs") * col("current_tokens")))
      .withColumn("rate",
        when(col("current_tokens") > 0,
          col("target_tokens").cast("double") / col("current_tokens")))
  }

  def epochMixture(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      textCol: String,
      weights: Map[String, Double],
      budgetTokens: Long,
      salt: String = "graft",
      maxEpochs: Long = 1000L): DataFrame = {
    require(budgetTokens >= 0L, "budgetTokens must be non-negative")
    require(weights.nonEmpty, "weights must be non-empty")
    require(weights.values.forall(_ >= 0.0), "weights must be non-negative")
    val wsum = weights.values.sum
    require(wsum > 0.0, "at least one weight must be positive")
    val grp = col(groupCol).cast("string")
    val base = df.filter(grp.isin(weights.keys.toSeq: _*))
      .select(col(idCol).as("_id"), grp.as("_grp"),
        coalesce(TextFunctions.tokenCount(col(textCol)), lit(0L)).as("_toks"))
      .withColumn("_h",
        md5(concat_ws("|", lit(salt), col("_id").cast("string"))))
      .withColumn("_bkt", conv(substring(col("_h"), 1, 2), 16, 10).cast("long"))
    // phase 1: one partial-aggregated scan -> (source × ≤256) cells
    val cells = base.groupBy("_grp", "_bkt").agg(sum("_toks").as("_btoks"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val totals = cells.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    // phase 2: driver integer math — epochs, boundary bucket, cutoff
    val metas = weights.toSeq.sortBy(_._1).flatMap { case (g, wgt) =>
      totals.get(g).filter(_ > 0L) match {
        case None =>
          System.err.println(s"[graft] epochMixture: source '$g' has no " +
            "tokens in the input — skipped, mix will run short")
          None
        case Some(t) =>
          val target = math.floor(budgetTokens * (wgt / wsum)).toLong
          val e = target / t
          require(e <= maxEpochs,
            s"epochMixture: source '$g' needs $e epochs " +
              s"(target $target tokens over $t available) — exceeds " +
              s"maxEpochs=$maxEpochs; raise the bound explicitly if a " +
              s"${e}x repetition of this source is really intended")
          val r = target - e * t
          val bs = cells.filter(_._1 == g).map(c => c._2 -> c._3).sortBy(_._1)
          var consumed = 0L; var boundary = -1L; var offset = 0L
          val it = bs.iterator
          while (boundary < 0 && it.hasNext) {
            val (b, bt) = it.next()
            if (consumed + bt > r) { boundary = b; offset = consumed }
            else consumed += bt
          }
          // r < t always (e is the floor), so some bucket overflows r
          Some((g, e, boundary, r - offset))
      }
    }
    val spark = df.sparkSession
    import spark.implicits._
    if (metas.isEmpty)
      return base.filter(lit(false))
        .select(col("_id").as(idCol), col("_grp").as(groupCol),
          lit(0L).as("epoch"))
    val metaDf = metas.toDF("_grp", "_e", "_boundary", "_cutoff")
    // phase 3: one scan — bounded per-(source, bucket) windows, then
    // map-side epoch explode
    val w = Window.partitionBy("_grp", "_bkt")
      .orderBy(col("_h"), col("_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(broadcast(metaDf), Seq("_grp"))
      .withColumn("_cum", sum(col("_toks")).over(w))
      .withColumn("_sel",
        col("_bkt") < col("_boundary") ||
          (col("_bkt") === col("_boundary") &&
            col("_cum") <= col("_cutoff")))
      .withColumn("_reps", col("_e") + when(col("_sel"), 1L).otherwise(0L))
      .filter(col("_reps") > 0L)
      .select(col("_id").as(idCol), col("_grp").as(groupCol),
        explode(sequence(lit(0L), col("_reps") - 1L)).as("epoch"))
  }

  /** Balanced mixture ORDER — the missing piece between
    * [[shuffleShards]] (global random order, no balance guarantee)
    * and [[epochMixture]] (per-source repeat counts, no order): a
    * deterministic total order in which EVERY source is spread
    * proportionally through the epoch, so a trainer consuming the
    * first 10% of the order sees ~10% of every source rather than
    * whichever sources hashed low. The classic stride trick: row at
    * per-source hash-order rank r of n sorts by frac = (2r−1)/(2n) —
    * source positions interleave like evenly-spaced ticks on [0, 1).
    * Both integers are < 2^53, so the division is one IEEE op,
    * identically rounded on every engine: fracs are bitwise
    * cross-engine (q124's oracle recomputes them from naive
    * windows).
    *
    * Ranks use the [[graft.operators.Curation.capPerGroup]]
    * decomposition, not a per-source global window: rows bucket by
    * their md5's first byte, per-(source, bucket) counts aggregate
    * distributedly, each bucket learns its prefix offset from a
    * ≤256-row window, and the within-bucket window is
    * bucket-bounded — a billion-row source never meets a
    * single-reducer sort, and there is NO driver state. Output: the
    * (id, group) rows + (rank, n, frac); consumers sort by
    * (frac, groupCol, id) for the total order. */
  def interleaveOrder(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      salt: String = "graft"): DataFrame = {
    Seq("_h", "_bkt", "_off", "_n", "rank", "n", "frac").foreach { r =>
      require(!df.columns.contains(r),
        s"column name $r is reserved by interleaveOrder")
    }
    val base = df.select(col(idCol), col(groupCol))
      .withColumn("_h",
        md5(concat_ws("|", lit(salt), col(idCol).cast("string"))))
      .withColumn("_bkt",
        conv(substring(col("_h"), 1, 2), 16, 10).cast("long"))
    val cells = base.groupBy(col(groupCol), col("_bkt"))
      .agg(count(lit(1)).as("_c"))
    val wOff = Window.partitionBy(groupCol).orderBy("_bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = cells
      .withColumn("_off", coalesce(sum(col("_c")).over(wOff), lit(0L)))
      .withColumn("n",
        sum(col("_c")).over(Window.partitionBy(groupCol)))
      .drop("_c")
    val wIn = Window.partitionBy(col(groupCol), col("_bkt"))
      .orderBy(col("_h"), col(idCol))
    base.join(offs, Seq(groupCol, "_bkt"))
      .withColumn("rank", row_number().over(wIn).cast("long") + col("_off"))
      .withColumn("frac",
        (lit(2.0) * col("rank") - lit(1.0)) / (lit(2.0) * col("n")))
      .select(col(idCol), col(groupCol), col("rank"), col("n"), col("frac"))
  }

  /** Temperature-scaled mixture weights at α = 1/2 — the standard
    * square-root rebalancing (multilingual/multi-source training
    * mixes: raw proportional sampling drowns small sources, uniform
    * ignores size; w ∝ √mass is the classic compromise) with an
    * integer row budget allocated by floor(share·budget). α is
    * FIXED at 1/2 because √ is the one power IEEE guarantees
    * correctly rounded — an arbitrary-α `pow` would put libm's
    * cross-platform rounding seam inside the mixture table.
    *
    * Determinism: masses are exact integer sums; each w = √mass is
    * one correctly-rounded op; the normalizer Σw folds over the
    * group-sorted weight list sequentially (the mixture table is
    * sources-bounded BY NATURE — a mixture over unboundedly many
    * groups isn't a mixture; the collect is that table, not data).
    *
    * Output: (group, mass, w, share, n_target), one row per group.
    * floor under-allocates by < n_groups rows; the caller tops up by
    * largest remainder if the budget must be exact
    * ([[Sampling.mixturePlan]]'s discipline). */
  def temperatureWeights(
      df: DataFrame,
      groupCol: String,
      weightCol: String,
      budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val wt = df.schema(weightCol).dataType
    require(Seq("long", "integer", "short", "byte").contains(wt.typeName),
      s"weightCol $weightCol must be integral for exact masses, " +
        s"got ${wt.typeName}")
    Seq("mass", "w", "share", "n_target").foreach { r =>
      require(r == weightCol || !df.columns.contains(r),
        s"input column name $r is reserved by temperatureWeights")
    }
    val masses = df.groupBy(col(groupCol))
      .agg(sum(col(weightCol).cast("long")).as("mass"))
      .withColumn("w", sqrt(col("mass").cast("double")))
    val total = masses
      .agg(sort_array(collect_list(struct(col(groupCol), col("w"))))
        .as("_ws"))
      .select(seqSumUdf(transform(col("_ws"), x => x.getField("w")))
        .as("_tot"))
    masses.crossJoin(broadcast(total))
      .withColumn("share", col("w") / col("_tot"))
      .withColumn("n_target",
        floor(col("share") * lit(budget).cast("double")).cast("long"))
      .select(col(groupCol), col("mass"), col("w"), col("share"),
        col("n_target"))
  }

  /** Sequential sum over the bounded, already-sorted list. */
  private val seqSumUdf = udf((xs: scala.collection.Seq[Double]) => {
    var s = 0.0
    xs.foreach(s += _)
    s
  })

  /** Stratified k-fold assignment — the cross-validation / sharded-
    * eval split: every row gets a `fold` in [0, k) such that folds
    * are BALANCED WITHIN EACH STRATUM (sizes differ by at most one)
    * and membership is content-determined — reproducible across
    * runs, retries, and engines, which a `rand()`-based splitter can
    * never guarantee. Complements the cluster-aware splitter (which
    * keeps near-dups on one side); this is the per-stratum
    * round-robin every per-source eval harness needs.
    *
    * Spelling: rows order within their stratum by
    * (md5(salt ':' id), id) — the salted content hash is the
    * pseudo-random shuffle key (md5 = the repo's cross-engine hash),
    * the id tiebreak makes the order total — and fold =
    * (row_number − 1) mod k. One stratum-partitioned window, never
    * global; changing `salt` re-deals every fold.
    *
    * Output: input columns + `fold`. `idCol` must be unique per row
    * (the usual primary key contract; duplicates would share a hash
    * but still get distinct row_numbers via the tie on id —
    * deterministic, though their relative order is then
    * partition-luck; keep ids unique). */
  def kFoldAssign(
      df: DataFrame,
      strataCols: Seq[String],
      idCol: String,
      k: Int,
      salt: String = "graft"): DataFrame = {
    require(k >= 2 && k <= 10000, s"k must be in [2, 10000], got $k")
    require(strataCols.nonEmpty, "at least one stratum column required")
    Seq("fold", "_h").foreach { r =>
      require(!df.columns.contains(r),
        s"input column name $r is reserved by kFoldAssign")
    }
    val h = md5(concat(lit(salt), lit(":"), col(idCol).cast("string")))
    val w = Window.partitionBy(strataCols.map(col): _*)
      .orderBy(col("_h"), col(idCol))
    df.withColumn("_h", h)
      .withColumn("fold", (row_number().over(w).cast("long") - 1) % k)
      .drop("_h")
  }

  /** Neyman-optimal stratified sample ALLOCATION: how many rows to
    * draw per stratum when variance differs across strata — n_h ∝
    * N_h·S_h, the allocation minimizing the estimator variance at a
    * fixed total budget (the survey-sampling classic; uniform and
    * proportional allocation are both strictly worse when strata
    * spread differs). The plan half of the two-phase pattern
    * [[mixturePlan]]/`tokenBudgetSelect` use: compute the allocation
    * here, then draw with [[exactK]].
    *
    * Engine-order-proof arithmetic: phase 1 is one distributed pass
    * of EXACT integer moments per stratum (count, Σx, Σx² — Σx² in
    * DECIMAL(38,0), no overflow at any scale); every emitted double
    * (sd, share, target) is then ONE fixed IEEE expression over
    * those integers, the cross-stratum normalizer folds in stratum
    * order, and integer allocations come from largest-remainder
    * rounding with a (remainder desc, stratum asc) tiebreak — so
    * Σ alloc_raw == total EXACTLY, bit-identical on any engine.
    *
    * Phase 2 runs on the driver over one row per stratum, LOUDLY
    * bounded by `maxStrata` (the token-budget/union-find pattern:
    * cross-stratum sequential arithmetic is driver-sized by
    * construction; 100 TB changes row counts, not stratum counts).
    *
    * `valueCol` must be integral-valued (it is CAST to BIGINT — the
    * exact-moment contract); `stratumCol` must be a string column
    * (its ordering defines the fold order). Single-row / zero-spread
    * strata get sd 0 ⇒ share 0. `alloc` additionally caps at the
    * stratum's population N_h; the cap is visible (alloc <
    * alloc_raw), never silently re-spread.
    *
    * Output: (stratum, n_rows, sd, share, alloc_raw, alloc), one row
    * per stratum. */
  def neymanAllocation(
      df: DataFrame,
      stratumCol: String,
      valueCol: String,
      total: Long,
      maxStrata: Int = 100000): DataFrame = {
    require(total >= 0L, s"total must be >= 0, got $total")
    require(maxStrata >= 1, s"maxStrata must be >= 1, got $maxStrata")
    require(df.schema(stratumCol).dataType ==
      org.apache.spark.sql.types.StringType,
      s"stratumCol '$stratumCol' must be STRING (its ordering is the " +
        "deterministic fold order)")
    val spark = df.sparkSession
    val x = col(valueCol).cast("long")
    val moments = df
      .filter(col(stratumCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(stratumCol).as("stratum"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(x).as("s1"),
        // cast BEFORE squaring: a LONG×LONG square wraps silently at
        // |x| > ~3.04e9; DECIMAL(38,0)×DECIMAL(38,0) does not
        sum(x.cast(DecimalType38) * x.cast(DecimalType38)).as("s2"))
    val rows = moments.limit(maxStrata + 1).collect()
    require(rows.length <= maxStrata,
      s"neymanAllocation: more than $maxStrata strata — this operator " +
        "does cross-stratum sequential arithmetic driver-side; raise " +
        "maxStrata only if the stratum count is genuinely bounded")
    final case class S(stratum: String, n: Long, sd: Double) {
      def ns: Double = n.toDouble * sd
    }
    val strata = rows.map { r =>
      val n = r.getLong(1)
      val s1 = r.getLong(2).toDouble
      val s2 = r.getDecimal(3).doubleValue()
      val sd =
        if (n > 1) {
          val v = (n.toDouble * s2 - s1 * s1) /
            (n.toDouble * (n - 1).toDouble)
          math.sqrt(math.max(v, 0.0))
        } else 0.0
      S(r.getString(0), n, sd)
    }.sortBy(_.stratum)
    // sequential fold in stratum order — the SQL list_aggregate twin
    var tot = 0.0
    strata.foreach(s => tot += s.ns)
    final case class A(s: S, share: Double, target: Double, base: Long)
    val planned = strata.map { s =>
      val share = if (tot > 0) s.ns / tot else 0.0
      val target = total.toDouble * share
      A(s, share, target, math.floor(target).toLong)
    }
    val leftover =
      if (tot > 0) total - planned.map(_.base).sum else 0L
    val bump = planned
      .sortBy(a => (-(a.target - a.base.toDouble), a.s.stratum))
      .take(math.max(leftover, 0L).toInt)
      .map(_.s.stratum).toSet
    import spark.implicits._
    planned.map { a =>
      val raw = if (tot > 0) a.base + (if (bump(a.s.stratum)) 1L else 0L)
        else 0L
      (a.s.stratum, a.s.n, a.s.sd, a.share, raw, math.min(raw, a.s.n))
    }.toSeq
      .toDF("stratum", "n_rows", "sd", "share", "alloc_raw", "alloc")
  }

  private val DecimalType38 =
    org.apache.spark.sql.types.DecimalType(38, 0)

  /** Rendezvous (highest-random-weight) shard assignment — the
    * consistent-hashing answer to "re-shard a 100 TB corpus from N
    * to N+1 shards without moving everything": each row's shard is
    * argmax over shards of md5(id ":" shard ":" salt), so adding a
    * shard moves only the rows whose NEW shard wins — an expected
    * 1/(N+1) of the corpus — where `pmod(hash, N)` reshuffles
    * almost every row. Pure per-row built-ins (md5 + array HOFs,
    * codegen-friendly, no UDF); the hex strings compare as unsigned
    * 128-bit values, so any engine picks the identical winner.
    *
    * Output: input columns + `shard` (0-based Long). Cost: N md5s
    * per row, no shuffle — callers add their own repartition. */
  def rendezvousShard(
      df: DataFrame,
      idCol: String,
      nShards: Int,
      salt: String = "graft",
      outCol: String = "shard"): DataFrame = {
    require(nShards >= 1 && nShards <= 65536,
      s"nShards must be in [1, 65536], got $nShards")
    require(!df.columns.contains(outCol),
      s"input column name $outCol is reserved by rendezvousShard")
    val weights = transform(
      sequence(lit(0), lit(nShards - 1)),
      s => struct(
        md5(concat(col(idCol).cast("string"), lit(":"),
          s.cast("string"), lit(":"), lit(salt))).as("h"),
        s.cast("long").as("s")))
    df.withColumn(outCol, array_max(weights).getField("s"))
  }

  /** Cumulative Poisson(1) probabilities for k = 0..9 (e⁻¹·Σ 1/j!),
    * shared verbatim with the SQL oracle — both engines compare the
    * same deterministic uniform against the same double literals, so
    * every (row, replicate) draws the identical weight. */
  private[operators] val PoissonCdf1: Seq[Double] = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
    0.9999167588507119, 0.9999897508033253, 0.9999988747974021,
    0.9999998885745217)

  /** Poisson-bootstrap confidence interval for a per-group mean —
    * the AT-SCALE bootstrap (Chamandy et al., "Estimating Uncertainty
    * for Massive Data Streams"): instead of materializing B resampled
    * datasets (B shuffles of the corpus), every row draws B
    * independent Poisson(1) weights — the limit of Binomial(n, 1/n)
    * resampling — so the whole procedure is ONE map-side fan-out and
    * one (key, replicate) partial agg; nothing row-scaled shuffles
    * more than the keys × B frame.
    *
    * Determinism contract (the dpCounts posture): the weight for
    * (row, replicate) is the inverse-CDF Poisson(1) transform of the
    * repo's cross-engine uniform md5(id ":" b ":" salt) — same rows,
    * same salt, same CI, on any engine, partitioning, or retry.
    *
    * Exactness: values decimal-scale to integers; each replicate's
    * Σw·x accumulates in DECIMAL(38,0) (order-free); a replicate
    * mean is ONE IEEE division; the CI bounds are the exact
    * interpolated percentiles over the B replicate means (the
    * q77/q80 cross-engine `percentile` == `quantile_cont` contract).
    * Replicates that draw a zero total weight (P = e⁻ⁿ, negligible
    * past tiny groups) are excluded and visible via `b_used`.
    *
    * Output per key: (keys*, n_rows, mean, b_used, ci_lo, ci_hi).
    *
    * Reference analog: none (SURVEY §2.2 — no uncertainty
    * quantification of any kind); north-star pipeline surface. */
  def bootstrapMeanCI(
      df: DataFrame,
      keyCols: Seq[String],
      idCol: String,
      valueCol: String,
      replicates: Int = 200,
      ciPct: Int = 95,
      scale: Int = 2,
      salt: String = "graft"): DataFrame = {
    require(keyCols.nonEmpty, "at least one key column required")
    require(replicates >= 10 && replicates <= 10000,
      s"replicates must be in [10, 10000], got $replicates")
    require(ciPct >= 50 && ciPct <= 99,
      s"ciPct must be in [50, 99], got $ciPct")
    require(scale >= 0 && scale <= 6,
      s"scale must be in [0, 6], got $scale")
    val dec = org.apache.spark.sql.types.DecimalType(18, scale)
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val mult = math.pow(10, scale).toLong
    val cdf = PoissonCdf1
    // the weight stays a Scala UDF DELIBERATELY (r14 measured): a
    // built-in spelling (md5 → byte-reversed hex substrings → conv →
    // shiftrightunsigned → 11-branch when-chain) was tried and ran
    // ~12x SLOWER on the replicates×rows fan-out (q225 5.9 → 70 s at
    // sf0.1) — the string md5/conv expression chain costs far more
    // per row than one JIT'd digest call; recompute-in-UDF wins.
    // ONE call per ROW returning all B weights (posexploded to the
    // same (_b, _w) rows as the per-(row, b) spelling): identical md5
    // count and values, but the replicates×rows fan-out no longer
    // pays a UDF row boundary per (row, replicate) and the id string
    // is not duplicated B ways through the explode.
    val saltLocal = salt
    val repLocal = replicates
    // the B tail strings ":b:salt" are fixed across rows — encode them
    // once in the closure and hash (idBytes ++ tail_b) in two updates:
    // identical digests (md5Lower64Parts doc), but the per-digest
    // combined-string build + UTF-8 encode drops out of the
    // rows×replicates fan-out (20 M digests at sf0.1)
    val tailBytes: Array[Array[Byte]] = Array.tabulate(repLocal)(b =>
      (":" + b + ":" + saltLocal)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val wArrUdf = udf((id: String) => {
      val idBytes = id.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val out = new Array[Int](repLocal)
      var b = 0
      while (b < repLocal) {
        val m = Kernels.md5Lower64Parts(idBytes, tailBytes(b)) >>> 11
        val u = (m.toDouble + 0.5) / 9007199254740992.0
        var k = 0
        while (k < cdf.length && u >= cdf(k)) k += 1
        out(b) = k // 10 in the ~1e-7 tail beyond the table
        b += 1
      }
      out
    })
    val keyC = keyCols.map(col)
    val base = df
      .filter(col(valueCol).isNotNull)
      .select(keyC :+ col(idCol).cast("string").as("_id") :+
        (col(valueCol).cast(dec) * mult).cast("long").as("_x6"): _*)
    val rep = base
      .select(keyC ++ Seq(col("_x6"),
        posexplode(wArrUdf(col("_id"))).as(Seq("_b", "_w"))): _*)
    val perRep = rep
      .groupBy(keyC :+ col("_b"): _*)
      .agg(sum((col("_w").cast(dec38)) * col("_x6")).as("_s"),
        sum(col("_w").cast("long")).as("_n"))
      .filter(col("_n") > 0L)
      .withColumn("_m", col("_s").cast("double")
        / (col("_n").cast("double") * mult.toDouble))
    // spelled as integer-ratio divisions so the doubles print as the
    // same shortest literals the SQL oracle uses (0.025 / 0.975 —
    // not 1.0-x chains that can land 1 ulp off the literal)
    val lo = (100 - ciPct) / 200.0
    val hi = (100 + ciPct) / 200.0
    val ci = perRep.groupBy(keyC: _*)
      .agg(count(lit(1)).as("b_used"),
        expr(s"percentile(_m, $lo)").as("ci_lo"),
        expr(s"percentile(_m, $hi)").as("ci_hi"))
    val point = base.groupBy(keyC: _*)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("_x6").cast(dec38)).as("_sx"))
      .withColumn("mean", col("_sx").cast("double")
        / (col("n_rows").cast("double") * mult.toDouble))
    point.join(ci, keyCols)
      .select(keyC ++ Seq(col("n_rows"), col("mean"), col("b_used"),
        col("ci_lo"), col("ci_hi")): _*)
  }
}
