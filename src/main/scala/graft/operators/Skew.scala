package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Skew-handling utilities (SCALING.md): when one group key carries a
  * disproportionate share of rows (the classic hot-key problem at
  * 100 TB), a single reducer partition becomes the straggler. Salting
  * splits each hot key across `salt` sub-keys for a partial
  * aggregation, then re-aggregates the (keys × salt) partials — two
  * shuffles, but the first is uniform and the second tiny.
  *
  * AQE's skew-join splitting handles *joins* automatically; salting
  * remains the tool for skewed *aggregations* whose partial state
  * (e.g. collect_list, exact distinct) doesn't map-side-combine away.
  * For algebraic aggregates Spark's partial aggregation already does
  * the equivalent — this operator exists for the non-algebraic cases
  * and as the documented pattern.
  */
object Skew {

  /** Salted two-phase sum: numerically safe for decimal/integer
    * aggregation (exact types ⇒ association order cannot change the
    * result — which is also why the DuckDB oracle matches). */
  def saltedSum(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: Column,
      resultName: String,
      salt: Int = 16): DataFrame = {
    val k = keyCols.map(col)
    // The salt MUST be a pure function of row content: any
    // partition-order-dependent expression (monotonically_increasing_id,
    // spark_partition_id, rand) re-buckets rows when a stage retry or
    // AQE re-plan reorders the scan, silently corrupting the partial
    // sums a partially-fetched shuffle already consumed. Hashing every
    // column spreads all but fully-duplicate rows uniformly; exact
    // duplicates share a bucket, which skews spread but never
    // correctness.
    val salted = df.withColumn("_salt",
      pmod(xxhash64(df.columns.toIndexedSeq.map(col): _*), lit(salt.toLong)))
    val partial = salted
      .groupBy((k :+ col("_salt")): _*)
      .agg(sum(valueCol).as("_partial"))
    partial
      .groupBy(k: _*)
      .agg(sum(col("_partial")).as(resultName))
  }

  /** Salted equi-join for a skewed BIG side against a side that is too
    * big to broadcast but small enough to replicate `salt`× through
    * the shuffle: the big side's hot key is spread across `salt`
    * sub-keys (content-derived, retry-safe — same discipline as
    * [[saltedSum]]), the right side is exploded once per salt value,
    * and the join runs on (key, salt) so no single reducer partition
    * owns a hot key alone. Result == plain `big.join(right, keys,
    * joinType)` row-for-row; only the partitioning changes.
    *
    * When to reach for it at 100 TB: AQE's skew-join splitting already
    * handles most sort-merge skew at runtime — this operator is for
    * the cases AQE can't re-plan (skew INSIDE one shuffle block, e.g.
    * a single key bigger than one split; or a deterministic
    * pre-partitioned layout that must not be re-planned). Join types:
    * inner/left — types that would need a right-side row to survive
    * having NO left match (right/full/anti) are rejected, since
    * replicated right rows would then surface `salt` times. */
  def saltedJoin(
      big: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      salt: Int = 16,
      joinType: String = "inner"): DataFrame = {
    require(salt >= 1, s"salt must be >= 1, got $salt")
    require(!big.columns.contains("_salt") && !right.columns.contains("_salt"),
      "column name _salt is reserved by saltedJoin")
    val jt = joinType.toLowerCase.replace("_", "")
    require(Set("inner", "left", "leftouter").contains(jt),
      s"saltedJoin supports inner/left joins, got '$joinType' — " +
        "right/full/anti semantics break under right-side replication")
    val leftCols = big.columns.toIndexedSeq
    val salted = big.withColumn("_salt",
      pmod(xxhash64(leftCols.map(col): _*), lit(salt.toLong)).cast("int"))
    val replicated = right.withColumn("_salt",
      explode(sequence(lit(0), lit(salt - 1))))
    salted.join(replicated, keys :+ "_salt", joinType).drop("_salt")
  }

  /** The PRE-FLIGHT for everything above: which keys would hot-spot a
    * shuffle on `keyCol`? Exact top-`topK` keys by row count with
    * their share of the table — the number that decides between a
    * plain groupBy, a salt factor, or AQE trust. Null is a real key
    * here (often THE hot key in the wild) and ranks like any other;
    * ties order (count desc, key asc nulls first) so the report is
    * total and cross-engine deterministic.
    *
    * Scale shape: one partial-agg count per key (the same shuffle
    * the real job would pay, minus its payload), a `limit(topK)`
    * prune, then [[Ranks.rankBounded]] on the k surviving rows — no
    * global window. The 1-row total broadcast gives `share` as one
    * IEEE division. */
  def heavyKeys(
      df: DataFrame,
      keyCol: String,
      topK: Int = 20): DataFrame = {
    require(topK >= 1 && topK <= 10000,
      s"topK must be in [1, 10000], got $topK")
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("_t"))
    val top = counts
      .orderBy(col("n").desc, col(keyCol).asc_nulls_first)
      .limit(topK)
    Ranks.rankBounded(top, col("n").desc, col(keyCol).asc_nulls_first)
      .crossJoin(broadcast(total))
      .select(col(keyCol), col("n"),
        (col("n").cast("double") / col("_t")).as("share"), col("rank"))
  }

  /** EXACT range-partition boundaries — the planning half of a
    * balanced `repartitionByRange`/sorted-layout write, without
    * Spark's reservoir sampler: split point p (1 ≤ p < B) is the
    * smallest value whose ≤-cumulative row count reaches
    * ceil(p·n/B), i.e. the exact disc-quantile edges an equi-depth
    * histogram reports. Sampling-based bounds drift run to run and
    * under skew; these are deterministic and auditable, so layout
    * jobs can pin them in a manifest and re-produce identical file
    * splits.
    *
    * Scale shape — the global prefix sum is spelled in TWO PHASES so
    * no global window (and no driver fold) appears anywhere:
    * distinct values aggregate with counts (one partial-agg
    * shuffle), each value lands in one of `coarseBuckets`
    * fixed-width coarse buckets (integer arithmetic off a narrow
    * min/max), cumulative counts run WITHIN each bucket
    * (bucket-partitioned window) and bucket OFFSETS come from a
    * triangular self-join over the bucket-totals frame (≤
    * coarseBuckets² tiny rows, broadcast). The B−1 target ranks ride
    * as a broadcast frame into one nested-loop `cum ≥ target` join
    * (V × (B−1), B small by definition) and `min(value)` per target
    * finishes the bound.
    *
    * `valueCol` must be integral (enforced): the bucket arithmetic
    * and bounds are exact; NULLs are excluded (a range partitioner
    * routes them to a dedicated first partition by convention).
    * Overflow contract: (max−min)·coarseBuckets must fit in 64 bits
    * — true for any real key domain; rebase pathological domains
    * first.
    *
    * Output: (p, target_rank, bound) for p = 1..B−1 — route rows by
    * `value < bound(p)`. With heavy duplicate keys the bound is
    * still the exact disc quantile, though realized partition sizes
    * then deviate by the duplicate mass (unavoidable for any
    * partitioner that won't split a key; [[heavyKeys]] is the
    * pre-flight that decides when that matters).
    *
    * Reference analog: the reference hash-partitions unconditionally
    * (`Imagine_MapReduce/Partitioner.h`) — range layout planning has
    * no spelling there. */
  /** Join-strategy pre-flight — the one-row report that decides HOW
    * to spell a join before paying for it wrong: both sides' row
    * counts and null-key rates, each side's hottest-key share, and a
    * rule-based recommendation (broadcast the small side / salt the
    * skewed side / plain shuffle). Composes [[heavyKeys]]'s counts
    * with [[Profile.joinSizeAudit]]'s sizing into the decision
    * artifact a pipeline can persist next to the job config — at
    * 100 TB the wrong join spelling is the difference between
    * minutes and a dead executor, and this costs two key-aggregated
    * counts.
    *
    * Rules, applied in order (thresholds are the caller's contract,
    * defaults conservative): a side at or under `broadcastRows` →
    * broadcast it (smaller side wins ties); else a side whose top
    * key holds ≥ `skewShare` of its rows → salt that side's
    * shuffle; else plain shuffle. Null keys never match an inner
    * join — their rate is reported so the caller filters them
    * before paying to shuffle them.
    *
    * Output (one row): (left_rows, right_rows, left_null_keys,
    * right_null_keys, left_top_share, right_top_share,
    * recommendation). */
  def joinAdvisor(
      left: DataFrame,
      leftKey: String,
      right: DataFrame,
      rightKey: String,
      broadcastRows: Long = 1000000L,
      skewShare: Double = 0.2): DataFrame = {
    require(broadcastRows >= 0 && skewShare > 0 && skewShare <= 1.0,
      s"bad thresholds: broadcastRows=$broadcastRows skewShare=$skewShare")
    def side(df: DataFrame, key: String, tag: String) = {
      val counts = df.groupBy(col(key).as("_k"))
        .agg(count(lit(1)).as("_n"))
      counts.agg(
        sum(col("_n")).as(s"${tag}_rows"),
        coalesce(sum(when(col("_k").isNull, col("_n"))), lit(0L))
          .as(s"${tag}_null_keys"),
        (max(col("_n")).cast("double") /
          sum(col("_n")).cast("double")).as(s"${tag}_top_share"))
    }
    side(left, leftKey, "left").crossJoin(side(right, rightKey, "right"))
      .withColumn("recommendation",
        when(col("left_rows") <= broadcastRows &&
          col("left_rows") <= col("right_rows"), lit("broadcast_left"))
          .when(col("right_rows") <= broadcastRows,
            lit("broadcast_right"))
          .when(col("left_top_share") >= skewShare ||
            col("right_top_share") >= skewShare, lit("salted_shuffle"))
          .otherwise(lit("shuffle")))
  }

  /** The global-prefix-sum building block shared by [[rangeBounds]]
    * and [[Features.quantileMap]]: given a distinct-values frame
    * `(_v, _cnt)`, return it with `_cum` = the ≤-cumulative count —
    * WITHOUT a global window. Values land in fixed-width coarse
    * buckets off a narrow min/max; cumsums run bucket-partitioned;
    * bucket offsets come from a triangular self-join over the
    * bucket-totals frame (≤ coarseBuckets² tiny rows, broadcast). */
  private[operators] def cumulativeCounts(
      vals: DataFrame,
      coarseBuckets: Int): DataFrame = {
    val mm = vals.agg(min("_v").as("_mn"), max("_v").as("_mx"))
    val bucketed = vals.crossJoin(broadcast(mm))
      .withColumn("_b",
        expr(s"((_v - _mn) * $coarseBuckets) div (_mx - _mn + 1)"))
    val bt = bucketed.groupBy("_b").agg(sum("_cnt").as("_bt"))
    val off = bt.as("a")
      .join(bt.as("b"), col("a._b") < col("b._b"))
      .groupBy(col("b._b").as("_b")).agg(sum(col("a._bt")).as("_off"))
    val wb = Window.partitionBy("_b").orderBy("_v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed
      .join(broadcast(off), Seq("_b"), "left")
      .withColumn("_cum",
        sum(col("_cnt")).over(wb) + coalesce(col("_off"), lit(0L)))
      .select(col("_v"), col("_cnt"), col("_cum"))
  }

  def rangeBounds(
      df: DataFrame,
      valueCol: String,
      numPartitions: Int,
      coarseBuckets: Int = 64): DataFrame = {
    require(numPartitions >= 2,
      s"numPartitions must be >= 2, got $numPartitions")
    require(coarseBuckets >= 1 && coarseBuckets <= 100000,
      s"coarseBuckets must be in [1, 100000], got $coarseBuckets")
    val vt = df.schema(valueCol).dataType.typeName
    require(Seq("long", "integer", "short", "byte").contains(vt),
      s"valueCol $valueCol must be integral for exact bounds, got $vt")
    val spark = df.sparkSession
    val vals = df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("long").as("_v"))
      .groupBy("_v").agg(count(lit(1)).as("_cnt"))
    val cum = cumulativeCounts(vals, coarseBuckets)
    val n = vals.agg(sum("_cnt").as("_n"))
    val targets = spark.range(1, numPartitions.toLong)
      .select(col("id").as("p"))
      .crossJoin(broadcast(n))
      .withColumn("target_rank",
        expr(s"(p * _n + $numPartitions - 1) div $numPartitions"))
      .select("p", "target_rank")
    cum.join(broadcast(targets), col("_cum") >= col("target_rank"))
      .groupBy("p", "target_rank").agg(min(col("_v")).as("bound"))
  }

  /** ABC / Pareto classification: rank keys by an EXACT-typed weight
    * (decimal or integral — doubles are rejected: a float cumsum's
    * value depends on shuffle order, and a classification boundary
    * must not), then label the head that carries the first `aPct`%
    * of total weight "A", the next band to `bPct`% "B", the tail
    * "C". The classic inventory 80/95 split; for corpora, the
    * "which sources carry 80% of tokens" screen.
    *
    * Class boundaries compare in EXACT arithmetic: a key is A iff
    * 100·(cum − w) < aPct·total (the strictly-before-crossing rule —
    * the key that crosses the line is included in its band), B iff
    * not A and 100·(cum − w) < bPct·total. Decimal sums are
    * associative, so every aggregation is a plain partial agg.
    *
    * Scale shape: one key partial agg upstream of the call (the
    * caller aggregates to keys), then the two-phase cumulative sum:
    * fixed-width DESCENDING buckets on the weight (bucket assignment
    * uses a double projection ONLY to pick the bucket — equal
    * weights land identically, and in-bucket order is exact
    * (weight DESC, key)), per-bucket partitioned windows, a B-row
    * summary self-join for offsets. Never a global window.
    *
    * Output: (key, weight, cum_weight, abc_class). Ties order by
    * key, so the classification is total-order deterministic. */
  def paretoClasses(
      df: DataFrame,
      keyCol: String,
      weightCol: String,
      aPct: Int = 80,
      bPct: Int = 95,
      coarseBuckets: Int = 64): DataFrame = {
    require(aPct >= 1 && bPct > aPct && bPct <= 100,
      s"need 1 <= aPct < bPct <= 100, got aPct=$aPct bPct=$bPct")
    require(coarseBuckets >= 1 && coarseBuckets <= 100000,
      s"coarseBuckets must be in [1, 100000], got $coarseBuckets")
    val wt = df.schema(weightCol).dataType.typeName
    require(wt.startsWith("decimal") ||
      Seq("long", "integer", "short", "byte").contains(wt),
      s"weightCol $weightCol must be decimal or integral for an exact " +
        s"cumsum, got $wt — cast money to decimal first")
    val nBad = df
      .filter(col(keyCol).isNull || col(weightCol).isNull ||
        col(weightCol) < 0)
      .limit(1).count()
    require(nBad == 0L,
      s"paretoClasses: null or negative $keyCol/$weightCol values " +
        "present — cumulative-share classes need non-negative, " +
        "orderable weights; filter or impute them explicitly")
    val base = df.select(col(keyCol).as("key"),
      col(weightCol).as("w"))
    val wType = base.schema("w").dataType
    val tot = base.agg(sum("w").as("_tot"))
    val mm = base.agg(min(col("w").cast("double")).as("_mn"),
      max(col("w").cast("double")).as("_mx"))
    val bucketed = base.crossJoin(broadcast(mm))
      .withColumn("_b",
        when(col("_mx") === col("_mn"), lit(0))
          .otherwise(least(
            floor((col("_mx") - col("w").cast("double"))
              / (col("_mx") - col("_mn")) * coarseBuckets).cast("int"),
            lit(coarseBuckets - 1))))
      .drop("_mn", "_mx")
    val bt = bucketed.groupBy("_b").agg(sum("w").as("_bt"))
    val off = bt.as("a")
      .join(bt.as("b"), col("a._b") < col("b._b"))
      .groupBy(col("b._b").as("_b")).agg(sum(col("a._bt")).as("_off"))
    val wWin = org.apache.spark.sql.expressions.Window
      .partitionBy("_b").orderBy(col("w").desc, col("key"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    bucketed
      .join(broadcast(off), Seq("_b"), "left")
      .withColumn("_cum",
        sum(col("w")).over(wWin) +
          coalesce(col("_off"), lit(0).cast(wType)))
      .crossJoin(broadcast(tot))
      .withColumn("abc_class",
        when(lit(100) * (col("_cum") - col("w"))
          < lit(aPct) * col("_tot"), "A")
          .otherwise(when(lit(100) * (col("_cum") - col("w"))
            < lit(bPct) * col("_tot"), "B").otherwise("C")))
      .select(col("key"), col("w").as("weight"),
        col("_cum").as("cum_weight"), col("abc_class"))
  }
}
