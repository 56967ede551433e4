package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-layout clustering for scan pruning — the write-side operator
  * that decides which 100 TB a reader gets to SKIP: interleave the
  * bits of several columns' fixed-point ranks into one z-value
  * (Morton order) and lay files out along it, so every clustered
  * column's range predicate maps to a contiguous-ish z-range and
  * parquet min/max footer stats prune files for ANY of the columns,
  * not just the first sort key. Lexicographic sort gives perfect
  * pruning on the leading column and none on the rest; z-order
  * trades a little of the first column's locality for locality on
  * all of them. The reference engine has no layout story (its
  * OutputFormat writes round-robin splits, `MapReduceUtil.cpp`) —
  * this is what replaces "scan everything" once data outlives a
  * single job.
  *
  * Everything here is exact integer/IEEE arithmetic (scale bounds
  * from one narrow min/max aggregate; bit interleave is unrolled
  * shifts-and-masks, codegen'd end to end, no UDF), so z-values are
  * bitwise reproducible cross-engine — q122's oracle rebuilds them
  * in SQL. Cell ids come from the z-value's HIGH bits (fixed,
  * data-independent boundaries) rather than a global sort rank, so
  * assignment is one map-side pass: no global window, no sampled
  * range boundaries, deterministic under any partitioning. */
object Layout {

  /** Fixed-point rank of `c` in [0, 2^bits): (c − min)/(max − min)
    * scaled and floored. Constant columns (max == min) rank 0. */
  private def scaled(c: Column, mn: Column, mx: Column, bits: Int): Column = {
    val top = (1L << bits) - 1L
    when(mx <=> mn, lit(0L)).otherwise(
      floor(((c.cast("double") - mn) / (mx - mn)) * lit(top.toDouble))
        .cast("long"))
  }

  /** Bit-interleave `ranks` (each in [0, 2^bits)) into the Morton
    * z-value: bit i of rank j lands at position i·n + j. */
  private def morton(ranks: Seq[Column], bits: Int): Column = {
    val n = ranks.length
    val terms = for {
      i <- 0 until bits
      (r, j) <- ranks.zipWithIndex
    } yield (shiftright(r, i).bitwiseAND(lit(1L))) *
      lit(1L << (i * n + j))
    terms.reduce(_ + _)
  }

  /** Z-value + cell assignment for every row: `(df.*, z, cell)` with
    * `cell` = the z-value's top `cellBits` bits — 2^cellBits
    * data-independent z-range cells standing in for output files.
    * One narrow min/max aggregate (broadcast single row) + one
    * map-side pass; null clustering values rank 0 (documented, so
    * nulls cluster together at the origin cell). */
  def zOrdered(
      df: DataFrame,
      cols: Seq[String],
      bits: Int = 16,
      cellBits: Int = 5): DataFrame = {
    require(cols.size >= 2, s"z-order needs >= 2 columns, got ${cols.size}")
    require(bits >= 1 && bits * cols.size <= 62,
      s"bits * cols must fit a long, got $bits x ${cols.size}")
    require(cellBits >= 1 && cellBits <= bits * cols.size,
      s"cellBits out of range: $cellBits")
    Seq("z", "cell").foreach { r =>
      require(!df.columns.contains(r),
        s"column name $r is reserved by zOrdered")
    }
    val aggs = cols.flatMap { c =>
      Seq(min(col(c).cast("double")).as(s"_mn_$c"),
        max(col(c).cast("double")).as(s"_mx_$c"))
    }
    val bounds = df.agg(aggs.head, aggs.tail: _*)
    val ranks = cols.map { c =>
      scaled(coalesce(col(c).cast("double"), col(s"_mn_$c")),
        col(s"_mn_$c"), col(s"_mx_$c"), bits)
    }
    val z = morton(ranks, bits)
    df.crossJoin(broadcast(bounds))
      .withColumn("z", z)
      .withColumn("cell",
        shiftright(col("z"), bits * cols.size - cellBits))
      .drop(cols.flatMap(c => Seq(s"_mn_$c", s"_mx_$c")): _*)
  }

  /** Spec hook: mean span of distinct cells touched per narrow
    * predicate on `probeCol` — the pruning-benefit measurement
    * (z-order's reason to exist): how many of the 2^cellBits cells
    * a reader must visit to answer a selective range query. */
  private[operators] def cellsTouched(
      laid: DataFrame, probeCol: String, lo: Double, hi: Double): Long =
    laid.filter(col(probeCol).cast("double").between(lo, hi))
      .select("cell").distinct().count()

  /** Small-file compaction planner — the answer to the small-files
    * problem every long-lived parquet corpus grows into: assign each
    * input file to an output BIN of ~`targetBytes` so one rewrite
    * job per bin replaces thousands of KB-sized files with
    * target-sized ones. The planner only PLANS (file → bin); the
    * rewrite stays a caller-side read-bin/write job, so the plan can
    * be audited, diffed, and resumed.
    *
    * Packing discipline: within each `groupCol` (files must not
    * compact across partitions/sources), files pack in `fileCol`
    * order — next-fit by cumulative size, bin = floor(cum_before /
    * target). Deterministic (no HashMap iteration, no first-fit
    * search state), one-pass, and order-preserving: a reader of the
    * compacted output in (bin, file) order sees the original file
    * order, which keeps any downstream time-ordered consumption
    * intact. A file larger than `targetBytes` gets a bin of its own
    * (never split); bins then overshoot by at most one file, the
    * accepted next-fit trade for a plan computable with ONE
    * group-partitioned running sum — no global window, no driver
    * loop, survives any number of groups × files.
    *
    * Output: one row per file — (group, file, bytes, bin,
    * bin_bytes, bin_files) with bin-level stats ridden back on via a
    * (group, bin)-partitioned aggregate so the operator stays
    * joinable against the file inventory.
    *
    * Reference analog: the reference writes one output file per
    * reduce partition unconditionally (`Imagine_MapReduce/
    * OutputFormat.h`) — file-count hygiene has no spelling there. */
  def compactionPlan(
      files: DataFrame,
      groupCol: String,
      fileCol: String,
      bytesCol: String,
      targetBytes: Long): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    Seq("bin", "bin_bytes", "bin_files", "_cum").foreach { r =>
      require(!files.columns.contains(r),
        s"input column name $r is reserved by compactionPlan")
    }
    val bt = files.schema(bytesCol).dataType.typeName
    require(Seq("long", "integer", "short", "byte").contains(bt),
      s"bytesCol $bytesCol must be integral, got $bt")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(fileCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val planned = files
      .withColumn("_cum", sum(col(bytesCol)).over(w))
      // `div`, not `/`: Spark's `/` on longs is DOUBLE division;
      // integer div keeps the bin id exact at any cumulative size
      .withColumn("bin",
        expr(s"(_cum - `$bytesCol`) div ${targetBytes}L"))
      .drop("_cum")
    val binStats = planned
      .groupBy(col(groupCol), col("bin"))
      .agg(sum(col(bytesCol)).as("bin_bytes"),
        count(lit(1)).as("bin_files"))
    planned.join(binStats, Seq(groupCol, "bin"))
      .select(col(groupCol), col(fileCol), col(bytesCol),
        col("bin"), col("bin_bytes"), col("bin_files"))
  }

  /** Per-column encoding advisor — the storage-layout sibling of
    * [[compactionPlan]]: from one pass over the listed columns,
    * the cardinality facts a columnar writer needs to pick
    * encodings (dictionary vs plain, the same decision parquet
    * writers make per row group). Everything emitted is an exact
    * integer or a single division of exact integers:
    *
    *   - n_rows / n_nulls / n_distinct (non-null distinct),
    *   - max_count — the heaviest single value's row count,
    *   - sum_sq_counts = Σ cnt² — the (unnormalized) Simpson
    *     concentration; sum_sq/n² is the collision probability, its
    *     reciprocal the "effective distinct count",
    *   - top_share = max_count/n_rows (the one IEEE division),
    *   - dict_friendly — the standard 1/16 cardinality heuristic,
    *     tested in integers (16·n_distinct ≤ non-null rows).
    *
    * Scale shape: `stack` expands rows ×|cols| map-side (no extra
    * scan per column — ONE pass reads all listed columns), then one
    * (column, value) partial-agg shuffle and one |cols|-sized
    * partial-agg — the classic two-level distinct-count shape. The
    * value ride is the column's STRING cast, which is injective on
    * Spark's round-trip-faithful formatting, so group counts equal
    * native-value group counts. */
  def encodingAdvisor(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "at least one column required")
    require(cols.forall(df.columns.contains),
      s"columns ${cols.filterNot(df.columns.contains)} absent from input")
    val pairs = df.select(expr(
      s"stack(${cols.size}, " +
        cols.map(c => s"'$c', CAST(`$c` AS STRING)").mkString(", ") +
        ") AS (col_name, _v)"))
    val perValue = pairs
      .groupBy(col("col_name"), col("_v"))
      .agg(count(lit(1)).as("_cnt"))
    perValue
      .groupBy("col_name")
      .agg(
        sum(col("_cnt")).as("n_rows"),
        sum(when(col("_v").isNull, col("_cnt")).otherwise(0L))
          .as("n_nulls"),
        count(when(col("_v").isNotNull, lit(1))).as("n_distinct"),
        max(when(col("_v").isNotNull, col("_cnt"))).as("max_count"),
        sum(when(col("_v").isNotNull, col("_cnt") * col("_cnt"))
          .otherwise(0L)).as("sum_sq_counts"))
      .withColumn("top_share",
        when(col("n_rows") > 0,
          col("max_count").cast("double") / col("n_rows").cast("double")))
      .withColumn("dict_friendly",
        lit(16L) * col("n_distinct") <= col("n_rows") - col("n_nulls"))
  }
}
