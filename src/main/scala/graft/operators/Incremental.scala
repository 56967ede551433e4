package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance — the materialized-view half of
  * a lakehouse: a per-key aggregate TABLE kept current by merging
  * each arriving batch's partial state instead of rescanning the
  * corpus. The reference engine recomputes every reduce from scratch
  * per job (`Imagine_MapReduce/MapReduceUtil.cpp:114-135` folds into
  * a per-invocation kv_map — no state survives between
  * jobs); the merge step is what turns its sum-by-key into a
  * maintainable view.
  *
  * The state row per key is `(keys..., n, sum_v, min_v, max_v)` — a
  * commutative, associative semigroup under [[mergeStates]], so
  * `build(b1) ⊕ build(b2) == build(b1 ∪ b2)` bitwise (all fields are
  * 64-bit-integer folds; IncrementalSpec pins the algebra, the q134
  * oracle recomputes the merged view from raw rows). min/max make
  * the state append-only: deletions would need a retraction design
  * (per-key rebuild or a sign column on n/sum only) — callers that
  * need deletes should drop min/max and say so.
  *
  * Scale shape: [[buildState]] is one partial-agg pass over the NEW
  * batch only; [[mergeStates]] is one key shuffle of STATE-sized
  * frames (row count = live keys, not events). The old corpus is
  * never re-read — that is the whole point. */
object Incremental {

  private val StateCols = Seq("n", "sum_v", "min_v", "max_v")

  /** Aggregate state of one batch: one row per key,
    * `(keys..., n, sum_v, min_v, max_v)` over `valueCol`. The value
    * must be integral (exact, order-free folds — convert currency to
    * cents first); null values count toward `n` but not the folds
    * (Spark and SQL aggregate semantics agree). */
  def buildState(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String): DataFrame = {
    require(keyCols.nonEmpty, "at least one key column required")
    val vt = df.schema(valueCol).dataType
    require(Seq("long", "integer", "short", "byte").contains(vt.typeName),
      s"valueCol $valueCol must be integral for exact mergeable sums, " +
        s"got ${vt.typeName}; convert currency to cents first")
    StateCols.foreach { r =>
      require(!keyCols.contains(r),
        s"key column name $r is reserved by buildState")
    }
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("long")).as("sum_v"),
        min(col(valueCol).cast("long")).as("min_v"),
        max(col(valueCol).cast("long")).as("max_v"))
  }

  /** Merge two state frames (same schema) into the state of the
    * union of their underlying batches: one key shuffle over
    * state-sized inputs. Keys present in only one side pass through
    * unchanged (sum/min/max of one row). */
  def mergeStates(state: DataFrame, delta: DataFrame): DataFrame = {
    require(state.columns.toSeq == delta.columns.toSeq,
      s"state schemas differ: ${state.columns.toSeq} vs " +
        s"${delta.columns.toSeq}")
    mergeAll(state.unionByName(delta))
  }

  /** Merge a frame that is a UNION of state rows (any number of
    * deltas stacked — e.g. a partition-discovered read of
    * [[graft.streaming.DeltaStore]] deltas with the `delta` column dropped)
    * into one state row per key. */
  def mergeAll(states: DataFrame): DataFrame = {
    require(StateCols.forall(states.columns.contains),
      s"not a state frame (missing ${StateCols}): ${states.columns.toSeq}")
    val keyCols = states.columns.filterNot(StateCols.contains).toSeq
    require(keyCols.nonEmpty, "state frame has no key columns")
    states
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("n")).as("n"), sum(col("sum_v")).as("sum_v"),
        min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"))
  }
}
