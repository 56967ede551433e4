package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators the reference lacks entirely (SURVEY §2.2
  * "Joins: absent") but a production analytics engine needs; both are
  * built by composing existing Spark operators (preference (a) of the
  * custom-operator ladder) so they stay inside whole-stage codegen and
  * Catalyst keeps optimizing around them.
  *
  * Scale posture (100 TB):
  *
  *   - [[asofJoin]] — the naive spelling is a per-row correlated
  *     subquery (O(n·m) nested loop, unusable at scale). This spelling
  *     is union-tag → ONE hash shuffle on the equi-keys → one sort by
  *     (key, time, side) → a running `last(ignoreNulls)` window. Cost
  *     is a single exchange + sort of left+right combined, the same
  *     plan shape a dedicated AsofJoinExec would produce; skew is
  *     bounded by per-key event counts, not pair counts.
  *   - [[rangeJoin]] — the naive spelling is a BroadcastNestedLoopJoin
  *     on the interval predicate. This spelling buckets time into
  *     `width`-sized cells, equi-joins on (key, bucket) (left rows are
  *     duplicated into the ≤ 1 + ceil(window/width) buckets their
  *     interval can touch), then applies the exact residual predicate.
  *     Shuffle volume is O(n · buckets-per-row), pair work is confined
  *     to same-cell candidates — the standard interval-bucketing range
  *     join (what Databricks' range-join hint does).
  */
object Joins {

  /** As-of join: for every left row, attach the single `keys`-matching
    * right row selected by `direction` (pandas merge_asof semantics):
    *
    *   - `"backward"` (default) — greatest `rightTime <= leftTime`
    *     (strictly earlier with `strict = true`), like DuckDB's
    *     ASOF LEFT JOIN;
    *   - `"forward"` — smallest `rightTime >= leftTime` (strictly
    *     later with `strict = true`);
    *   - `"nearest"` — whichever of the two sits closer in time;
    *     exact ties take the backward match. `strict` excludes
    *     equal-time rows from both sides.
    *
    * Right payload columns come back null when no match exists
    * (left-outer semantics).
    *
    * `tolerance`: optional max distance in seconds — matches farther
    * than that (staleness for backward, lead for forward, either for
    * nearest) are nulled out.
    *
    * All three directions ride the SAME single exchange: the window
    * partitioning is the equi-keys either way, forward is just the
    * descending in-partition sort, and nearest evaluates both window
    * frames over one shuffle (two in-partition sorts, zero extra
    * exchanges — never a self-join, which would need a unique left id
    * and a second shuffle).
    *
    * Requirements: `keys` column names exist on both sides; time
    * columns are timestamps; right (key, time) pairs should be unique
    * for deterministic payloads (true of the `events` fixture).
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      rightPayload: Seq[String],
      strict: Boolean = false,
      tolerance: Option[Double] = None,
      direction: String = "backward"): DataFrame = {
    val leftCols = left.columns.toSeq
    require(Set("backward", "forward", "nearest").contains(direction),
      s"direction must be backward/forward/nearest, got '$direction'")
    require(keys.nonEmpty,
      "asofJoin needs at least one equi-key: a keyless as-of is a " +
        "single global sort — repartition-hostile at scale")
    val reserved = Set("__t", "__side", "__payload", "__match",
      "__matchTime", "__ok", "matched_time",
      "__matchB", "__matchTimeB", "__matchF", "__matchTimeF")
    require(!(rightPayload ++ leftCols).exists(reserved.contains),
      s"column names ${reserved.mkString(", ")} are reserved by asofJoin")
    require(rightPayload.forall(p => !leftCols.contains(p)),
      s"right payload columns ${rightPayload.filter(leftCols.contains)} " +
        "collide with left columns — rename one side first")
    // Tag sides and align schemas: left keeps its columns, carries a
    // null payload struct; right contributes only keys + time + the
    // payload struct. At equal times the right row must sort BEFORE
    // the left probe for `<=` semantics (side 0 < side 1); `strict`
    // flips that so a tied right row is not yet visible.
    val payloadStruct = struct(rightPayload.map(col): _*)
    val rightSide = (if (strict) 1 else 0)
    val leftSide = 1 - rightSide

    val lTagged = left
      .withColumn("__t", col(leftTime))
      .withColumn("__side", lit(leftSide))
      .withColumn("__payload", lit(null).cast(
        right.select(payloadStruct).schema.head.dataType))
    val rTagged = right
      // equi-join semantics: a NULL key matches nothing — window
      // partitionBy would otherwise group NULL keys together and
      // match them against each other (DuckDB ASOF ON l.k = r.k
      // drops them, so must we)
      .filter(keys.map(col(_).isNotNull).reduce(_ && _))
      .withColumn("__payload", payloadStruct)
      .select((keys.map(col) :+ col(rightTime).as("__t") :+ col("__payload")): _*)
      .withColumn("__side", lit(rightSide))
    // align columns for union: left-only columns are null on right rows
    val union = lTagged.select(
      (leftCols.map(col) ++ Seq(col("__t"), col("__side"), col("__payload"))): _*)
      .unionByName(
        rTagged.select(
          (leftCols.map(c =>
            if (keys.contains(c)) col(c)
            else lit(null).cast(left.schema(c).dataType).as(c)) ++
            Seq(col("__t"), col("__side"), col("__payload"))): _*))

    // at equal (__t, direction-order) the side column decides right-row
    // visibility in BOTH sort orders: ascending for backward, descending
    // for forward — the running last(ignoreNulls) is "the match so far"
    // either way
    val wB = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t").desc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def matchOver(w: org.apache.spark.sql.expressions.WindowSpec) = (
      last(col("__payload"), ignoreNulls = true).over(w),
      last(when(col("__side") === rightSide, col("__t")),
        ignoreNulls = true).over(w))
    val tolMicros = tolerance.map(secs => (secs * 1e6).toLong)
    def ok(matchTime: Column, forward: Boolean): Column = tolMicros match {
      case Some(m) =>
        val delta =
          if (forward) unix_micros(matchTime) - unix_micros(col("__t"))
          else unix_micros(col("__t")) - unix_micros(matchTime)
        matchTime.isNotNull && delta <= m
      case None => matchTime.isNotNull
    }
    val withinTol = direction match {
      case "backward" =>
        val (m, mt) = matchOver(wB)
        union.withColumn("__match", m).withColumn("__matchTime", mt)
          .filter(col("__side") === leftSide)
          .withColumn("__ok", ok(col("__matchTime"), forward = false))
      case "forward" =>
        val (m, mt) = matchOver(wF)
        union.withColumn("__match", m).withColumn("__matchTime", mt)
          .filter(col("__side") === leftSide)
          .withColumn("__ok", ok(col("__matchTime"), forward = true))
      case "nearest" =>
        val (mb, mtb) = matchOver(wB)
        val (mf, mtf) = matchOver(wF)
        val both = union
          .withColumn("__matchB", mb).withColumn("__matchTimeB", mtb)
          .withColumn("__matchF", mf).withColumn("__matchTimeF", mtf)
          .filter(col("__side") === leftSide)
        val okB = ok(col("__matchTimeB"), forward = false)
        val okF = ok(col("__matchTimeF"), forward = true)
        // forward wins only when STRICTLY closer — an exact-distance
        // tie (incl. the equal-time row both frames see) is backward
        val takeF = okF && (!okB ||
          (unix_micros(col("__matchTimeF")) - unix_micros(col("__t"))) <
            (unix_micros(col("__t")) - unix_micros(col("__matchTimeB"))))
        both
          .withColumn("__match",
            when(takeF, col("__matchF")).otherwise(col("__matchB")))
          .withColumn("__matchTime",
            when(takeF, col("__matchTimeF")).otherwise(col("__matchTimeB")))
          .withColumn("__ok", okB || okF)
    }
    val out = rightPayload.foldLeft(
      withinTol.withColumn("matched_time",
        when(col("__ok"), col("__matchTime")))) {
      case (df, p) => df.withColumn(p, when(col("__ok"), col(s"__match.$p")))
    }
    out.select((leftCols.map(col) :+ col("matched_time")) ++
      rightPayload.map(col): _*)
  }

  /** Native as-of join through the whole-operator Catalyst path
    * ([[graft.plans.AsofJoinPlan]] → [[graft.plans.AsofJoinStrategy]]
    * → [[graft.plans.AsofJoinExec]]): same semantics and output shape
    * as [[asofJoin]] (spec-checked equal), but executed as ONE
    * streaming merge per partition with O(1) state instead of a
    * window over the unioned sides. Use when the as-of is the hot
    * operator; the composed spelling needs no session extension. */
  def asofJoinNative(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      rightPayload: Seq[String],
      strict: Boolean = false,
      tolerance: Option[Double] = None,
      direction: String = "backward"): DataFrame = {
    require(keys.nonEmpty, "asofJoinNative needs at least one equi-key")
    require(Set("backward", "forward").contains(direction),
      s"asofJoinNative supports backward/forward, got '$direction' — " +
        "nearest is the composed asofJoin's two-frame plan")
    if (direction == "forward") {
      // forward == backward on NEGATED time axes: smallest t >= T over
      // micros m is greatest -m <= -T, and the streaming merge, strict
      // tie handling, and tolerance bound all carry over unchanged.
      // The negated columns ride along under a reserved name so the
      // caller's originals come back untouched; matched_time is
      // un-negated on the way out (null-safe: no match stays null).
      val tmp = "__asof_negt"
      require(!left.columns.contains(tmp) && !right.columns.contains(tmp),
        s"column name $tmp is reserved by asofJoinNative")
      import org.apache.spark.sql.types.TimestampType
      def neg(c: Column, dt: org.apache.spark.sql.types.DataType): Column =
        if (dt == TimestampType) timestamp_micros(-unix_micros(c)) else -c
      val lt = left.schema(leftTime).dataType
      val l2 = left.withColumn(tmp, neg(col(leftTime), lt))
      val r2 = right.withColumn(tmp,
        neg(col(rightTime), right.schema(rightTime).dataType))
      return asofJoinNative(l2, r2, keys, tmp, tmp, rightPayload,
          strict, tolerance, "backward")
        .withColumn("matched_time", neg(col("matched_time"), lt))
        .select((left.columns.toSeq.map(col) :+ col("matched_time")) ++
          rightPayload.map(col): _*)
    }
    val spark = left.sparkSession
    // idempotent: the one place AsofJoinStrategy enters a session
    if (!spark.experimental.extraStrategies.contains(graft.plans.AsofJoinStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.AsofJoinStrategy
    }
    // rename ALL right columns: disjoint names AND fresh expr ids, so
    // a self-as-of is unambiguous without analyzer dedup help
    val r2 = right.columns.foldLeft(right) {
      case (d, c) => d.withColumnRenamed(c, s"__r_$c")
    }
    val lPlan = left.queryExecution.analyzed
    val rPlan = r2.queryExecution.analyzed
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        name: String) =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column '$name'"))
    // Type validation up front: AsofJoinExec compares right-side key
    // rows with a RowOrdering built from the LEFT key types (silently
    // wrong matches on mismatch), and evals time columns as Long
    // micros (ClassCastException on e.g. INT). Fail with a clear
    // message instead.
    keys.foreach { kName =>
      val lt = attr(lPlan, kName).dataType
      val rt = attr(rPlan, s"__r_$kName").dataType
      require(lt == rt,
        s"asofJoinNative key '$kName' has mismatched types: left " +
          s"${lt.catalogString} vs right ${rt.catalogString} — cast one side first")
    }
    Seq(attr(lPlan, leftTime).dataType -> leftTime,
      attr(rPlan, s"__r_$rightTime").dataType -> rightTime).foreach {
      case (t, name) =>
        require(
          t == org.apache.spark.sql.types.TimestampType ||
            t == org.apache.spark.sql.types.LongType,
          s"asofJoinNative time column '$name' must be TIMESTAMP or BIGINT, " +
            s"got ${t.catalogString}")
    }
    require(
      attr(lPlan, leftTime).dataType == attr(rPlan, s"__r_$rightTime").dataType,
      s"asofJoinNative time columns must have the same type: " +
        s"'$leftTime' is ${attr(lPlan, leftTime).dataType.catalogString}, " +
        s"'$rightTime' is ${attr(rPlan, s"__r_$rightTime").dataType.catalogString}")
    val node = graft.plans.AsofJoinPlan(
      lPlan, rPlan,
      keys.map(attr(lPlan, _)), keys.map(k => attr(rPlan, s"__r_$k")),
      attr(lPlan, leftTime), attr(rPlan, s"__r_$rightTime"),
      strict,
      // integer-microsecond staleness bound, same unit discipline as
      // the composed spelling (no float drift at epoch scale)
      tolerance.map(secs => (secs * 1e6).toLong))
    val joinedDf = org.apache.spark.sql.graftshim.GraftSqlShim.ofRows(spark, node)
    joinedDf.select(
      (left.columns.toSeq.map(col) :+
        col(s"__r_$rightTime").as("matched_time")) ++
        rightPayload.map(p => col(s"__r_$p").as(p)): _*)
  }

  /** Interval range join: pairs (l, r) matching on `keys` with
    * `rightTime` in `[leftTime + lowerSec, leftTime + upperSec]`
    * (seconds, inclusive). Implemented as a bucketed equi-join: left
    * rows explode into every `width`-second cell their window can
    * touch, right rows land in their own cell, join on (keys, cell),
    * exact predicate applied as a residual filter. `width` defaults to
    * the window span so each left row lands in ≤ 2 cells.
    */
  def rangeJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      lowerSec: Double,
      upperSec: Double,
      widthSec: Option[Double] = None): DataFrame = {
    require(upperSec >= lowerSec, "upperSec must be >= lowerSec")
    require(!left.columns.contains(rightTime),
      s"right time column '$rightTime' collides with a left column — " +
        "rename one side first (the residual predicate needs both)")
    val loMicros = math.round(lowerSec * 1e6)
    val hiMicros = math.round(upperSec * 1e6)
    val wMicros = widthSec.map(w => math.max((w * 1e6).toLong, 1L))
      .getOrElse(math.max(hiMicros - loMicros, 1L))
    // all cell math in integer microseconds — no interval parsing, no
    // float drift at epoch scale
    def cellOf(micros: Column): Column = floor(micros / wMicros).cast("long")

    val l = left.withColumn("__cell",
      explode(sequence(
        cellOf(unix_micros(col(leftTime)) + loMicros),
        cellOf(unix_micros(col(leftTime)) + hiMicros))))
    // rename the right side's join columns to private names: the join
    // condition is then unambiguous even when both sides derive from
    // the SAME DataFrame (self-join) — no reliance on dataset-id
    // disambiguation, no "trivially true predicate" fragility
    val r = keys.foldLeft(
      right.withColumn("__rcell", cellOf(unix_micros(col(rightTime))))) {
      case (d, k) => d.withColumnRenamed(k, s"__rk_$k")
    }
    val joinCond = (keys.map(k => col(k) === col(s"__rk_$k")) :+
      (col("__cell") === col("__rcell"))).reduce(_ && _)
    val dtMicros = unix_micros(col(rightTime)) - unix_micros(col(leftTime))
    val dropCols = Seq("__cell", "__rcell") ++ keys.map(k => s"__rk_$k")
    l.join(r, joinCond)
      .filter(dtMicros >= loMicros && dtMicros <= hiMicros)
      .drop(dropCols: _*)
  }

  /** Interval-overlap join: pairs (l, r) matching on `keys` whose
    * CLOSED intervals `[leftStart, leftEnd]` and `[rightStart,
    * rightEnd]` overlap. The shape [[rangeJoin]] cannot express:
    * there, only the probe point varies; here BOTH sides carry
    * variable-length intervals, so both sides explode into the
    * fixed-width cells their interval touches and equi-join on
    * (keys, cell). A pair sharing several cells is emitted exactly
    * once WITHOUT a distinct shuffle: it is kept only in the first
    * cell both intervals occupy — `cell == max(cellOf(leftStart),
    * cellOf(rightStart))` — a deterministic per-row predicate.
    *
    * Scale shape: fan-out per row is `span/width + 1` cells, bounded
    * LOUDLY by `maxCellsPerRow` (a degenerate years-long interval
    * must not detonate the explode); the join is an ordinary
    * equi-join on (keys, cell) that AQE plans from real sizes. Right
    * columns in `keys` keep their names (equal by the join); all
    * other right columns must not collide with left ones. */
  def intervalOverlapJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftStart: String,
      leftEnd: String,
      rightStart: String,
      rightEnd: String,
      widthSec: Double,
      maxCellsPerRow: Int = 1024): DataFrame = {
    require(widthSec > 0, s"widthSec must be > 0, got $widthSec")
    require(maxCellsPerRow >= 2,
      s"maxCellsPerRow must be >= 2, got $maxCellsPerRow")
    val dup = right.columns.toSet
      .intersect(left.columns.toSet) -- keys
    require(dup.isEmpty,
      s"intervalOverlapJoin: non-key columns ${dup.mkString(", ")} " +
        "exist on both sides — rename one side first")
    val wMicros = math.max((widthSec * 1e6).toLong, 1L)
    def cellOf(c: String): Column =
      floor(unix_micros(col(c)) / wMicros).cast("long")
    // one narrow pass per side: loud contracts (no inverted
    // intervals, no interval wider than the explode bound)
    def guard(df: DataFrame, s: String, e: String, side: String): Unit = {
      val bad = df.agg(
        sum(when(col(e) < col(s), 1L).otherwise(0L)).as("inv"),
        max(unix_micros(col(e)) - unix_micros(col(s))).as("span"))
        .head()
      if (!bad.isNullAt(0)) {
        require(bad.getLong(0) == 0L,
          s"intervalOverlapJoin: ${bad.getLong(0)} $side rows have " +
            s"$e < $s — fix or drop inverted intervals upstream")
        val cells = bad.getLong(1) / wMicros + 1
        require(cells <= maxCellsPerRow,
          s"intervalOverlapJoin: a $side interval spans $cells cells " +
            s"of $widthSec s — beyond maxCellsPerRow=$maxCellsPerRow; " +
            "widen widthSec or cap interval lengths upstream")
      }
    }
    guard(left, leftStart, leftEnd, "left")
    guard(right, rightStart, rightEnd, "right")
    val l = left.withColumn("__cell",
      explode(sequence(cellOf(leftStart), cellOf(leftEnd))))
    val r0 = right.withColumn("__rcell",
      explode(sequence(cellOf(rightStart), cellOf(rightEnd))))
    val r = keys.foldLeft(r0) {
      case (d, k) => d.withColumnRenamed(k, s"__rk_$k")
    }
    val joinCond = (keys.map(k => col(k) === col(s"__rk_$k")) :+
      (col("__cell") === col("__rcell"))).reduce(_ && _)
    val overlap = col(leftStart) <= col(rightEnd) &&
      col(rightStart) <= col(leftEnd)
    val firstShared = col("__cell") ===
      greatest(cellOf(leftStart), cellOf(rightStart))
    val dropCols = Seq("__cell", "__rcell") ++ keys.map(k => s"__rk_$k")
    l.join(r, joinCond)
      .filter(overlap && firstShared)
      .drop(dropCols: _*)
  }
}
