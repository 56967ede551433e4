package graft
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Benchmark main: JSON artifact lines on stdout with per-query
  * seconds. The suite executes as interleaved round-robin PASSES over
  * all queries; pass 1 IS the warmup (Catalyst analysis caches,
  * codegen compilation, JIT) — its samples are quarantined and quoted
  * only when budget shedding leaves a query with nothing else (see
  * [[BenchStats.effective]]) — and later passes are the measured
  * samples: `queries` reports the per-query ROBUST (trimmed) median
  * and `runs` the full measured per-run times, so a run-to-run swing
  * is a measurable spread instead of a narrative — a single-run bench
  * cannot arbitrate "regression" vs "variance" (the r4 q63/q40
  * lesson).
  *
  * Isolation robustness (the r6 lesson — the artifact of record was
  * captured on a contended box and two medians recorded 6–60× their
  * idle-box values from 2-of-3 contaminated runs): a plain N=3
  * median has a 2-outlier breakdown point, so runs are ADAPTIVE.
  * Each query starts with the base measured passes; while the
  * observed spread is unstable (max > 1.5× min AND the absolute gap
  * exceeds 0.3 s — the floor keeps micro-queries from re-running on
  * scheduler noise) it takes extra runs up to
  * SPARK_GRAFT_BENCH_MAX_RUNS (default 7). The reported value is the
  * TRIMMED median: with >= 7 samples the top/bottom 2 are dropped,
  * with >= 5 the top/bottom 1, then the median of the rest — so a
  * transient contention burst must poison MOST of up to 7
  * spread-triggered runs, not 2 of 3, before it can own the median.
  * The host's /proc/loadavg is recorded at start and end so a
  * contended capture is diagnosable from the artifact itself.
  *
  * Sustained-contention defense (the r7 lesson — a multi-minute
  * contention window covered ALL of five queries' consecutive runs;
  * the runs looked stable, so the trimmed median faithfully reported
  * the contaminated value, 13–55× the same-code clean figures):
  * 1. INTERLEAVING. Runs are round-robin passes over all queries, so
  *    one query's samples land minutes apart. A contention window
  *    that spans a few minutes poisons one sample of many queries —
  *    which the per-query trimmed median already absorbs — instead
  *    of every sample of a few queries.
  * 2. PRIOR CROSS-CHECK. The previous artifact (the bench_out.json
  *    committed at the last round, read before this run overwrites
  *    it; override via SPARK_GRAFT_BENCH_PRIOR; a `"partial":true`
  *    prior — a shed or killed capture — is ignored) supplies a
  *    per-query reference median. After the base passes, any query
  *    whose median exceeds 3× its prior (and by > 0.3 s absolute) is
  *    treated like an unstable one: the escalation budget is spent
  *    on extra interleaved passes over the divergent set FIRST, so a
  *    contaminated early window gets clean late samples to outvote
  *    it. Divergences still standing at the end are listed in the
  *    artifact (`prior_divergent`).
  *
  * Timeout-proofing (the r8 lesson — the driver's capture was killed
  * at its wall budget after ~25 min of SUCCESSFUL measurement, and
  * the artifact held nothing because the one JSON line printed only
  * at the end):
  * 1. A COMPLETE artifact line (full-suite medians over
  *    samples-so-far, `"partial":true`) prints and writes after
  *    EVERY pass and every 64 queries within a pass — a kill at any
  *    point leaves the latest full-suite line in the captured tail.
  *    Only queries with at least one sample appear mid-pass-1;
  *    `queries_measured` counts them.
  * 2. A WALL BUDGET (`SPARK_GRAFT_BENCH_WALL_SECS`, default 1380 s,
  *    measured from main() entry) is honored by DEGRADING, never
  *    overrunning. Budget priority (first kept, first shed from the
  *    tail): warmup + first measured pass (always attempted, aborted
  *    per-query when the clock actually runs out), the bucket-join
  *    diagnostic, later measured passes (per-query projection skips
  *    on the measured per-query minima +10% margin, in information-
  *    ranked order), escalation. A query a
  *    shed leaves short falls back through [[BenchStats.effective]]
  *    (measured samples if any, else the warmup sample), so even a
  *    catastrophically slow box yields a full-suite artifact with
  *    the shedding named in `shed`.
  *
  * Load-poisoning defense (the r9 lesson — the driver's capture
  * finally survived its wall budget, rc=0 with a full artifact, but
  * it STARTED at loadavg 2.90 and lone 75–96 s contention spikes
  * owned medians that measure 2–3 s clean):
  * 1. PRE-FLIGHT LOAD GATE. Before the wall clock starts, wait
  *    (bounded: SPARK_GRAFT_BENCH_LOAD_WAIT_SECS, default 120 s; 0
  *    disables) for the 1-min loadavg to drop below
  *    SPARK_GRAFT_BENCH_LOAD_MAX (default 2.0) — attacking the root
  *    cause (the box still draining the previous job) instead of
  *    mopping up downstream. `loadavg_entry` and `load_waited_s` in
  *    the artifact make a still-contended start diagnosable.
  * 2. DIVERGENCE-AWARE QUOTING ([[BenchStats.selected]]). A query
  *    left with a SINGLE measured sample that diverges >= 3x (and
  *    > 0.3 s) from both its quarantined warmup and the clean
  *    committed prior quotes min(measured, warmup) — a lone
  *    contended sample never owns the official median. Raw samples
  *    still drive escalation and the `prior_divergent` flag.
  *    `rescued` names the queries whose QUOTE is the fallback
  *    (every sample dropped — those void from the next prior);
  *    `sample_filtered` names queries that dropped some spikes but
  *    quote a surviving clean median (measured-quality, kept as
  *    priors).
  * 3. INFORMATION-RANKED SHEDDING. Under wall pressure, remaining
  *    budget goes to zero-measured-sample queries first, then
  *    prior-divergent ones, then the clean tail — never
  *    alphabetically — and shedding is per-query (a too-expensive
  *    query skips; cheaper queries behind it still measure). A
  *    shed-but-completed run's final line is `partial:true` and a
  *    shed prior is rejected by the parser, so warmup-quality
  *    medians never become the next round's reference. */
object Bench {

  /** The per-query medians of a prior artifact line, for the
    * one-sided divergence cross-check. Parsed with the Jackson shipped
    * in Spark; any failure (schema drift, a partial/shed prior)
    * degrades to "no prior" — the cross-check is an extra defense,
    * never a gate.
    *
    * Medians are only comparable at the same scale factor (a prior
    * captured at another sf would mass-flag or mass-mask divergence)
    * and only from a COMPLETE capture whose QUOTED medians were not
    * degraded — a partial line's medians may be warmup samples, and
    * (the r9 advisor catch) a run that COMPLETED but shed
    * measured-pass work quotes warmup-only samples (~1.5×
    * overestimates) for the shed tail, which would one-sidedly mask
    * the 3× cross-check. Only QUOTE-AFFECTING sheds (`pass_*` entries)
    * void the prior: a shed bucket diagnostic or escalation tail
    * degraded no quoted median, and voiding the prior over them would
    * silently disable the whole cross-check for the next run (r10
    * review). Individual RESCUED medians are warmup-quality by
    * construction — those names drop from the map while the clean
    * rest still serves. */
  def priorMedians(json: String, sfDir: String): Map[String, Double] =
    try {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      // path() gives a missing node: no elements, "" and false
      def names(field: String): Iterator[String] =
        root.path(field).elements().asScala.map(_.asText())
      if (root.path("sf").asText() != sfDir || root.path("partial").asBoolean() ||
          names("shed").exists(_.startsWith("pass_")))
        Map.empty
      else {
        val rescued = names("rescued").toSet
        root.get("queries").properties().asScala
          .collect { case e if !rescued.contains(e.getKey) =>
            e.getKey -> e.getValue.asDouble() }
          .toMap
      }
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  def main(args: Array[String]): Unit = {
    def loadavg: String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split(" ").take(3).mkString(" ")
      catch { case scala.util.control.NonFatal(_) => "" }
    def load1: Double =
      loadavg.split(" ").headOption.flatMap(_.toDoubleOption).getOrElse(0.0)
    // ---- pre-flight load gate (the r9 root cause: the driver's
    // capture STARTED at loadavg 2.90 — its own correctness run still
    // draining — and every defense downstream was mopping up that
    // contamination). A bounded wait attacks the cause: poll until
    // the 1-min loadavg drops below SPARK_GRAFT_BENCH_LOAD_MAX
    // (default 2.0) or SPARK_GRAFT_BENCH_LOAD_WAIT_SECS (default 120,
    // 0 disables) elapses, then proceed regardless — the gate may
    // only delay, never block, and both the entry load and the time
    // spent waiting land in the artifact (`loadavg_entry`,
    // `load_waited_s`) so a still-contended start is diagnosable.
    // The wall budget clock starts AFTER the gate: waiting must buy
    // cleanliness, not eat measurement budget. ----
    val loadEntry = loadavg
    val loadGateMax =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_LOAD_WAIT_SECS", "120").toDouble
    val loadGateThresh =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_LOAD_MAX", "2.0").toDouble
    var loadWaited = 0.0
    while (loadWaited < loadGateMax && load1 >= loadGateThresh) {
      Thread.sleep(5000)
      loadWaited += 5.0
    }
    val t0Wall = System.nanoTime()
    def wallS: Double = (System.nanoTime() - t0Wall) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // total interleaved passes INCLUDING the pass-1 warmup (so the
    // default 3 = 1 warmup + 2 measured — the r8 suite's separate
    // warmup pass cost a third of the wall for samples it threw away)
    val nPasses = math.max(2,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    val maxRuns = math.max(nPasses - 1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_RUNS", "7").toInt)
    val wallBudget =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_WALL_SECS", "1380").toDouble
    val loadStart = loadavg
    // Prior artifact medians, read BEFORE this run overwrites the
    // default output path; a missing or unreadable file is "no prior".
    val priorPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PRIOR",
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/bench_out.json"))
    val prior: Map[String, Double] =
      try priorMedians(new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(priorPath)),
          java.nio.charset.StandardCharsets.UTF_8), sfDir)
      catch { case scala.util.control.NonFatal(_) => Map.empty }
    val spark = SparkEntry.localSession()
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    def timeOnce(
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Double = {
      // isolate runs from each other: eager operators persist small
      // derived results and the CacheManager matches them by
      // canonical plan, so without this a timed run can silently
      // reuse (or GC-fight with) another invocation's blocks —
      // attribution noise, not signal
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
      (System.nanoTime() - t0) / 1e9
    }
    // the measurement statistics live in BenchStats (spec-pinned:
    // BenchStatsSpec) — trimmed median, rel+abs instability, the
    // one-sided prior cross-check that challenges STABLE-slow
    // readings, and the warmup-fallback sample selection
    import BenchStats.{unstable, robustMedian, effective}
    // pass-1 warmup samples (quarantined) and measured samples
    val warm = scala.collection.mutable.LinkedHashMap[String, Double]()
    val acc = scala.collection.mutable.LinkedHashMap[String, Vector[Double]](
      queries.map { case (name, _) => name -> Vector.empty[Double] }: _*)
    // RAW sample selection — what the harness's own decisions
    // (escalation, divergence bookkeeping, projections) see; the
    // QUOTED medians additionally pass through the lone-sample
    // divergence rescue (quotedOf below) so a single contended
    // sample can never own the official number while the raw view
    // still drives the escalation that would outvote it properly
    def samplesOf(name: String): Seq[Double] =
      effective(warm.get(name), acc(name))
    def quotedOf(name: String): Seq[Double] =
      BenchStats.selected(warm.get(name), acc(name), prior.get(name))
    // `rescued` = the QUOTE came from the rescue fallback (every
    // measured sample dropped — warmup-quality, so the name must
    // void in the next prior). A query that dropped SOME samples but
    // quoted a surviving clean median is `sampleFiltered` instead:
    // measured-quality, a valid prior, but the filtering stays
    // visible. (r10 self-review: flagging ANY rescue-worthy sample
    // as `rescued` voided clean-quoted queries from the prior — one
    // spike per query across 50 queries would have silently disabled
    // the 3× cross-check for all 50.)
    def rescued(name: String): Boolean =
      BenchStats.quoteRescued(warm.get(name), acc(name), prior.get(name))
    def sampleFiltered(name: String): Boolean =
      BenchStats.partiallyFiltered(warm.get(name), acc(name), prior.get(name))
    def divergent(name: String): Boolean = {
      val ts = samplesOf(name)
      ts.nonEmpty && BenchStats.divergent(ts, prior.get(name))
    }
    // per-query admission projection for shed decisions. With
    // measured samples: min sample + 10% load margin (load only ever
    // adds, so the min is the clean-cost estimate). With only a
    // warmup sample: the RAW warmup, no margin and no discount — the
    // warmup already overestimates the clean cost by ~1.5× (codegen
    // + JIT, the header's number), which both absorbs the load
    // margin AND keeps the r10 fix (a query warming at 85 s but
    // measuring ~57 s is admitted at wallS=1290/1380 where the old
    // 1.1×warmup rule shed it), while still upper-bounding the
    // CONTENDED-case cost: a measured run on a still-loaded box gets
    // no JIT win and takes ≈ its warmup, so the earlier warmup/1.5
    // discount could admit a 120 s query at wallS=1290 and overrun
    // the wall by ~30 s — breaking the "degrade, never overrun"
    // contract exactly on the contended box it defends against
    // (r10 self-review). Admission rule: run iff even the
    // no-JIT-win cost fits.
    def projCost(name: String): Double =
      if (acc(name).nonEmpty) 1.1 * acc(name).min
      else warm.getOrElse(name, 0.0)
    var bucketEntries: Seq[(String, Double)] = Seq.empty
    val shed = scala.collection.mutable.ArrayBuffer[String]()
    // ---- artifact emission: a COMPLETE line from samples-so-far ----
    def fmt(v: Double) = BigDecimal(v)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "/root/repo/bench_out.json")
    def emit(partial: Boolean): Unit = {
      val seen = queries.map(_._1).filter(n => samplesOf(n).nonEmpty)
      // quoted median: the divergence-aware selection (a rescued
      // query quotes min(measured, warmup)); the prior_divergent
      // flag stays computed on the RAW samples so a rescue is
      // visible, never laundered — rescued names also land in their
      // own `rescued` array
      val results = seen.map(n => n -> robustMedian(quotedOf(n)))
      val stillDivergent = seen.filter(divergent)
      val rescuedNames = seen.filter(rescued)
      val filteredNames = seen.filter(sampleFiltered)
      val qs = (results ++ bucketEntries)
        .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      // measured per-run times ride along so the median is auditable
      // and "machine variance" is a quotable spread, not a claim; the
      // quarantined warmup samples land in their own map
      val runsJson = seen
        .map(k => s"\"" + k + "\":" + acc(k).map(fmt).mkString("[", ",", "]"))
        .mkString("{", ",", "}")
      val warmJson = seen.flatMap(k => warm.get(k).map(v =>
          s"\"" + k + "\":" + fmt(v)))
        .mkString("{", ",", "}")
      val total = results.map(_._2).sum
      val divJson = stillDivergent
        .map(n => s"\"" + n + "\"").mkString("[", ",", "]")
      val rescJson = rescuedNames
        .map(n => s"\"" + n + "\"").mkString("[", ",", "]")
      val filtJson = filteredNames
        .map(n => s"\"" + n + "\"").mkString("[", ",", "]")
      val shedJson = shed.map(s => s"\"" + s + "\"").mkString("[", ",", "]")
      val line =
        s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"runs_per_query":${nPasses - 1},"max_runs":$maxRuns,"stat":"trimmed_median_interleaved","partial":$partial,"queries_measured":${seen.size},"wall_s":${fmt(wallS)},"wall_budget_s":${fmt(wallBudget)},"shed":$shedJson,"prior_divergent":$divJson,"rescued":$rescJson,"sample_filtered":$filtJson,"runs":$runsJson,"warmup":$warmJson,"loadavg_entry":"$loadEntry","load_waited_s":${fmt(loadWaited)},"loadavg_start":"$loadStart","loadavg_end":"$loadavg","sf":"$sfDir"}"""
      println(line)
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(outPath),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { // the stdout line is the contract; the file is best-effort
        case scala.util.control.NonFatal(_) => ()
      }
    }
    // ---- base passes (pass 1 = warmup), budget-aware ----
    // Budget priority: the warmup always attempts every query,
    // aborting per-query only when the clock actually runs out (the
    // r9 advisor catch: a pass-1-only exemption let a slow box
    // overrun the budget for the remainder of the warmup). Measured
    // passes — INCLUDING pass 2 — additionally apply the per-query
    // admission projection ([[projCost]]: raw warmup before any
    // measured sample exists, measured min +10% after): a pass-2
    // query whose no-JIT-win cost cannot fit is shed to its warmup
    // quote rather than risked past the wall — the deliberate
    // r10 tradeoff projCost documents. The bucket diagnostic next
    // (unique evidence); then later measured passes (ranked order);
    // then escalation (it only buys redundancy).
    //
    // Within a measured pass the work is INFORMATION-RANKED, not
    // alphabetical (the r9 lesson: an alphabetical tail shed left 74
    // queries quoting contended warmup samples): queries with ZERO
    // measured samples run first (each buys a median that nothing
    // else supplies), then prior-divergent ones (history says their
    // current samples are least trustworthy), then the clean rest —
    // alphabetical within a class for determinism. Shedding is
    // PER-QUERY: a query whose projected cost no longer fits is
    // skipped (counted in `shed`) while cheaper queries behind it
    // still get their sample; only an actually-exhausted clock
    // aborts the pass. A shed query keeps its earlier samples and
    // falls back through [[BenchStats.effective]]/[[BenchStats.selected]].
    var aborted = false
    def runPass(p: Int): Unit = {
      val order =
        if (p <= 2) queries // no measured samples exist yet to rank on
        else queries.sortBy { case (n, _) =>
          (if (acc(n).isEmpty) 0 else if (divergent(n)) 1 else 2, n)
        }
      var i = 0
      val shedNames = scala.collection.mutable.ArrayBuffer[String]()
      for ((name, fn) <- order if !aborted) {
        if (wallS > wallBudget) {
          aborted = true
          shed += s"pass_${p}_wall_from_$name"
        } else if (p > 1 && wallS + projCost(name) > wallBudget) {
          shedNames += name
        } else {
          val t = timeOnce(fn)
          if (p == 1) warm(name) = t else acc(name) = acc(name) :+ t
          i += 1
          if (i % 64 == 0) emit(partial = true)
        }
      }
      // name every shed query (capped — a pathological shed is still
      // one bounded artifact entry), so warmup-quality quotes are
      // directly enumerable by artifact consumers instead of
      // recoverable only from empty `runs` arrays (r10 advisor);
      // the `pass_` prefix is load-bearing: it is what voids this
      // artifact as the next round's prior
      if (shedNames.nonEmpty) {
        val cap = 48
        val listed = shedNames.take(cap).mkString(",") +
          (if (shedNames.size > cap) s",+${shedNames.size - cap}more"
           else "")
        shed += s"pass_${p}_shed_${shedNames.size}q:$listed"
      }
      emit(partial = true)
    }
    runPass(1)
    if (!aborted) runPass(2)
    // ---- bucketed-join evidence (SCALING.md): the same big-big join
    // shape as q11, shuffled vs co-bucketed. Table writes are one-time
    // layout cost and untimed; the bucketed timing only counts if the
    // executed plan is genuinely exchange-free below the join (else
    // -1). These x_ entries ride in the queries map for side-by-side
    // comparison but stay out of `total` (they duplicate q11's work).
    // Unique evidence, so it outranks escalation (which only buys
    // redundancy) in the budget order — but it still sheds before the
    // artifact risks the clock (~90 s observed cost incl. writes). ----
    if (aborted || wallS + 90 > wallBudget) {
      shed += "bucket_diag"
    } else {
      val priorThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      bucketEntries = try {
        import org.apache.spark.sql.functions._
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        val o = spark.read.parquet(s"$sfDir/orders.parquet")
        def shape(j: org.apache.spark.sql.DataFrame) =
          j.groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        val shuffled = shape(li.join(o, col("l_orderkey") === col("o_orderkey")))
        shuffled.count() // warm
        val t0 = System.nanoTime(); shuffled.count()
        val tShuffled = (System.nanoTime() - t0) / 1e9
        // one file per bucket (repartition on the bucket key before the
        // write): multi-file buckets force a sort below the join and
        // read with bucket-count tasks regardless of file count
        li.repartition(col("l_orderkey"))
          .write.mode("overwrite").bucketBy(32, "l_orderkey")
          .sortBy("l_orderkey").saveAsTable("bench_li_bucketed")
        o.repartition(col("o_orderkey"))
          .write.mode("overwrite").bucketBy(32, "o_orderkey")
          .sortBy("o_orderkey").saveAsTable("bench_o_bucketed")
        val bucketed = shape(spark.table("bench_li_bucketed")
          .join(spark.table("bench_o_bucketed"),
            col("l_orderkey") === col("o_orderkey")))
        bucketed.count() // warm
        val plan = bucketed.queryExecution.executedPlan.toString
        val exchangesBelowJoin = plan.linesIterator
          .dropWhile(!_.contains("SortMergeJoin"))
          .count(_.contains("Exchange hashpartitioning"))
        val t1 = System.nanoTime(); bucketed.count()
        val tBucketed = (System.nanoTime() - t1) / 1e9
        Seq("x_join_shuffled" -> tShuffled,
          "x_join_bucketed" -> (if (exchangesBelowJoin == 0) tBucketed else -1.0))
      } catch { case _: Throwable => Seq.empty }
      finally {
        try {
          spark.sql("DROP TABLE IF EXISTS bench_li_bucketed")
          spark.sql("DROP TABLE IF EXISTS bench_o_bucketed")
        } catch { case _: Throwable => () }
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", priorThreshold)
      }
      emit(partial = true)
    }
    // ---- later measured passes: information-ranked with per-query
    // projection skips (the r9 whole-pass gate shed an ENTIRE pass
    // when its projected sum did not fit — a partial ranked pass
    // measures the zero-sample and divergent queries that fit, which
    // is strictly more information for the same clock) ----
    for (p <- 3 to nPasses if !aborted) runPass(p)
    // ---- escalation: global budget of ~2 extra runs per query on
    // average (an idle box consumes well under this; a PERSISTENTLY
    // contended box would otherwise escalate everywhere and blow the
    // suite wall to maxRuns x — bound it so the artifact still lands,
    // with the contamination visible in `runs` + loadavg). Escalation
    // is itself interleaved: each iteration is one pass over every
    // query that still needs samples, information-ranked (r10):
    // ZERO-measured-sample queries first (a pass-2 per-query shed
    // can leave them behind, and their first sample buys a median
    // nothing else supplies), then divergent-vs-prior, then merely
    // unstable — so the budget buys time-separated samples where the
    // current median is least trustworthy. The wall budget cuts it
    // off per-sample — redundancy is the first thing to shed. ----
    var extraBudget = if (aborted) 0 else 2 * queries.size
    var escalating = extraBudget > 0
    var wallStop = false
    while (escalating && extraBudget > 0 && !wallStop) {
      val needy = queries.filter { case (name, _) =>
        acc(name).length < maxRuns &&
          (acc(name).isEmpty || divergent(name) || unstable(acc(name)))
      }
      val ordered = needy.sortBy { case (name, _) =>
        (if (acc(name).isEmpty) 0 else if (divergent(name)) 1 else 2, name)
      }
      escalating = ordered.nonEmpty
      // per-query skip, not hard stop (the pass-shedding rule): an
      // unaffordable needy query must not block a cheaper one behind
      // it; an iteration that could afford NOTHING ends escalation
      // (every projection will keep failing — the clock is out)
      var tookAny = false
      var skippedAny = false
      for ((name, fn) <- ordered if extraBudget > 0) {
        if (wallS + projCost(name) > wallBudget) skippedAny = true
        else {
          acc(name) = acc(name) :+ timeOnce(fn)
          extraBudget -= 1
          tookAny = true
        }
      }
      if (!tookAny) {
        wallStop = true
        if (skippedAny) shed += "escalation_tail"
      }
      emit(partial = true)
    }
    // the final line is partial when QUOTE-AFFECTING work was shed
    // (the r9 advisor catch: a run that shed measured passes quotes
    // warmup-only samples for the tail — publishing them
    // partial:false would hand the next round's prior cross-check a
    // ~1.5× inflated reference that one-sidedly masks real
    // divergence; the prior parser also rejects pass-shed priors, so
    // this is belt-and-braces). A shed bucket diagnostic or
    // escalation tail degraded no quoted median and must NOT void
    // the run as a prior (r10 review: r9's first official capture
    // shed only escalation_tail — marking that partial would have
    // silently disabled the entire cross-check next round).
    emit(partial = shed.exists(_.startsWith("pass_")))
    spark.stop()
  }
}
