package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.BenchStats.median
import graft.operators.{Dedup, Similarity}

/** The one dev measurement harness (not part of the driver
  * contract) — consolidates the former per-round Probe/Probe3..7
  * mains into a single parameterized entry point. Numbers quoted in
  * COVERAGE.md come from here.
  *
  * usage: runMain graft.tools.Probe <mode> [args]
  *   queries [runs] [name...]  per-catalog-query isolated timing
  *                             through a `noop` sink (every output
  *                             column computed, unlike `.count()`),
  *                             median of `runs` (default 3) after one
  *                             warm-up, cache cleared per run
  *                             (default names: the ANN trio); columns
  *                             are medians over the runs: wall_s,
  *                             jobs, stages, tasks, taskSum_s (summed
  *                             executor run time), par (taskSum/wall)
  *                             and gap_s (wall − taskSum/cores, the
  *                             driver-side share), then every run's
  *                             wall; a failing query throws
  *   ann-stages [rounds]       stage breakdown of the q40/q63 ANN
  *                             paths: candidates, full annTopK,
  *                             annTopKInt8, sampled exact reference
  *   components                operator-level timings (exact/blocked
  *                             self top-k, LSH, IVF, int8, near-dup)
  *   lsh-tune                  recall + wall time over a tables×bits
  *                             grid for the q40 path
  *   semdedup [k] [runs]       q242's semanticDedupPairs fixture at a
  *                             caller-chosen k — measures the SemDeDup
  *                             scale knob (k ∝ n keeps cells, hence
  *                             the in-cell pair stage, constant-sized)
  *   dedup-knee [runs] [qidBound]  q270 past the derivedSampleMod cap
  *                             knee: corpus grows, eval population
  *                             pinned — decomposes supplier vs scorer
  *   stream-tail [runs] [batchRows] [priorDeltas] [compactEvery]
  *                             fixed-size micro-batch against a
  *                             growing ingested corpus — times the
  *                             touched-only cross-lingual tail's
  *                             final batch (nlist scales with the
  *                             corpus, the production knob); the
  *                             prior corpus can arrive as priorDeltas
  *                             micro-batches with the in-stream
  *                             compaction cadence applied — timed
  *                             wall vs delta-dir count is the r13
  *                             compaction-bounded-lookup measurement
  *   repair-stages [runs]      q278's pipeline decomposed: the exact
  *                             dual-kNN SUPPLIER alone vs the
  *                             invalidation radius vs the repair
  *                             (rescore) stage over persisted lists —
  *                             attributes the whole-query slope
  *
  * env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default
  * 4, [[graft.SparkEntry.localSession]]).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.SparkEntry.localSession()
    val mode = args.headOption.getOrElse("queries")
    val rest = args.drop(1).toSeq
    mode match {
      case "queries" => queriesMode(spark, sfDir, rest)
      case "ann-stages" => annStages(spark, sfDir, rest)
      case "components" => components(spark, sfDir)
      case "lsh-tune" => lshTune(spark, sfDir)
      case "semdedup" => semdedup(spark, sfDir, rest)
      case "dedup-knee" => dedupKnee(spark, sfDir, rest)
      case "stream-tail" => streamTail(spark, sfDir, rest)
      case "repair-stages" => repairStages(spark, sfDir, rest)
      case other =>
        System.err.println(s"unknown probe mode '$other' " +
          "(queries | ann-stages | components | lsh-tune | semdedup " +
          "| dedup-knee | stream-tail | repair-stages)")
        sys.exit(2)
    }
    spark.stop()
  }

  private def t[A](what: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f
    println(f"$what%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s"); r
  }

  private def emb(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/embeddings.parquet")

  /** Counts jobs, stages and tasks and sums executor run time. */
  private object JobCounts extends SparkListener {
    private val jobs, stages, tasks, taskMs = new AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) taskMs.addAndGet(m.executorRunTime)
    }
    def reset(): Unit = Seq(jobs, stages, tasks, taskMs).foreach(_.set(0))
    /** (jobs, stages, tasks, taskSum seconds) since the last reset. */
    def snap: Seq[Double] =
      Seq(jobs.get.toDouble, stages.get.toDouble, tasks.get.toDouble,
        taskMs.get / 1e3)
  }

  /** Writes every row and column of `df` to Spark's `noop` sink. A
    * `.count()` would let Catalyst prune the projections the query
    * computes (q33's `fp` column, say), so it would time less work. */
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Isolated per-query timing with the Bench discipline (clearCache
    * per run, one warm-up, median + spread printed), through a `noop`
    * sink so every output column is computed, and the
    * scheduling-vs-compute attribution: a query whose gap dominates
    * its wall pays driver-side coordination (many small sequential
    * jobs, collect seams — the [[graft.core.Par.overlap]] candidates),
    * while a small gap means genuine parallel compute. */
  private def queriesMode(
      spark: SparkSession, sfDir: String, rest: Seq[String]): Unit = {
    val (runs, names0) = rest.headOption.flatMap(_.toIntOption) match {
      case Some(n) => (math.max(1, n), rest.drop(1))
      case None => (3, rest)
    }
    val names = if (names0.nonEmpty) names0
      else Seq("q40_sim_ann_lsh", "q48_sim_ann_ivf", "q63_sim_ann_int8")
    val cores = spark.sparkContext.defaultParallelism
    spark.sparkContext.addSparkListener(JobCounts)
    println(f"${"query"}%-32s ${"wall_s"}%8s ${"jobs"}%6s ${"stages"}%6s " +
      f"${"tasks"}%7s ${"taskSum_s"}%9s ${"par"}%5s ${"gap_s"}%7s  runs")
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      spark.catalog.clearCache()
      noop(fn(spark, sfDir)) // warm
      val samples = (1 to runs).map { _ =>
        spark.catalog.clearCache()
        // the listener bus is async with no public drain — a short
        // settle attributes >99% of events to the right run
        Thread.sleep(250)
        JobCounts.reset()
        val t0 = System.nanoTime()
        noop(fn(spark, sfDir))
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(250)
        wall +: JobCounts.snap
      }
      val Seq(wall, jobs, stages, tasks, taskS) =
        samples.transpose.map(median)
      val par = if (wall > 0) taskS / wall else 0.0
      val gap = wall - taskS / cores
      println(f"$name%-32s $wall%8.3f $jobs%6.1f $stages%6.1f $tasks%7.1f " +
        f"$taskS%9.2f $par%5.1f $gap%7.3f  " +
        samples.map(_.head).sorted.map(x => f"$x%.3f").mkString("[", ", ", "]"))
    }
  }

  /** q270 past the cap knee (r10 verdict #4): the same pipeline with
    * the QUERY POPULATION PINNED to a fixed absolute id bound (on a
    * ScaleUp fixture the original-id range), so the corpus grows while
    * the sampled eval population stays constant — exactly the regime
    * derivedSampleMod enforces past 50k vectors, measurable here
    * without a 50k fixture. usage: dedup-knee [runs] [qidBound]. */
  private def dedupKnee(
      spark: SparkSession, sfDir: String, rest: Seq[String]): Unit = {
    val runs = rest.headOption.flatMap(_.toIntOption).getOrElse(3)
    val bound = rest.drop(1).headOption.flatMap(_.toLongOption)
      .getOrElse(2000L)
    println(s"embeddings: ${emb(spark, sfDir).count()} rows, " +
      s"queries pinned to vec_id < $bound (mod 10)")
    // the banded-drop SUPPLIER alone (since r12 the shipped supplier
    // is minHashLshPairs @0.4 + max-band aggregate — the LSH swap the
    // r11 knee probe priced; this block times whatever q270 ships) —
    // q270's pipeline cost decomposes into supplier + scorer, and
    // only the scorer's slope is what the pinned population isolates;
    // timing the supplier separately attributes the residual
    val supplierTs = (1 to runs).map { _ =>
      spark.catalog.clearCache()
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val t0 = System.nanoTime()
      Dedup.minHashLshPairs(docs, "doc_id", "text", n = 3,
          bands = 32, rowsPerBand = 4, minJ = 0.4)
        .select(col("id_b").as("did"),
          least(floor(col("jaccard") * 10).cast("long"),
            lit(9L)).as("pb"))
        .groupBy("did").agg(max("pb").as("mb"))
        .count()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    println(f"drops supplier alone        median " +
      f"${median(supplierTs)}%7.3f s  " +
      supplierTs.map(x => f"$x%.3f").mkString("[", ", ", "]"))
    spark.catalog.clearCache()
    graft.queries.ExtDedup.dedupSweepEval(spark, sfDir, Some(bound))
      .count() // warm
    val ts = (1 to runs).map { _ =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      graft.queries.ExtDedup.dedupSweepEval(spark, sfDir, Some(bound))
        .count()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    println(f"dedup-knee(pinned<$bound) median ${median(ts)}%7.3f s  " +
      ts.map(x => f"$x%.3f").mkString("[", ", ", "]"))
  }

  /** Touched-only streamed tail (r12 — the r11 verdict's #1): a
    * FIXED-SIZE micro-batch against a growing already-ingested
    * corpus. The pre-r12 tail rewrote the full O(corpus·k) list
    * state and re-mined every list per batch, so batch-1 time grew
    * with the corpus regardless of batch size; the touched-only tail
    * tracks the batch's candidate set. `nlist` scales with the
    * corpus (~128 vectors/cell — the production knob the q273 gate
    * prices), so the candidate stage itself is also batch-shaped and
    * a flat batch-1 time across a ScaleUp ×3 fixture attributes the
    * whole per-batch cost to |batch|, not corpus. Per-phase stderr
    * prints (tail/merge, tail/mine) decompose the tail further.
    * With `priorDeltas` > 1 the prior corpus arrives as that many
    * micro-batches instead of one, so the store holds priorDeltas
    * delta directories when the timed batch runs — and `compactEvery`
    * applies the in-stream compaction cadence while they load. That
    * pair is the r13 SCALING measurement: timed-batch wall vs
    * delta-directory count, with compaction bounding the count to
    * O(compactEvery) — the number behind the "O(compactEvery) dirs"
    * lookup-cost claim.
    * usage: stream-tail [runs] [batchRows] [priorDeltas] [compactEvery] */
  private def streamTail(
      spark: SparkSession, sfDir: String, rest: Seq[String]): Unit = {
    val runs = rest.headOption.flatMap(_.toIntOption).getOrElse(3)
    val batchRows = rest.drop(1).headOption.flatMap(_.toIntOption)
      .getOrElse(256)
    val priorDeltas = rest.drop(2).headOption.flatMap(_.toIntOption)
      .getOrElse(1)
    val compactEvery = rest.drop(3).headOption.flatMap(_.toIntOption)
      .getOrElse(0)
    require(priorDeltas >= 1, s"priorDeltas must be >= 1")
    val e = emb(spark, sfDir).select(col("vec_id"), col("embedding"))
    val n = e.count()
    require(n > 2L * batchRows,
      s"corpus $n too small for a $batchRows-row probe batch")
    // count-based cut: the batchRows highest ids form the timed
    // batch, so it stays fixed-size on ScaleUp fixtures where ids grow
    val cut = e.select(col("vec_id")).orderBy(col("vec_id").desc)
      .limit(batchRows).agg(min(col("vec_id"))).first().getLong(0)
    val nlist = math.max(16, (n / 128).toInt)
    // prior corpus split into priorDeltas contiguous id ranges of
    // equal ROW counts (absolute id ranges leave slices empty or
    // skewed on offset or sparse ids); slice i is [bounds(i),
    // bounds(i + 1)), and the last ends at the timed batch's cut
    val priorIds = e.select(col("vec_id")).filter(col("vec_id") < cut)
      .orderBy(col("vec_id")).collect().map(_.getLong(0))
    require(priorIds.length >= priorDeltas,
      s"${priorIds.length} prior rows cannot fill $priorDeltas deltas")
    val bounds = (0 until priorDeltas)
      .map(i => priorIds(priorIds.length * i / priorDeltas)) :+ cut
    require(bounds.sliding(2).forall { case Seq(lo, hi) => lo < hi },
      s"an empty prior slice: bounds ${bounds.mkString(", ")}")
    println(s"corpus $n rows; prior ${n - batchRows} rows over " +
      s"$priorDeltas deltas (compactEvery=$compactEvery), timed batch " +
      s"$batchRows rows, nlist $nlist, nprobe 4")
    val ts = (1 to runs).map { _ =>
      spark.catalog.clearCache()
      val base = java.nio.file.Files
        .createTempDirectory("graft_tailprobe_").toString
      try {
        for (i <- 0 until priorDeltas) {
          val slice = e.filter(col("vec_id") >= bounds(i) &&
            col("vec_id") < bounds(i + 1))
          graft.streaming.Streams.ingestCrossLingualAnnBatch(
            slice, i.toLong, "vec_id", "embedding",
            s"$base/vecs", s"$base/cents", s"$base/lists", s"$base/pairs",
            4, 1.05, nlist, 4, 256)
          // the in-stream cadence (committed-only), over all four
          // stores as the ANN stream runs it
          if (graft.streaming.Streams.compactDue(i.toLong, compactEvery))
            graft.streaming.Streams.compactCrossLingualStores(
              slice, "vec_id", "embedding", cells = true, s"$base/vecs",
              s"$base/lists", s"$base/pairs", i - 1L)
        }
        val dirCount =
          new graft.streaming.DeltaStore(spark, s"$base/lists").ids.size
        val t0 = System.nanoTime()
        graft.streaming.Streams.ingestCrossLingualAnnBatch(
          e.filter(col("vec_id") >= cut), priorDeltas.toLong,
          "vec_id", "embedding",
          s"$base/vecs", s"$base/cents", s"$base/lists", s"$base/pairs",
          4, 1.05, nlist, 4, 256)
        val dt = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[graft] timed batch over $dirCount list " +
          f"delta dirs: $dt%.3f s")
        dt
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(base))
      }
    }.sorted
    println(f"stream-tail timed batch     median ${median(ts)}%7.3f s  " +
      ts.map(x => f"$x%.3f").mkString("[", ", ", "]"))
  }

  /** q278's pipeline decomposed (the dedup-knee discipline applied to
    * the repair story): the whole-query ×3 slope is owned by its
    * bounded exact dual-kNN SUPPLIER (n²/4 cosines → 9× at ×3, the
    * oracle face whose swap the guard names); the invalidation radius
    * and the rescore stage are tombstone- and rescore-set-shaped.
    * Timing the three separately over PERSISTED lists attributes the
    * residual. usage: repair-stages [runs] */
  private def repairStages(
      spark: SparkSession, sfDir: String, rest: Seq[String]): Unit = {
    import org.apache.spark.storage.StorageLevel
    val runs = rest.headOption.flatMap(_.toIntOption).getOrElse(3)
    val e = emb(spark, sfDir).select(col("vec_id"), col("embedding"))
    println(s"embeddings: ${e.count()} rows; request = vec_id % 97")
    val a = e.filter(col("vec_id") % 2 === 0)
    val b = e.filter(col("vec_id") % 2 =!= 0)
    def lists() = Similarity.bruteForceTopK(
        b, "vec_id", "embedding", a, "vec_id", "embedding", k = 4)
      .unionByName(Similarity.bruteForceTopK(
        a, "vec_id", "embedding", b, "vec_id", "embedding", k = 4))
    val tomb = e.select(col("vec_id")).filter(col("vec_id") % 97 === 0)
    val survivors = e.filter(col("vec_id") % 97 =!= 0)
    // clear = true only for the supplier line — the downstream stages
    // deliberately run over the persisted lists (clearing would evict
    // them and re-bill the quadratic pass to every stage)
    def timed(what: String, clear: Boolean)(body: () => Unit): Unit = {
      val ts = (1 to runs).map { _ =>
        if (clear) spark.catalog.clearCache()
        val t0 = System.nanoTime(); body(); (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"$what%-27s median ${median(ts)}%7.3f s  " +
        ts.map(x => f"$x%.3f").mkString("[", ", ", "]"))
    }
    timed("exact dual-kNN supplier", clear = true)(() => lists().count())
    // the two downstream stages run over PERSISTED lists so the
    // supplier's quadratic pass is not re-billed to them
    val l = lists().persist(StorageLevel.MEMORY_AND_DISK)
    l.count()
    timed("invalidation radius", clear = false)(() =>
      Similarity.listInvalidation(l, tomb, "vec_id").count())
    val (assign, cents) = Similarity.ivfIndex(
      survivors, "vec_id", "embedding", nlist = 16, sampleSize = 256)
    val ap = assign.persist(StorageLevel.MEMORY_AND_DISK)
    ap.count()
    timed("repair (rescore+passthru)", clear = false)(() =>
      Similarity.listRepair(l, e, "vec_id", "embedding", tomb,
        "vec_id", ap, cents, k = 4, nprobe = 4,
        candidateFilter = (col("query_id") % 2) =!= (col("nn_id") % 2))
        .count())
    ap.unpersist(blocking = false)
    l.unpersist(blocking = false)
  }

  /** Stage breakdown of the ANN paths (the q63 regression autopsy). */
  private def annStages(
      spark: SparkSession, sfDir: String, rest: Seq[String]): Unit = {
    val rounds = rest.headOption.flatMap(_.toIntOption).getOrElse(2)
    val e = emb(spark, sfDir)
    println(s"embeddings: ${e.count()} rows")
    (1 to rounds).foreach { round =>
      spark.catalog.clearCache()
      println(s"--- round $round ---")
      t("annCandidates") {
        val c = Similarity.annCandidates(
          e, "vec_id", "embedding", tables = 16, bits = 6)
        println(s"  pairs: ${c.count()}")
        c.unpersist(blocking = false)
      }
      t("annTopK full") {
        Similarity.annTopK(
          e, "vec_id", "embedding", k = 10, tables = 16, bits = 6).count()
      }
      t("annTopKInt8 full") {
        Similarity.annTopKInt8(
          e, "vec_id", "embedding", k = 10, tables = 16, bits = 6).count()
      }
      t("sampled exact reference") {
        Similarity.bruteForceTopK(
          e, "vec_id", "embedding",
          e.filter(col("vec_id") % 10 === 0), "vec_id", "embedding", 10)
          .count()
      }
    }
  }

  /** Operator-level component timings (each warmed once, then timed). */
  private def components(spark: SparkSession, sfDir: String): Unit = {
    val e = emb(spark, sfDir)
    e.cache().count()
    def time(name: String)(f: => Long): Unit = {
      f // warm
      val t0 = System.nanoTime(); val n = f
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s  ($n rows)")
    }
    time("exactSelfTopK(bcast)") {
      Similarity.exactSelfTopK(e, "vec_id", "embedding", 10).count()
    }
    time("exactSelfTopKBlocked") {
      Similarity.exactSelfTopKBlocked(e, "vec_id", "embedding", 10).count()
    }
    time("annCandidates") {
      Similarity.annCandidates(e, "vec_id", "embedding",
        tables = 16, bits = 6).count()
    }
    time("annTopK") {
      Similarity.annTopK(e, "vec_id", "embedding", 10,
        tables = 16, bits = 6).count()
    }
    time("ivfTopK") {
      Similarity.ivfTopK(e, "vec_id", "embedding", 10,
        nlist = 16, nprobe = 4).count()
    }
    time("annTopKInt8") {
      Similarity.annTopKInt8(e, "vec_id", "embedding", 10,
        tables = 16, bits = 6).count()
    }
    time("nearDup(q56 shape)") {
      val base = e.select("vec_id", "embedding")
      val planted = base.filter(col("vec_id") < 100)
        .select((col("vec_id") + 10000).as("vec_id"),
          transform(col("embedding"),
            x => (x * lit(0.5f)).cast("float")).as("embedding"))
      Dedup.embeddingNearDupPairs(base.unionByName(planted),
        "vec_id", "embedding", minCos = 0.99, tables = 8, bits = 12).count()
    }
  }

  /** q242's SemDeDup fixture at a caller-chosen k: the published
    * method's scale knob is k ∝ n (cells stay constant-sized, so the
    * exact in-cell pair stage stays linear in corpus size); at FIXED
    * k a c× corpus grows the pair stage c² — this mode measures both
    * regimes for SCALING.md's slope table. */
  private def semdedup(
      spark: SparkSession, sfDir: String, rest: Seq[String]): Unit = {
    val k = rest.headOption.flatMap(_.toIntOption).getOrElse(8)
    val runs = rest.drop(1).headOption.flatMap(_.toIntOption)
      .getOrElse(3)
    val e = emb(spark, sfDir).select("vec_id", "embedding")
    val aug = e.unionAll(e.filter(col("vec_id") < 50)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        col("embedding")))
    def once(): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      Similarity.semanticDedupPairs(
        aug, "vec_id", "embedding", k = k, iters = 2, minCos = 0.9)
        .count()
      (System.nanoTime() - t0) / 1e9
    }
    once() // warm
    val ts = (1 to runs).map(_ => once()).sorted
    println(f"semdedup k=$k%-4d median ${median(ts)}%7.3f s  " +
      ts.map(x => f"$x%.3f").mkString("[", ", ", "]"))
  }

  /** Recall + wall time for LSH parameter variants of the q40 path. */
  private def lshTune(spark: SparkSession, sfDir: String): Unit = {
    val e = emb(spark, sfDir)
    val exactPairs = Similarity.bruteForceTopK(
      e, "vec_id", "embedding",
      e.filter(col("vec_id") % 10 === 0), "vec_id", "embedding", 10)
      .select("query_id", "nn_id")
    exactPairs.cache().count()
    for (tables <- Seq(16, 12, 10); bits <- Seq(6, 7)) {
      val t0 = System.nanoTime()
      val ann = Similarity.annTopK(
        e, "vec_id", "embedding", k = 10, tables = tables, bits = bits)
      val recall = graft.operators.Gates.pairRecall(
        ann.filter(col("query_id") % 10 === 0), exactPairs)
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"tables=$tables%2d bits=$bits  recall=$recall%.4f  $secs%7.3f s")
    }
    exactPairs.unpersist(blocking = false)
  }
}
