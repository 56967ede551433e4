package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Dev measurement tool (not part of the driver contract): per-query
  * scheduling-vs-compute attribution. For each named catalog query it
  * runs one warmup, then `runs` measured executions (cache cleared per
  * run, the bench's isolation rule) under a listener that counts jobs,
  * stages and tasks and sums executor run time. The interesting
  * number is the GAP between wall clock and sumTaskTime/cores:
  * a query whose gap dominates its wall is paying driver-side
  * coordination (many small sequential jobs, collect seams — the
  * [[graft.core.Par.overlap]] candidates), while a small gap means
  * the time is genuine parallel compute (plan work).
  *
  * usage: runMain graft.tools.JobStats <runs> <query>...
  * env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (32).
  */
object JobStats {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobStats <runs> <query>...")
    val runs = args.head.toInt
    val names = args.drop(1).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val nCores = cpus.toInt

    object L extends SparkListener {
      val jobs = new java.util.concurrent.atomic.AtomicLong
      val stages = new java.util.concurrent.atomic.AtomicLong
      val tasks = new java.util.concurrent.atomic.AtomicLong
      val taskMs = new java.util.concurrent.atomic.AtomicLong
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) taskMs.addAndGet(m.executorRunTime)
      }
      def reset(): Unit = { jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0) }
      def snap: (Long, Long, Long, Long) =
        (jobs.get, stages.get, tasks.get, taskMs.get)
    }
    spark.sparkContext.addSparkListener(L)

    println(f"${"query"}%-36s ${"wall_s"}%8s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"taskSum_s"}%9s ${"par"}%5s ${"gap_s"}%7s")
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      // warmup (codegen/JIT), untimed
      spark.catalog.clearCache()
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
      val samples = (1 to runs).map { _ =>
        spark.catalog.clearCache()
        // listener bus is async with no public drain — a short sleep
        // attributes >99% of events to the right run (dev tool)
        Thread.sleep(250)
        L.reset()
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count() catch { case _: Throwable => () }
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(250)
        val (j, s, t, ms) = L.snap
        (wall, j, s, t, ms)
      }
      // median run by wall
      val m = samples.sortBy(_._1).apply(samples.size / 2)
      val (wall, j, s, t, ms) = m
      val taskS = ms / 1e3
      val par = if (wall > 0) taskS / wall else 0.0
      val gap = wall - taskS / nCores
      println(f"$name%-36s $wall%8.3f $j%5d $s%6d $t%6d $taskS%9.2f $par%5.1f $gap%7.3f")
    }
    spark.stop()
  }
}
