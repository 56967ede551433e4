package graftbench

import graft.SparkEntry
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** `catalog_mix`: catalog queries over the generated tables, each written
  * to a `noop` sink. A unit is one pass over the query list, in an order
  * permuted by the seed and the pass number. The set-up warms up with a
  * pass that writes each result to parquet, which run.py checks against
  * the queries' DuckDB oracles once the JVM has exited, and then with
  * `noop` passes. */
final class CatalogMix(dir: String, work: String, seed: Long) extends Workload {
  import CatalogMix._

  private val plans = mutable.LinkedHashMap.empty[String, Plan]
  // each query's seconds in the untraced passes
  private val seconds = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def warmup(spark: SparkSession): Unit = {
    val seen = mutable.ArrayBuffer.empty[QueryExecution]
    val planListener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.synchronized(seen += qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val manager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager
    manager.register(planListener)
    try for ((q, name) <- Queries) {
      Bench.attempt(s"catalog check of $q") {
        SparkEntry.queries(name)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$work/check/$name")
      }
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val nodes = seen.synchronized { val all = seen.toList; seen.clear(); all }
        .flatMap(qe => planNodes(qe.executedPlan))
      plans(q) = Plan(
        nodes.count(n => n.isInstanceOf[Exchange] && !n.isInstanceOf[ReusedExchangeExec]),
        nodes.map(_.getClass.getSimpleName).filter(_.endsWith("JoinExec")),
        nodes.collect { case b: BroadcastExchangeExec => b.metrics.get("dataSize").fold(0L)(_.value) })
    } finally manager.unregister(planListener)
    // and passes as the timed passes run them
    for (_ <- 0 until WarmPasses; (_, name) <- Queries)
      Bench.attempt(s"catalog warm-up of $name")(noop(SparkEntry.queries(name)(spark, dir)))
  }

  def unit(spark: SparkSession, n: Int, spans: Spans, rec: Recorder): Option[Double] = {
    val order = new scala.util.Random(seed * 1000003L + n).shuffle(Queries)
    spans("unit") {
      val (ok, s) = rec.timed(order.forall { case (q, name) =>
        val ran = Bench.attempt(s"$name in pass $n")(rec.timed(
          spans(s"queries.$q")(noop(SparkEntry.queries(name)(spark, dir))))._2)
        if (!spans.enabled) ran.foreach(seconds.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += _)
        rec.op(ran.isDefined)
        ran.isDefined
      })
      Some(s).filter(_ => ok)
    }
  }

  def finish(spark: SparkSession, rec: Recorder, spans: Spans,
      listener: StageListener, cores: Int): Unit = {
    rec.notes("check_dirs") = Queries.map { case (q, name) => q -> s"$work/check/$name" }.toMap
    rec.notes("oracle_sql") = Queries.map { case (q, name) => q -> SparkEntry.oracleSql(name) }.toMap
    rec.notes("query_s") = seconds
    rec.notes("plans") = plans.map { case (q, p) => q -> Map("exchanges" -> p.exchanges,
      "joins" -> p.joins, "broadcast_bytes" -> p.broadcastBytes) }
    if (spans.enabled) {
      for ((q, _) <- Queries) {
        val runs = spans.all.filter(_.name == s"queries.$q").map(s => s -> listener.totalsDuring(s))
        def med(f: ((Span, Totals)) => Double) = Main.median(runs.map(f))
        rec.layers ++= Seq(
          s"queries.$q.s" -> med(_._1.seconds),
          s"queries.$q.par" -> med { case (s, t) => t.execS / s.seconds },
          s"queries.$q.gap_s" -> med { case (s, t) => s.seconds - t.execS / cores })
      }
      rec.layers("queries.jobs") = Main.median(
        spans.all.filter(_.name == "unit").map(listener.totalsDuring(_).jobs.toDouble))
      rec.layers("queries.exchanges") = plans.values.map(_.exchanges).sum.toDouble
      // each kernel in a select over a cached frame of nproc partitions
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .crossJoin(spark.range(ProbeCopies).toDF("copy"))
        .repartition(cores).cache()
      docs.count()
      for ((k, f) <- Kernels) {
        val probe = docs.select(col("doc_id"), col("copy"), f(col("text")).as("out"))
        noop(probe)
        rec.layers(s"functions.${k}_rows_s") =
          Main.median((0 until 3).map(_ => rec.timed(noop(probe))._2))
      }
      docs.unpersist(blocking = true)
    }
  }
}

object CatalogMix {
  /** One query's plan summary, from the executed plans of its writes. */
  final case class Plan(exchanges: Int, joins: Seq[String], broadcastBytes: Seq[Long])

  /** (short name, catalog name): a relational aggregate, a text kernel
    * and the n-gram Jaccard dedup operator. */
  val Queries: Seq[(String, String)] = Seq(
    "q05" -> "q05_agg_sum",
    "q33" -> "q33_text_fingerprint",
    "q35" -> "q35_dedup_ngram_jaccard")

  /** `noop` passes in the warm-up. After one, pass times still fell by a
    * quarter over the next four passes; after three, by a sixth. */
  val WarmPasses = 4

  /** Per-row kernels of `graft.functions` probed in a traced run. */
  val Kernels: Seq[(String, Column => Column)] = Seq(
    "fingerprint" -> (c => TextFunctions.fingerprint(c)),
    "scrub" -> TextFunctions.scrubPii,
    "quality" -> TextFunctions.qualityScore,
    "token_count" -> TextFunctions.tokenCount,
    "langid" -> TextFunctions.langId)

  /** Copies of the documents table in the kernel probes' frame. */
  val ProbeCopies = 10

  /** Every node of an executed plan, through adaptive plans, query
    * stages and subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec        => s +: planNodes(s.plan)
    case other                    => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }
}
