package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Catalog, Extensions}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries live in [[graft.queries.Catalog]] (reference-parity core) and
  * [[graft.queries.Extensions]] (dedup / similarity / text / multimodal
  * / streaming twin). */
object SparkEntry {

  private def registry: Seq[Catalog.Q] = Catalog.core ++ Extensions.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. Word count — the reference's canonical workload. */
  def entry(spark: SparkSession): DataFrame =
    Catalog.core.head.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** The one session every main runs on: `local[cpus]` with `cpus`
    * shuffle partitions, `cpus` from `SPARK_GRAFT_CPUS` (default 4),
    * UTC session time zone, no UI, log level WARN. */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // interleaving side effect, measured: with the suite's ~266
      // queries per pass, the default 100-entry codegen cache evicts
      // every compiled class between one query's samples, so every
      // interleaved sample re-compiles and re-JITs what a
      // consecutive-runs bench measured hot — a systematic ~1.5–2×
      // on sub-second queries (the first interleaved capture read
      // 2.5× on q219-class queries with zero plan change). Size the
      // cache to the suite so interleaved samples measure the same
      // warm code consecutive samples did.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
