package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: `explain("formatted")` for selected (or all) catalog
  * queries — the plan-hygiene loop (pushdown reached the scan?
  * broadcast chosen? codegen spans wide?).
  * Usage: runMain graft.Explain <sfDir> [--out <outDir> <suffix>] [query...]
  * (no arguments: every query on sf0.001). Prints each plan, or with
  * `--out` writes it to `<outDir>/<name>_<suffix>.txt` (the
  * `plans/rNN` evidence files). The join/exchange skeleton of a plan
  * is `grep -E 'Join|Exchange|Aggregate|Window|Scan parquet'` over
  * the printed output. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val (out, named) = args.drop(1).toSeq match {
      case "--out" +: dir +: suffix +: rest => (Some((dir, suffix)), rest)
      case rest => (None, rest)
    }
    val queries = SparkEntry.queries
    val unknown = named.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val names = if (named.nonEmpty) named else queries.keys.toSeq.sorted
    val spark = SparkEntry.localSession()
    try names.foreach { name =>
      try {
        val plan = queries(name)(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        out match {
          case Some((dir, suffix)) =>
            Files.createDirectories(Paths.get(dir))
            Files.writeString(Paths.get(dir, s"${name}_$suffix.txt"), plan)
            println(s"[explain] wrote ${name}_$suffix.txt")
          case None =>
            println(s"\n========== $name ==========\n$plan")
        }
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name failed: ${e.getMessage}")
      }
    } finally spark.stop()
  }
}
