package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare (`tools/check.py`).
  * Usage: runMain graft.Verify <sfDir> <outDir> [query...] — with no
  * names every query and every oracle, else only the named ones. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query...]")
    val spark = SparkEntry.localSession()
    try dump(spark, args(0), args(1), args.drop(2).toSeq)
    finally spark.stop()
  }

  /** Writes `<outDir>/<name>` per query and `<outDir>/oracle_sql.json`
    * holding the oracles of the same queries. A failing query prints
    * `[verify] <name> failed` and the dump goes on; an unknown name
    * fails before any query runs or anything is written. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Unit = {
    val all = SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val picked = if (names.isEmpty) all.toSeq else names.map(n => n -> all(n))
    new java.io.File(outDir).mkdirs()
    picked.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) =>
      names.isEmpty || names.contains(k)
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json(oracles))
  }

  /** A JSON object of string pairs. Escapes backslash, quote, and ALL
    * control chars (<0x20) — a tab or CR in an oracle's SQL would
    * otherwise make the checker's json.load fail and silently zero
    * every query's correctness. */
  private[graft] def json(entries: Map[String, String]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    entries.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
