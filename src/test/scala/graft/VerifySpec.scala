package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The correctness dump ([[Verify.dump]]) on the shared
  * session: the named form writes exactly the named queries and their
  * oracles, an unknown name writes nothing, and the oracle JSON
  * survives every character the escaper handles. */
class VerifySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tempOut(): String =
    Files.createTempDirectory("graft_verify_").resolve("out").toString

  private def delete(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir).getParentFile)

  test("named dump writes exactly those queries and their oracle keys") {
    val out = tempOut()
    val names = Seq("q01_wordcount", "q05_agg_sum")
    try {
      Verify.dump(spark, TestSpark.sf0001, out, names)
      val written = new java.io.File(out).list().toSet
      assert(written == names.toSet + "oracle_sql.json")
      names.foreach(n => assert(spark.read.parquet(s"$out/$n").count() > 0, n))
      val oracles = new ObjectMapper()
        .readTree(Files.readString(Paths.get(out, "oracle_sql.json")))
      assert(oracles.fieldNames().asScala.toSet == names.toSet)
      names.foreach(n => assert(oracles.get(n).asText() == SparkEntry.oracleSql(n)))
    } finally delete(out)
    assert(!spark.sparkContext.isStopped, "dump must not stop the session")
  }

  test("the oracle JSON parses back to the same strings (quote, backslash, control chars)") {
    val key = "q\"k\\1"
    val sql = "SELECT \"a\\b\"\tFROM t\r\nWHERE x = '\u0001'"
    val parsed = new ObjectMapper().readTree(Verify.json(Map(key -> sql, "plain" -> "SELECT 1")))
    assert(parsed.size() == 2)
    assert(parsed.get(key).asText() == sql)
    assert(parsed.get("plain").asText() == "SELECT 1")
  }

  test("an unknown name throws before anything is written") {
    val out = tempOut()
    try {
      val e = intercept[IllegalArgumentException](
        Verify.dump(spark, TestSpark.sf0001, out, Seq("q05_agg_sum", "no_such_query")))
      assert(e.getMessage.contains("no_such_query"))
      assert(!new java.io.File(out).exists())
    } finally delete(out)
    assert(!spark.sparkContext.isStopped)
  }
}
