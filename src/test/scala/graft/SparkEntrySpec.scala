package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards the driver contract itself: entry() smoke, key consistency
  * between queries and oracleSql, name hygiene, and one session
  * factory for every main. */
class SparkEntrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("entry() returns rows on sf0.001 (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query; names are sane") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"orphan oracles: ${o.diff(q)}")
    assert(q.forall(_.matches("[a-z0-9_]+")))
    // EVERY query carries an oracle — incl. SimHash (md5-token
    // variant), ANN (recall-gated exact emission), HLL (error-gated
    // in-job, exact counts emitted), and the multimodal stub
    // features (byte math recomputed in SQL).
    assert(q.diff(o) == Set.empty[String])
  }

  test("all queries run at sf0.001 and return non-empty results") {
    val failures = SparkEntry.queries.flatMap { case (name, fn) =>
      try {
        if (fn(spark, TestSpark.sf0001).count() == 0) Some(s"$name: 0 rows")
        else None
      } catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("no SparkSession builder in main outside SparkEntry.localSession") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root, not ${new java.io.File(".").getAbsolutePath}")
    val files = java.nio.file.Files.walk(root.toPath).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50)
    val hits = for {
      f <- files
      (line, n) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("SparkSession.builder")
    } yield (f.getFileName.toString, s"$f:${n + 1}: ${line.trim}")
    assert(hits.map(_._1) == Seq("SparkEntry.scala"), hits.map(_._2).mkString("\n"))
  }
}
