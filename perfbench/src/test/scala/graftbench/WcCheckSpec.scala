package graftbench

import java.nio.file.Files

import org.apache.commons.io.FileUtils

import org.scalatest.funsuite.AnyFunSuite

class WcCheckSpec extends AnyFunSuite {
  private def word(id: Long): String =
    (0 until 6).map(i => ('a' + (id / math.pow(26, 5 - i).toLong % 26)).toChar).mkString

  private val counts = Map(0L -> 3L, 27L -> 1L, 308915775L -> 2L, 1000L -> 5L)
  private val expect = WcCheck.Expect(counts.size, counts.values.sum,
    java.lang.Long.toUnsignedString(counts.map { case (i, c) => WcCheck.mix(i, c) }.sum))

  /** Checks an output of two part files holding `lines`, split after the
    * second. */
  private def check(lines: Seq[String]): Option[String] = {
    val dir = Files.createTempDirectory("wccheck")
    try {
      Files.write(dir.resolve("part-00000"), lines.take(2).mkString("", "\n", "\n").getBytes)
      Files.write(dir.resolve("part-00001"), lines.drop(2).mkString("", "\n", "\n").getBytes)
      Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
      WcCheck.check(dir, expect)
    } finally FileUtils.deleteDirectory(dir.toFile)
  }
  private val good = counts.toSeq.map { case (i, c) => s"${word(i)} $c" }.sorted

  test("word ids and the fingerprint agree with the generator") {
    assert(word(27) == "aaaabb" && WcCheck.id("aaaabb") == 27 && WcCheck.id("zzzzzz") == 308915775L)
    // gen.fingerprint gives the same value (see perfbench/tests)
    val ids = Seq(0L -> 3L, 1L -> 1L, 308915775L -> 2L)
    assert(java.lang.Long.toUnsignedString(ids.map { case (i, c) => WcCheck.mix(i, c) }.sum) ==
      "2188231046831682498")
  }

  test("a correct output passes") {
    assert(check(good).isEmpty)
  }

  test("the checker flags a corrupted output") {
    val wrongCount = good.updated(1, good(1).replaceAll("\\d+$", "9"))
    val missing = good.take(3)
    val unsorted = Seq(good(1), good(0)) ++ good.drop(2)
    val extra = good :+ "zzzzzz 1"
    val noSpace = good.updated(1, "aaaabb")
    val notANumber = good.updated(1, good(1).replaceAll("\\d+$", "x1"))
    for (bad <- Seq(wrongCount, missing, unsorted, extra, noSpace, notANumber))
      assert(check(bad).isDefined, bad)
  }
}
