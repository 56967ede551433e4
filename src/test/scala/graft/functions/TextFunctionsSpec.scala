package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class TextFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def one(text: String, c: org.apache.spark.sql.Column): Any =
    Seq(text).toDF("text").select(c).head().get(0)

  test("tokenCount / bpeTokenCount") {
    assert(one("a b  c", TextFunctions.tokenCount(col("text"))) == 3L)
    assert(one("", TextFunctions.tokenCount(col("text"))) == 0L)
    // "don't stop!" -> don, ', t, stop, !
    assert(one("don't stop!", TextFunctions.bpeTokenCount(col("text"))) == 5L)
  }

  test("meanWordLen") {
    assert(one("ab cdef", TextFunctions.meanWordLen(col("text"))) == 3.0)
    assert(one("", TextFunctions.meanWordLen(col("text"))) == 0.0)
  }

  test("repetitionRatio: repeated-token fraction") {
    assert(one("a b c d", TextFunctions.repetitionRatio(col("text"))) == 0.0)
    assert(one("a a a a", TextFunctions.repetitionRatio(col("text"))) == 0.75)
    assert(one("", TextFunctions.repetitionRatio(col("text"))) == 0.0)
  }

  test("stopwordRatio counts occurrences, not distinct") {
    assert(one("the cat the dog", TextFunctions.stopwordRatio(col("text"))) == 0.5)
  }

  test("langId: markers, CJK, undetermined") {
    assert(one("the cat is on the mat", TextFunctions.langId(col("text"))) == "en")
    assert(one("der hund und die katze ist nicht da",
      TextFunctions.langId(col("text"))) == "de")
    assert(one("le chat est dans la maison pour que",
      TextFunctions.langId(col("text"))) == "fr")
    assert(one("el perro y una casa en por para",
      TextFunctions.langId(col("text"))) == "es")
    assert(one("你好世界", TextFunctions.langId(col("text"))) == "zh")
    assert(one("qwrt zxcv", TextFunctions.langId(col("text"))) == "und")
  }

  test("wordNgrams guards short docs; fingerprint is stable") {
    assert(graft.operators.Kernels.wordNgrams("a b", 3).isEmpty)
    assert(graft.operators.Kernels.wordNgrams("a b c d", 3).toSeq ==
      Seq("a b c", "b c d"))
    val fp1 = one("a b c d", TextFunctions.fingerprint(col("text")))
    val fp2 = one("a b c d", TextFunctions.fingerprint(col("text")))
    assert(fp1 == fp2 && fp1.asInstanceOf[String].length == 32)
    // short doc falls back to md5 of the whole text
    assert(one("a b", TextFunctions.fingerprint(col("text"))) ==
      one("a b", md5(col("text"))))
  }

  test("scrubPii redacts URLs, emails, IPv4s; counts agree with matches") {
    import spark.implicits._
    val rows = Seq(
      ("mail bob@x.org and https://a.b/c?d=1 and 10.0.0.1 done",
        "mail <EMAIL> and <URL> and <IP> done", 1L, 1L, 1L),
      // scrub: email/IP inside a URL are swallowed whole by the URL
      // redaction (URL runs first); audit counts run on the RAW text,
      // so they still see the embedded email and quad
      ("see https://u:p@host.com/10.0.0.1/x rest",
        "see <URL> rest", 1L, 1L, 1L),
      ("no pii here at all", "no pii here at all", 0L, 0L, 0L),
      ("two mails a@b.cc c@d.ee and 192.168.1.255",
        "two mails <EMAIL> <EMAIL> and <IP>", 0L, 2L, 1L)
    ).toDF("text", "want", "wantUrls", "wantEmails", "wantIps")
    val got = rows.select(
      TextFunctions.scrubPii(col("text")).as("clean"),
      col("want"), TextFunctions.urlCount(col("text")).as("u"),
      col("wantUrls"), TextFunctions.emailCount(col("text")).as("e"),
      col("wantEmails"), TextFunctions.ipCount(col("text")).as("i"),
      col("wantIps")).collect()
    got.foreach { r =>
      assert(r.getString(0) == r.getString(1), r.getString(1))
      assert(r.getLong(2) == r.getLong(3), "urls")
      assert(r.getLong(4) == r.getLong(5), "emails")
      assert(r.getLong(6) == r.getLong(7), "ips")
    }
    // null-safe like every other column function
    val n = Seq(Option.empty[String]).toDF("text")
      .select(TextFunctions.scrubPii(col("text"))).head()
    assert(n.isNullAt(0))
  }

  test("qualityScore in [0,1] over the fixture") {
    val bad = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .select(TextFunctions.qualityScore(col("text")).as("q"))
      .filter(col("q") < 0.0 || col("q") > 1.0)
      .count()
    assert(bad == 0)
  }

  test("charEntropy: hand values, degenerate cases, null safety") {
    import spark.implicits._
    def h(s: String): Double =
      Seq(s).toDF("t")
        .select(TextFunctions.charEntropy(col("t"))).head().getDouble(0)
    // uniform over 2 chars -> ln 2; over 4 chars -> ln 4
    assert(math.abs(h("abab") - math.log(2.0)) < 1e-12)
    assert(math.abs(h("abcd") - math.log(4.0)) < 1e-12)
    // repeated-char junk -> exactly 0 (p=1 term is -1*ln(1))
    assert(h("aaaaaaaa") == 0.0)
    // 'banana the': naive reference computed independently
    val text = "banana the"
    val counts = text.groupBy(identity).view.mapValues(_.length)
    val n = text.length.toDouble
    val ref = counts.values.map { c =>
      -(c / n) * math.log(c / n) }.sum
    assert(math.abs(h(text) - ref) < 1e-12)
    // empty and null -> 0.0, never NaN
    assert(h("") == 0.0)
    assert(Seq(Option.empty[String]).toDF("t")
      .select(TextFunctions.charEntropy(col("t"))).head()
      .getDouble(0) == 0.0)
    // entropy is permutation-invariant in content
    assert(h("aabbcc") == h("cabcab"))
  }

  test("fleschScore: hand-computed counts, floors, null safety") {
    import spark.implicits._
    def f(s: String): Option[Double] = {
      val r = Seq(s).toDF("t")
        .select(TextFunctions.fleschScore(col("t"))).head()
      if (r.isNullAt(0)) None else Some(r.getDouble(0))
    }
    // "the cat sat." -> 3 words, 1 sentence run, 1 syllable each
    assert(f("the cat sat.").contains(
      206.835 - 1.015 * 3.0 - 84.6 * (3.0 / 3.0)))
    // no terminator -> sentences floored at 1 (same score)
    assert(f("the cat sat") == f("the cat sat."))
    // two sentences: "a cat. a dog." -> 4 words, 2 runs
    assert(f("a cat. a dog.").contains(
      206.835 - 1.015 * (4.0 / 2.0) - 84.6 * (4.0 / 4.0)))
    // multi-syllable: "banana" = 3 vowel groups
    assert(f("banana").contains(206.835 - 1.015 - 84.6 * 3.0))
    // vowel-less word floors at 1 syllable
    assert(f("tsk").contains(206.835 - 1.015 - 84.6))
    // empty / null -> null, never NaN
    assert(f("") == None)
    assert(Seq(Option.empty[String]).toDF("t")
      .select(TextFunctions.fleschScore(col("t"))).head().isNullAt(0))
  }

  test("canonicalizeUrl: full normalization chain, hand cases") {
    import spark.implicits._
    def c(s: String): String =
      Seq(s).toDF("u")
        .select(TextFunctions.canonicalizeUrl(col("u"))).head()
        .getString(0)
    // the kitchen sink: case, www, default port, doubled slashes,
    // trailing slash, tracking params, unsorted params, fragment
    assert(c("HTTPS://WWW.Example.COM:443/A//b/?utm_source=x&b=2&a=1&ref=t#frag")
      == "https://example.com/A/b?a=1&b=2")
    // path case is PRESERVED (paths are case-sensitive by spec)
    assert(c("http://site.com/CaseSensitive") ==
      "http://site.com/CaseSensitive")
    // non-default port kept; http default port dropped
    assert(c("http://site.com:8080/x") == "http://site.com:8080/x")
    assert(c("http://site.com:80/x") == "http://site.com/x")
    // bare root: trailing slash trimmed to empty path
    assert(c("https://Site.com/") == "https://site.com")
    // all params tracking -> no query at all
    assert(c("https://a.com/p?utm_campaign=1&gclid=2&fbclid=3") ==
      "https://a.com/p")
    // identical canonical forms collide (the dedup property)
    assert(c("HTTP://WWW.A.com//x/?b=2&a=1#z") == c("http://a.com/x?a=1&b=2"))
  }
}
