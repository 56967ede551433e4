package graftbench

import java.nio.file.{Files, Path, Paths}

import graft.core.TinyMapReduce
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._
import scala.util.Using

/** `wc_zipf` / `wc_distinct`: the reference's word count through the
  * `TinyMapReduce` facade, text -> flatMapKV -> reduceByKeySorted ->
  * saveAsKVText, over the generated `part-*.txt` corpus. A unit is one
  * job, and each job's output is checked against the generator's
  * reference count. */
final class WordCount(inputs: String, work: String, name: String) extends Workload {
  private val parts = Files.list(Paths.get(inputs)).iterator().asScala
    .map(_.toString).filter(_.endsWith(".txt")).toSeq.sorted
  private val expect = WcCheck.Expect.load(Paths.get(inputs, "expect.json"))

  private def job(spark: SparkSession, in: Seq[String], out: String, spans: Spans): Unit = {
    val text = spans("core.text")(TinyMapReduce.text(spark, in))
    val kv = spans("core.flatMapKV")(text.flatMapKV(WordCount.words))
    val counts = spans("core.reduceByKeySorted")(kv.reduceByKeySorted(_ + _))
    spans("core.saveAsKVText")(counts.saveAsKVText(out))
  }

  /** Full-size jobs, unchecked. */
  def warmup(spark: SparkSession): Unit =
    for (i <- 0 until WordCount.WarmJobs) {
      val out = s"$work/wc-warm-$i"
      job(spark, parts, out, new Spans(spark.sparkContext, false))
      FileUtils.deleteDirectory(new java.io.File(out))
    }

  /** Job `n`; each job's output is checked. */
  def unit(spark: SparkSession, n: Int, spans: Spans, rec: Recorder): Option[Double] = {
    val out = s"$work/wc-$n"
    try spans("unit") {
      val ran = Bench.attempt(s"$name job $n")(rec.timed(spans("core.job")(job(spark, parts, out, spans)))._2)
      val ok = ran.isDefined && Bench.verdict(s"$name job $n")(
        Bench.attempt(s"checking $name job $n")(WcCheck.check(Paths.get(out), expect))
          .getOrElse(Some("the checker failed")))
      rec.op(ok)
      ran.filter(_ => ok)
    } finally FileUtils.deleteDirectory(new java.io.File(out))
  }

  /** The `core.*` layer metrics of a traced run. */
  def finish(spark: SparkSession, rec: Recorder, spans: Spans,
      listener: StageListener, cores: Int): Unit = if (spans.enabled) {
    val jobs = spans.all.filter(_.name == "core.job")
    val per = jobs.map(j => j -> listener.totalsIn(spans.groupsUnder(j)))
    def med(f: ((Span, Totals)) => Double) = Main.median(per.map(f))
    // read and map alone, timed through the facade's own calls
    val read = (0 until 2).map(_ => rec.timed(
      TinyMapReduce.text(spark, parts).rdd.foreach(_ => ()))._2)
    val mapped = (0 until 2).map(_ => rec.timed(
      TinyMapReduce.text(spark, parts).flatMapKV(WordCount.words).rdd.foreach(_ => ()))._2)
    rec.layers ++= Seq(
      "core.read_s" -> Main.median(read),
      "core.map_s" -> (Main.median(mapped) - Main.median(read)),
      "core.map_stage_s" -> med(_._2.mapExecS),
      "core.combine_ratio" -> med(_._2.shuffleRecords.toDouble / expect.total),
      "core.reduce_stage_s" -> med(_._2.resultExecS),
      "core.shuffle_write_mb" -> med(_._2.shuffleWriteBytes / Main.MiB),
      "core.shuffle_records" -> med(_._2.shuffleRecords.toDouble),
      "core.fetch_wait_s" -> med(_._2.fetchWaitS),
      "core.spill_mb" -> med(_._2.spillBytes / Main.MiB),
      "core.gc_s" -> med(_._2.gcS),
      "core.sink_mb" -> med(_._2.outputBytes / Main.MiB),
      "core.reduce_skew" -> med { case (_, t) =>
        t.resultTaskS.max / Main.median(t.resultTaskS) },
      "core.driver_gap_s" -> med { case (s, t) => s.seconds - t.execS / cores })
  }
}

object WordCount {
  /** Full-size warm-up jobs, so that measured jobs run compiled code.
    * After two, job times still fell by a quarter over the next five. */
  val WarmJobs = 4

  /** The map function: one `(word, 1)` per space-separated word. */
  val words: (Long, String) => Iterator[(String, Long)] =
    (_, line) => line.split(' ').iterator.map(w => (w, 1L))
}

/** Checks a word-count output directory against the generator's
  * reference: every `part-*` file is strictly key-sorted, and the
  * (word, count) multiset has the reference's key count, total and
  * fingerprint. Words are fixed-width base-26 encodings of integer ids,
  * so the fingerprint is computed from ids on both sides. */
object WcCheck {
  final case class Expect(keys: Long, total: Long, fingerprint: String)

  object Expect {
    def load(p: Path): Expect = {
      val s = Files.readString(p)
      def field(k: String) = ("\"" + k + "\"\\s*:\\s*\"?(\\d+)").r
        .findFirstMatchIn(s).getOrElse(sys.error(s"$p has no $k")).group(1)
      Expect(field("keys").toLong, field("total").toLong, field("fingerprint"))
    }
  }

  /** Id of a word: its letters read as base-26 digits, 'a' = 0. */
  def id(word: String): Long = word.foldLeft(0L)((v, c) => v * 26 + (c - 'a'))

  /** splitmix64 of (id, count); the fingerprint is the wrapping sum. */
  def mix(id: Long, count: Long): Long = {
    var z = id * 0x9E3779B97F4A7C15L + count
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** None when the output matches, otherwise what is wrong. */
  def check(dir: Path, e: Expect): Option[String] = {
    val files = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.toString)
    var keys, total, fp = 0L
    for (f <- files) {
      var prev: String = null
      val bad = Using.resource(Files.newBufferedReader(f)) { r =>
        Iterator.continually(r.readLine()).takeWhile(_ != null).map { line =>
          val sp = line.lastIndexOf(' ')
          val c = if (sp > 0) line.substring(sp + 1).toLongOption else None
          c match {
            case None => Some(s"malformed line '$line'")
            case Some(c) =>
              val k = line.substring(0, sp)
              val unsorted = prev != null && prev.compareTo(k) >= 0
              prev = k
              keys += 1; total += c; fp += mix(id(k), c)
              if (unsorted) Some(s"not key-sorted at '$line'") else None
          }
        }.find(_.isDefined).flatten
      }
      if (bad.isDefined) return Some(s"${f.getFileName}: ${bad.get}")
    }
    val got = Expect(keys, total, java.lang.Long.toUnsignedString(fp))
    if (got == e) None else Some(s"output $got != reference $e")
  }
}
