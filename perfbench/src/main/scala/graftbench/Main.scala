package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** What a run measured: each completed, correct unit's seconds (and
  * whether it was traced), operation counts, per-layer metrics, and
  * notes for run.py (catalog results to check and plan summaries,
  * stream latency samples). */
final class Recorder {
  val units = mutable.ArrayBuffer.empty[(Double, Boolean)] // (seconds, traced)
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L

  def op(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** One workload: a warm-up that is part of set-up, the closed-loop unit
  * of work, and what runs after the timed loop. */
trait Workload {
  def warmup(spark: SparkSession): Unit

  /** Unit `n` under a span named "unit"; its seconds when it completed
    * and its output was correct. */
  def unit(spark: SparkSession, n: Int, spans: Spans, rec: Recorder): Option[Double]

  /** Checks left for the end and, in a traced run, the layer metrics. */
  def finish(spark: SparkSession, rec: Recorder, spans: Spans,
      listener: StageListener, cores: Int): Unit
}

/** Benchmark JVM: sets the engine up, warms it, runs closed-loop units of
  * the workload for the given time and writes what it measured as JSON.
  *
  * Usage: Main --workload W --inputs DIR --work DIR --seed N
  *   --seconds S --trace 0|1 --cores N --out FILE */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a("cores").toInt
    val traced = a("trace") == "1"
    val work = a("work")
    val rec = new Recorder
    val workload: Workload = a("workload") match {
      case w @ ("wc_zipf" | "wc_distinct") => new WordCount(a("inputs"), work, w)
      case "catalog_mix"                   => new CatalogMix(a("inputs"), work, a("seed").toLong)
      case "stream_ingest"                 => new StreamIngest(a("inputs"), work)
      case w                               => sys.error(s"unknown workload $w")
    }

    // Set-up counts from JVM start: session start plus the warm-up.
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L -
      (System.currentTimeMillis() * 1000000L - System.nanoTime())
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      // as the engine's own entry points (graft.Bench, graft.Verify) set it
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    workload.warmup(spark)
    val setupS = (System.nanoTime() - jvmStart) / 1e9

    val sc = spark.sparkContext
    val listener = new StageListener
    val spans = new Spans(sc, traced)
    val off = new Spans(sc, false)
    val deadline = System.nanoTime() + (a("seconds").toDouble * 1e9).toLong
    // A traced run first runs one more unit, unrecorded, so that its
    // first traced unit does not run colder code than the untraced ones.
    if (traced) workload.unit(spark, -1, off, rec)
    var n = 0
    // Traced runs alternate traced and untraced units. The listener is
    // attached only during traced units, so the difference of the two
    // medians is the whole cost of tracing.
    while (n == 0 || (traced && n < 2) || System.nanoTime() < deadline) {
      val on = traced && n % 2 == 0
      if (on) sc.addSparkListener(listener)
      try workload.unit(spark, n, if (on) spans else off, rec).foreach(s => rec.units += ((s, on)))
      finally if (on) { BenchBus.drain(sc); sc.removeSparkListener(listener) }
      n += 1
    }
    workload.finish(spark, rec, spans, listener, cores)
    if (traced) {
      val per = spans.all.filter(_.name == "unit").map(listener.totalsDuring)
      def med(f: Totals => Double) = median(per.map(f))
      rec.layers ++= Seq(
        "spark.exec_s" -> med(_.execS),
        "spark.gc_s" -> med(_.gcS),
        "spark.spill_mb" -> med(_.spillBytes / MiB),
        "spark.shuffle_mb" -> med(_.shuffleWriteBytes / MiB),
        "spark.tasks" -> med(_.tasks.toDouble))
      val (on, plain) = rec.units.partition(_._2)
      rec.layers("trace.overhead_s") = median(on.map(_._1).toSeq) - median(plain.map(_._1).toSeq)
    }

    val out = Map(
      "setup_s" -> setupS,
      "units" -> rec.units.map { case (s, t) => Map("s" -> s, "traced" -> t) },
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "peak_rss_mb" -> peakRssMb(),
      "layers" -> rec.layers,
      "notes" -> rec.notes,
      "spans" -> spans.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "group" -> s.group, "start_ns" -> s.start,
        "end_ns" -> s.end)))
    Files.writeString(Paths.get(a("out")), Json(out))
    spark.stop()
  }

  val MiB: Double = 1024.0 * 1024

  /** Peak resident set (VmHWM) of this JVM. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}

object Bench {
  /** Runs `body`; an exception is logged and gives None. */
  def attempt[T](what: String)(body: => T): Option[T] =
    try Some(body)
    catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $what failed: $e")
        None
    }

  /** True when there is no `problem`; otherwise logs it. */
  def verdict(what: String)(problem: Option[String]): Boolean = {
    problem.foreach(p => System.err.println(s"[perfbench] $what is wrong: $p"))
    problem.isEmpty
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null                => "null"
    case s: String           => quote(s)
    case b: Boolean          => b.toString
    case d: Double           => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int              => n.toString
    case n: Long             => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]     => xs.map(apply).mkString("[", ",", "]")
    case other               => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  } + "\""
}
