package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import graft.operators.{Align, Similarity}
import graft.streaming.Streams
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `stream_ingest`: the generated embedding stream fed through
  * `Streams.ingestCrossLingualStream` (exact mode, in-stream compaction
  * on), one `batch-*.parquet` file per micro-batch. After every batch
  * the folded pairs and lists are read. A unit is one whole ingest into
  * fresh stores plus those reads; its final pair set must equal the
  * one-shot batch mining (the q267 oracle) computed at set-up. */
final class StreamIngest(dir: String, work: String) extends Workload {
  import StreamIngest._

  type Pair = (Long, Long, Double, Double)
  private var batches: Seq[Seq[(Long, Seq[Float])]] = Nil
  private var oracle: Set[Pair] = Set.empty

  // what the units measured, for the layer metrics and the latencies
  private final case class Batch(id: Long, span: Option[Span], s: Double, traced: Boolean,
      files: Long, bytes: Long, deltaDirs: Int)
  private val done = mutable.ArrayBuffer.empty[Batch]
  private val reads = mutable.ArrayBuffer.empty[(String, Double, Boolean)]
  private val slopes, storeMb = mutable.ArrayBuffer.empty[Double]

  def warmup(spark: SparkSession): Unit = {
    import spark.implicits._
    batches = Files.list(Paths.get(dir)).iterator().asScala.map(_.toString)
      .filter(_.matches(".*/batch-\\d+\\.parquet")).toSeq.sorted
      .map(f => spark.read.parquet(f).select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq)
    oracle = pairRows(mining(spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")))
    require(oracle.nonEmpty, "the stream's reference mining found no pair")
    ingest(spark, "warm", batches.take(1), new Spans(spark.sparkContext, false), new Recorder)
  }

  def unit(spark: SparkSession, n: Int, spans: Spans, rec: Recorder): Option[Double] =
    spans("unit") {
      val ran = Bench.attempt(s"stream ingest $n")(rec.timed(ingest(spark, n.toString, batches, spans, rec)))
      val ok = ran.isDefined && Bench.verdict(s"stream ingest $n") {
        val got = ran.get._1
        if (got == oracle) None
        else Some(s"${got.size} folded pairs, ${(got -- oracle).size} not in and " +
          s"${(oracle -- got).size} missing from the ${oracle.size} of the reference mining")
      }
      rec.op(ok)
      ran.map(_._2).filter(_ => ok)
    }

  /** Ingests `input` into fresh stores under `tag`, reading the folds
    * after every batch; the final folded pair set. */
  private def ingest(spark: SparkSession, tag: String, input: Seq[Seq[(Long, Seq[Float])]],
      spans: Spans, rec: Recorder): Set[Pair] = {
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val base = s"$work/stream-$tag"
    val stores = Seq("vecs", "lists", "pairs").map(d => new File(s"$base/$d"))
    val mem = MemoryStream[(Long, Seq[Float])]
    val query = Streams.ingestCrossLingualStream(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      vecsDir = s"$base/vecs", listsDir = s"$base/lists", pairsDir = s"$base/pairs",
      checkpointDir = s"$base/ckpt", k = 4, minMargin = 1.05, compactEvery = CompactEvery)
    val record = tag != "warm"
    try {
      var pairs = Set.empty[Pair]
      val times = mutable.ArrayBuffer.empty[Double]
      for ((b, i) <- input.zipWithIndex) {
        val before = if (spans.enabled) storeFiles(stores) else Nil
        mem.addData(b)
        val (_, s) = rec.timed(spans("streaming.batch")(query.processAllAvailable()))
        val span = if (spans.enabled) spans.all.lastOption else None
        val (p, rp) = rec.timed(spans("streaming.read_pairs")(
          pairRows(Streams.crossLingualPairs(spark, s"$base/pairs"))))
        val (_, rl) = rec.timed(spans("streaming.read_lists")(
          Streams.crossLingualLists(spark, s"$base/lists").collect()))
        pairs = p
        times += s
        if (record) {
          val fresh = if (spans.enabled) storeFiles(stores).diff(before) else Nil
          done += Batch(i, span, s, spans.enabled, fresh.size, fresh.map(_._2).sum,
            if (spans.enabled) deltaDirs(stores) else 0)
          reads += (("pairs", rp, spans.enabled))
          reads += (("lists", rl, spans.enabled))
        }
      }
      if (record && spans.enabled) {
        val q = math.max(1, times.size / 4)
        slopes += times.takeRight(q).sum / times.take(q).sum
        storeMb += storeFiles(stores).map(_._2).sum / Main.MiB
      }
      pairs
    } finally {
      query.stop()
      FileUtils.deleteDirectory(new File(base))
    }
  }

  def finish(spark: SparkSession, rec: Recorder, spans: Spans,
      listener: StageListener, cores: Int): Unit = {
    // latencies of the untraced units' batches and reads
    rec.notes("batch_s") = done.filterNot(_.traced).map(_.s)
    rec.notes("read_s") = reads.filterNot(_._3).map(_._2)
    if (spans.enabled) {
      val traced = done.filter(_.traced)
      val per = traced.flatMap(b => b.span.map(s => s -> listener.totalsDuring(s)))
      def med(xs: Iterable[Double]) = Main.median(xs.toSeq)
      val tracedReads = reads.filter(_._3)
      rec.layers ++= Seq(
        "streaming.batch_exec_s" -> med(per.map(_._2.execS)),
        "streaming.batch_gap_s" -> med(per.map { case (s, t) => s.seconds - t.execS / cores }),
        "streaming.jobs_per_batch" -> med(per.map(_._2.jobs.toDouble)),
        "streaming.files_per_batch" -> med(traced.map(_.files.toDouble)),
        "streaming.bytes_per_batch_mb" -> med(traced.map(_.bytes / Main.MiB)),
        "streaming.delta_dirs_max" -> traced.map(_.deltaDirs).max.toDouble,
        "streaming.compact_batch_s" -> med(traced.filter(b => compacts(b.id)).map(_.s)),
        "streaming.batch_slope" -> med(slopes),
        "streaming.read_pairs_s" -> med(tracedReads.filter(_._1 == "pairs").map(_._2)),
        "streaming.read_lists_s" -> med(tracedReads.filter(_._1 == "lists").map(_._2)),
        "streaming.store_mb" -> med(storeMb))
    }
  }

  /** (path, bytes) of every data file in the stores. */
  private def storeFiles(stores: Seq[File]): List[(String, Long)] =
    stores.filter(_.exists).flatMap(d => FileUtils.listFiles(d, null, true).asScala)
      .filter(f => f.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.length).toList

  /** The most `delta=N` directories of any store. */
  private def deltaDirs(stores: Seq[File]): Int =
    stores.map(d => Option(d.listFiles()).fold(0)(_.count(_.getName.startsWith("delta=")))).max

  private def pairRows(df: DataFrame): Set[Pair] = {
    import df.sparkSession.implicits._
    df.select("keep_id", "drop_id", "cos", "margin").as[Pair].collect().toSet
  }
}

object StreamIngest {
  /** In-stream compaction runs at the end of every CompactEvery-th batch. */
  val CompactEvery = 1

  def compacts(batchId: Long): Boolean = batchId > 0 && batchId % CompactEvery == 0

  /** The one-shot batch mining the streamed pairs must equal: mutual
    * best-margin pairs across the even and odd vec_id sides, as q267
    * mines them from the exact dual top-4 lists. */
  def mining(e: DataFrame): DataFrame = {
    val a = e.filter(col("vec_id") % 2 === 0)
    val b = e.filter(col("vec_id") % 2 === 1)
    val fwd = Similarity.bruteForceTopK(b, "vec_id", "embedding", a, "vec_id", "embedding", k = 4)
    val bwd = Similarity.bruteForceTopK(a, "vec_id", "embedding", b, "vec_id", "embedding", k = 4)
    val mfwd = Align.marginScore(fwd, bwd, 4, 1.05)
    val mbwd = Align.marginScore(bwd, fwd, 4, 1.05)
    mfwd.as("f").join(mbwd.as("b"),
        col("f.src_id") === col("b.dst_id") && col("f.dst_id") === col("b.src_id"))
      .select(col("f.src_id").as("keep_id"), col("f.dst_id").as("drop_id"),
        col("f.cos"), col("f.margin"))
  }
}
