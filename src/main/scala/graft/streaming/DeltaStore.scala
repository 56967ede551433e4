package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One batch-keyed delta store: every `delta=N` directory under `dir`
  * is batch N's contribution, plain parquet, and the store is read
  * back as their union with `delta` as a BIGINT partition column (the
  * fold order). This class owns the whole on-disk protocol — layout,
  * the replay bound, staged compaction, its commit marker and crash
  * recovery — so the ingest family in [[Streams]] only says WHAT each
  * batch writes and folds, never how a store is laid out.
  *
  * REPLAY RULE — a crash after delta N landed but before the stream's
  * checkpoint committed replays batch N, which must consume exactly
  * the state the first attempt saw: deltas strictly below N
  * ([[below]]). Reading its own already-written delta would double
  * its rows. Every write is a batch-keyed `overwrite` ([[write]]), so
  * a replay rewrites its delta value-identically: exactly-once by
  * idempotence.
  *
  * STAGED REPLACE ([[replace]]; Spark's `overwrite` is delete-then-
  * write, so a crash mid-write over a directory that is also a fold
  * INPUT would destroy its rows) — the fold is durable before anything
  * existing is touched, and every later step is a directory-metadata
  * op:
  *   1. roll forward any interrupted swap ([[recover]]);
  *   2. write the fold to the stage `_compact_tmp_u` (underscore-
  *      prefixed: invisible to Spark's file index), then write the
  *      store's own [[DeltaStore.Marker]] into it — the stage's
  *      commit. Parquet's `_SUCCESS` cannot be the marker: Spark
  *      writes none when `mapreduce.fileoutputcommitter
  *      .marksuccessfuljobs` is false;
  *   3. delete every delta below u — while the committed stage still
  *      exists, so a crash here is resumable (the nearDup/IVF index
  *      probes read plain delta unions with no read-time fold, so a
  *      superseded delta surviving next to the fold would double its
  *      rows);
  *   4. rename delta u -> `_compact_old_u`, the stage -> delta u, and
  *      delete the `_old` dir.
  * A crash before the marker leaves the store untouched (recovery
  * discards an unmarked stage); a crash anywhere after it is rolled
  * FORWARD by recovery from the committed stage.
  *
  * SINGLE WRITER: recovery mutates the store, so only the writer runs
  * it — every ingest batch before it reads or writes, and every
  * compaction. Readers take a [[snapshot]], which never changes the
  * store and fails loud on one caught mid-swap. */
private[graft] final class DeltaStore(spark: SparkSession, val dir: String) {
  import DeltaStore._

  private val root = new Path(dir)
  private lazy val fs: FileSystem =
    root.getFileSystem(spark.sessionState.newHadoopConf())

  private def delta(n: Long) = new Path(root, s"$DeltaPrefix$n")

  private def names: Seq[String] =
    if (fs.exists(root)) fs.listStatus(root).toSeq.map(_.getPath.getName)
    else Nil

  /** The batch ids of the store's deltas, ascending. */
  def ids: Seq[Long] =
    names.filter(_.startsWith(DeltaPrefix))
      .flatMap(_.stripPrefix(DeltaPrefix).toLongOption).sorted

  /** Batch `n`'s delta: a batch-keyed overwrite, idempotent on replay. */
  def write(n: Long, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(delta(n).toString)

  /** Every delta under the declared file schema `ddl` (DDL), with
    * `delta` typed as the batch id it is — no schema-inference job
    * before the action. */
  def read(ddl: String): DataFrame =
    spark.read.schema(s"$ddl, delta BIGINT").parquet(dir)

  /** Every delta, schema inferred by Spark (one job) — for a store
    * whose file schema follows its caller's columns. */
  def readInferred(): DataFrame = spark.read.parquet(dir)

  /** Delta `n` alone under the declared file schema (no `delta`
    * column). */
  def read(n: Long, ddl: String): DataFrame =
    spark.read.schema(ddl).parquet(delta(n).toString)

  /** The replay-bounded prior state of batch `n`: every delta strictly
    * below `n`, or None when there is none (the first batch, or a
    * replay of it). */
  def below(n: Long, ddl: String): Option[DataFrame] =
    if (ids.exists(_ < n)) Some(read(ddl).filter(col("delta") < n))
    else None

  /** The readers' view: [[read]], then a READ-ONLY check, made after
    * the file listing resolved, that the store is neither mid-swap
    * nor in the retired layout. A listing taken mid-swap can miss
    * the renamed-away delta or hold deleted history, so such a store
    * fails loud instead of folding silently wrong; the writer's next
    * batch or compaction recovers it. */
  def snapshot(ddl: String): DataFrame = {
    val df = read(ddl)
    names.find(n => n.startsWith(TmpPrefix) || n.startsWith(OldPrefix))
      .foreach(n => throw new IllegalStateException(s"delta store $dir " +
        s"is mid-compaction ($n); a reader does not repair a store — a " +
        "writer's next batch or a compaction (compactCrossLingualState " +
        "for the cross-lingual stores) recovers it"))
    requireCurrentLayout()
    df
  }

  /** Crash-safe replace of delta `upTo` with `folded` (built only
    * after recovery: a parquet read resolves its file listing eagerly,
    * so a fold planned over a mid-swap store would miss the renamed-
    * away delta), then removal of every delta below it — the staged
    * protocol in the class doc. */
  def replace(upTo: Long)(folded: => DataFrame): Unit = {
    recover()
    stage(upTo, folded)
  }

  /** Fold-and-replace compaction: every delta <= upTo, each read under
    * `ddl` and passed in delta ORDER (what a last-writer-wins fold
    * resolves on), folded by `fold` into the new delta `upTo`. A no-op
    * on a store without such a delta. */
  def compact(upTo: Long, ddl: String)(fold: Seq[DataFrame] => DataFrame): Unit = {
    recover()
    val upToIds = ids.filter(_ <= upTo)
    if (upToIds.nonEmpty) stage(upTo, fold(upToIds.map(read(_, ddl))))
  }

  /** Roll an interrupted [[replace]] FORWARD (writer-only): a stage
    * holding the [[DeltaStore.Marker]] is the durable truth for delta
    * u and is installed (any delta u still present is superseded: the
    * stage folded it); an unmarked stage is discarded (nothing
    * existing was touched before its commit); an orphan
    * `_compact_old_u` is restored when delta u is absent — it is then
    * the only copy of those rows — and deleted as superseded history
    * otherwise. A delta still holding `qb=`/`nb=` bucket DIRECTORIES
    * (the retired list/postings layout) fails loud: there is no in-
    * place migration. Idempotent; on a clean store one listing per
    * delta. */
  def recover(): Unit = {
    names.filter(_.startsWith(TmpPrefix)).foreach { n =>
      val stage = new Path(root, n)
      n.stripPrefix(TmpPrefix).toLongOption
        .filter(_ => fs.exists(new Path(stage, Marker))) match {
        case Some(u) => install(u, stage)
        case None => fs.delete(stage, true)
      }
    }
    names.filter(_.startsWith(OldPrefix)).foreach { n =>
      val old = new Path(root, n)
      n.stripPrefix(OldPrefix).toLongOption.map(delta)
        .filterNot(fs.exists) match {
        case Some(dst) => renameOrDie(old, dst)
        case None => fs.delete(old, true)
      }
    }
    requireCurrentLayout()
  }

  /** Steps 2-4 of the protocol on a recovered store: the stage's
    * write, its commit marker, the install. */
  private def stage(upTo: Long, folded: DataFrame): Unit = {
    val tmp = new Path(root, s"$TmpPrefix$upTo")
    folded.write.mode("overwrite").parquet(tmp.toString)
    fs.create(new Path(tmp, Marker), true).close()
    install(upTo, tmp)
  }

  /** Steps 3-4 of the protocol: the committed `stage` becomes delta u. */
  private def install(u: Long, stage: Path): Unit = {
    ids.filter(_ < u).foreach(i => fs.delete(delta(i), true))
    val old = new Path(root, s"$OldPrefix$u")
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(delta(u))) renameOrDie(delta(u), old)
    renameOrDie(stage, delta(u))
    fs.delete(old, true)
  }

  /** Hadoop's rename reports failure as a silent boolean; in a swap a
    * swallowed false IS corruption — fail loud (the committed stage
    * survives, so recovery completes the swap on the next entry). */
  private def renameOrDie(src: Path, dst: Path): Unit =
    require(fs.rename(src, dst), s"compaction swap rename failed: $src " +
      s"-> $dst (committed staging survives; re-run the compaction or " +
      "the next batch to recover)")

  private def requireCurrentLayout(): Unit =
    ids.iterator.flatMap(i => fs.listStatus(delta(i))).map(_.getPath)
      .find(p => p.getName.startsWith("qb=") || p.getName.startsWith("nb="))
      .foreach(p => throw new IllegalStateException(s"delta store $dir " +
        s"is in the retired bucket-directory layout ($p), which this " +
        "version cannot read or extend — re-ingest the stream into a " +
        "fresh store"))
}

private[graft] object DeltaStore {
  private val DeltaPrefix = "delta="
  private val TmpPrefix = "_compact_tmp_"
  private val OldPrefix = "_compact_old_"

  /** The stage's commit marker, written by the store once the stage's
    * parquet write returned. */
  private val Marker = "_DELTA_COMMITTED"
}
