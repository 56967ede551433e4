package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Sequence packing — the last step before a pretraining run: documents
  * are concatenated in a deterministic order into one token stream per
  * shard, and the stream is chunked at the model's context length.
  * Each document's byte position in that virtual stream (start offset,
  * first/last chunk index) is what the data loader needs to slice
  * batches without ever materializing the concatenation.
  *
  * Scale shape: packing is inherently sequential WITHIN a shard, so
  * the operator partitions by the shard column and runs one window
  * cumsum per shard — shards pack in parallel, and a 100 TB corpus is
  * packed by choosing shards (source, date, hash bucket) sized for one
  * task each. A global (single-shard) packing of 100 TB would serialize
  * on one partition — that is a property of the problem, not the
  * implementation; callers choose the shard granularity.
  *
  * All arithmetic is integer offset math (cumsum, floor division), so
  * the q74 oracle recomputes every value exactly in SQL. */
object Pack {

  /** Per-document packing report:
    * (id, shard, toks, start_offset, first_chunk, last_chunk) —
    * start_offset is the document's first token position in its
    * shard's concatenated stream (docs ordered by `orderCol`),
    * first/last_chunk the seqLen-sized chunks it spans. Zero-token
    * documents occupy no tokens: they report the chunk they would
    * start in, with last_chunk = first_chunk. */
  def sequenceOffsets(
      df: DataFrame,
      idCol: String,
      shardCol: String,
      orderCol: String,
      tokenCol: String,
      seqLen: Long): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val w = Window.partitionBy("shard").orderBy("_ord")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(
      col(idCol).as("id"),
      col(shardCol).as("shard"),
      // null token counts read as 0 (occupy no stream positions)
      // instead of poisoning every downstream cumsum in the shard
      coalesce(col(tokenCol).cast("long"), lit(0L)).as("toks"),
      col(orderCol).as("_ord"))
      .withColumn("start_offset",
        sum(col("toks")).over(w) - col("toks"))
      .withColumn("first_chunk", floor(col("start_offset") / seqLen))
      .withColumn("last_chunk",
        when(col("toks") === 0L, col("first_chunk"))
          .otherwise(floor((col("start_offset") + col("toks") - 1L) / seqLen)))
      .select("id", "shard", "toks", "start_offset", "first_chunk", "last_chunk")
  }

  /** Length-bucketed batch assignment — the padding-minimization step
    * for runs that batch whole documents (SFT/eval) instead of
    * packing a flat stream: batching arbitrary-length docs together
    * pads every row to the batch max, so group docs of SIMILAR length
    * (`bucket` = toks / bucketWidth) and fill fixed-size batches
    * inside each bucket. Output is the per-batch REPORT the loader
    * and the capacity planner consume: (bucket, shard, batch, n_docs,
    * max_toks, sum_toks, padding) with padding = n·max − sum, the
    * exact token waste the bucketing saved or left.
    *
    * Scale shape: a per-bucket contiguous numbering would sort each
    * bucket in ONE task (a bucket holds an unbounded fraction of the
    * corpus), so batches are assigned within (bucket, shard) cells —
    * `shard` = id mod `shards`, deterministic and SQL-exact — and the
    * window sorts one task-sized cell each, buckets × shards ways
    * parallel. Batches never mix buckets, so the padding bound
    * (bucketWidth − 1 per doc) holds regardless of shard count;
    * callers size `shards` so a cell fits a task, exactly like
    * [[sequenceOffsets]]'s shard contract. All integer math — the
    * q100 oracle recomputes every row. */
  def lengthBatches(
      df: DataFrame,
      idCol: String,
      tokenCol: String,
      bucketWidth: Long,
      batchSize: Int,
      shards: Int = 1): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    require(shards > 0, s"shards must be positive, got $shards")
    val toks = coalesce(col(tokenCol).cast("long"), lit(0L))
    val base = df.select(
      col(idCol).cast("long").as("id"),
      toks.as("toks"),
      floor(toks / bucketWidth).cast("long").as("bucket"),
      pmod(col(idCol).cast("long"), lit(shards.toLong)).as("shard"))
    val w = Window.partitionBy("bucket", "shard")
      .orderBy(col("toks").asc, col("id").asc)
    base
      .withColumn("batch",
        floor((row_number().over(w) - 1) / batchSize).cast("long"))
      .groupBy("bucket", "shard", "batch")
      .agg(
        count(lit(1)).as("n_docs"),
        max(col("toks")).as("max_toks"),
        sum(col("toks")).as("sum_toks"))
      .withColumn("padding",
        col("n_docs") * col("max_toks") - col("sum_toks"))
  }

  /** Overlapping-window chunking WITHIN each document — the
    * retrieval/embedding-side counterpart to the packing report above
    * (packing concatenates docs into a training stream; RAG-style
    * indexing slices each doc into windows short enough to embed,
    * overlapping so no phrase is ever split across a boundary without
    * also appearing whole in a neighbor). Chunk `i` covers tokens
    * [i·stride + 1, i·stride + chunkSize] (1-based, space-split like
    * the text operators); starts advance until the previous chunk has
    * reached the end, so every token lands in >= 1 chunk, consecutive
    * chunks overlap by chunkSize − stride tokens, and only the final
    * chunk may be shorter. Docs with no tokens yield no chunks.
    *
    * Scale shape: pure per-row compute — tokenize, one posexplode of
    * ceil((toks−chunkSize)/stride)+1 slices, no shuffle, no window,
    * no state; Catalyst prunes to (id, text) at the scan. Output:
    * (id, chunk_id 0-based, start_tok, n_tokens, chunk_text). */
  def chunkWithOverlap(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkSize: Int,
      stride: Int): DataFrame = {
    require(chunkSize > 0, s"chunkSize must be positive, got $chunkSize")
    require(stride > 0 && stride <= chunkSize,
      s"stride must be in [1, chunkSize], got $stride")
    // one JIT kernel call per doc builds the chunk structs; posexplode
    // then emits rows that carry ONLY their own chunk — the explode-
    // then-slice spelling would copy the whole token array into every
    // output row, and the transform() HOF spelling runs interpreted
    val chunksUdf = udf((t: String) =>
      Kernels.chunkOverlap(if (t == null) "" else t, chunkSize, stride))
    df.select(col(idCol).as("id"),
        posexplode(chunksUdf(col(textCol)))
          .as(Seq("chunk_id", "_c")))
      .select(
        col("id"),
        col("chunk_id").cast("long").as("chunk_id"),
        col("_c.start_tok").as("start_tok"),
        col("_c.n_tokens").as("n_tokens"),
        col("_c.chunk_text").as("chunk_text"))
  }

  /** Tombstone blast radius through the PACKED layer — the
    * right-to-be-forgotten query for the training-data artifacts a
    * [[sequenceOffsets]] manifest describes (the q271/q274 GDPR story
    * carried one layer further): a delete batch invalidates every
    * seqLen chunk that contains any deleted document's tokens, and the
    * cost of honoring it is RE-PACKING those chunks' surviving tokens.
    * One row per invalidated (shard, chunk_id): how many docs overlap
    * the chunk, how many of them are deleted, the deleted and
    * surviving token counts within the chunk — `surviving_tokens` IS
    * the rebuild cost (the tokens that must be re-emitted), and
    * `surviving_tokens = 0` marks a chunk that simply vanishes (the
    * empty-shard edge — nothing to rebuild, just delete the artifact).
    *
    * Zero-token documents occupy no stream positions ([[
    * sequenceOffsets]]'s contract), so deleting one invalidates
    * nothing and they contribute no overlap rows.
    *
    * Scale shape, and why it holds at 100 TB: the manifest explodes to
    * one narrow integer row per (doc, chunk-it-overlaps) — O(corpus
    * tokens / seqLen + n_docs), linear, map-side, no token bodies —
    * the tombstone-ID joins broadcast (the id set is the request,
    * small by contract), and the invalidated (shard, chunk_id) set
    * prunes the exploded rows in a semi-join BEFORE the only
    * aggregate, so the partial-aggregable groupBy sees touched
    * chunks' rows only, never the corpus. That chunk set is
    * tombstone-TOKEN-MASS-sized, not constant (a %-of-corpus
    * right-to-be-forgotten batch makes it corpus-shaped), so it is
    * deliberately NOT broadcast-hinted — AQE broadcasts it when
    * genuinely small, and a massive delete batch degrades to a
    * shuffle semi-join instead of dying at Spark's broadcast
    * hard-stop (the same hub lesson as
    * [[graft.operators.Similarity.listInvalidation]]). All
    * arithmetic is integer offset math the oracle replays exactly. */
  def deleteBlastRadius(
      manifest: DataFrame,
      tombstones: DataFrame,
      seqLen: Long): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val tombName = tombstones.columns.head
    val tomb = tombstones
      .select(col(tombName).cast("long").as("_tid")).distinct()
    // invalidated chunk set: explode ONLY the tombstoned docs' spans
    // (tombstone-span-sized) — the corpus-wide explode below runs once
    val touched = manifest
      .join(broadcast(tomb), col("id") === col("_tid"), "left_semi")
      .filter(col("toks") > 0L)
      .select(col("shard"),
        explode(sequence(col("first_chunk"), col("last_chunk")))
          .as("chunk_id"))
      .distinct()
    manifest
      .filter(col("toks") > 0L)
      .select(col("id"), col("shard"), col("toks"), col("start_offset"),
        explode(sequence(col("first_chunk"), col("last_chunk")))
          .as("chunk_id"))
      .join(touched, Seq("shard", "chunk_id"), "left_semi")
      .withColumn("_ov",
        least(col("start_offset") + col("toks"),
          (col("chunk_id") + lit(1L)) * lit(seqLen))
          - greatest(col("start_offset"), col("chunk_id") * lit(seqLen)))
      .join(broadcast(tomb), col("id") === col("_tid"), "left")
      .withColumn("_del", when(col("_tid").isNotNull, 1L).otherwise(0L))
      .groupBy("shard", "chunk_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("_del")).as("n_deleted"),
        sum(when(col("_del") === 1L, col("_ov")).otherwise(0L))
          .as("deleted_tokens"),
        sum(when(col("_del") === 0L, col("_ov")).otherwise(0L))
          .as("surviving_tokens"))
  }
}
