package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Byte-pair-encoding statistics and encoding over a corpus
  * (Sennrich et al., "Neural Machine Translation of Rare Words with
  * Subword Units", ACL 2016 — the algorithm behind GPT-2/RoBERTa
  * vocabularies): the first merge's pair counts, and a trained merge
  * table applied to text.
  *
  * The at-scale shape is the whole point: BPE statistics NEVER run
  * over raw text. The corpus collapses to its (word, freq) table
  * first — one wordcount shuffle, output bounded by vocabulary size,
  * not corpus size — and pair counting and encoding run over that
  * collapsed table. A 100× corpus grows the wordcount input but not
  * the encode work.
  *
  * Merges never cross word boundaries (pairs are adjacent symbols
  * within a word), so no end-of-word marker is needed for the
  * counting math; production vocabularies add one to distinguish
  * suffixes — a caller-side `word || "</w>"` preprocessing choice
  * this operator deliberately leaves out of the kernel.
  *
  * Reference analog: the wordcount job — the default (line, 1) map
  * (`Imagine_MapReduce/Mapper.h:268-270`) into sum-by-key
  * (`MapReduceUtil.cpp:114-135`); pair statistics are a weighted
  * pair-wordcount over its output.
  */
object Bpe {

  /** The corpus collapsed to (word, freq) — phase 0 of everything. */
  def wordFreq(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextFunctions.words(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Adjacent character-pair statistics over the collapsed word
    * table, weighted by word frequency — the exact input to BPE's
    * first argmax, and the q112 oracle surface: (rank, left, right,
    * cnt), rank 1 the pair the first merge would pick, ties broken
    * by (left, right). Pairs come straight off substrings of the
    * word (no symbol arrays yet), so the whole thing is plain
    * codegen'd SQL any engine reproduces. */
  def pairStats(df: DataFrame, textCol: String, topN: Int): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val wf = wordFreq(df, textCol)
    val pairs = wf
      .filter(length(col("word")) >= 2) // 1-char words emit no pairs;
      // the filter also keeps sequence() ascending (sequence(1,0)
      // would DESCEND and fabricate pairs)
      .select(col("freq"), explode(
        transform(sequence(lit(1), length(col("word")) - lit(1)),
          i => struct(
            col("word").substr(i, lit(1)).as("left"),
            col("word").substr(i + lit(1), lit(1)).as("right")))).as("p"))
      .groupBy(col("p.left").as("left"), col("p.right").as("right"))
      .agg(sum(col("freq")).as("cnt"))
    val top = pairs.orderBy(col("cnt").desc, col("left"), col("right"))
      .limit(topN)
    Ranks.rankBounded(top, col("cnt").desc, col("left"), col("right"))
      .select("rank", "left", "right", "cnt")
  }

  /** ENCODING: apply a trained merge table (the `merges.txt` a
    * tokenizer ships) to text. Each word splits to characters, then
    * every merge applies IN RANK ORDER with BPE's greedy leftmost
    * non-overlapping rule ("aaa" + (a,a) → [aa, a]).
    *
    * The at-scale shape mirrors training: text NEVER encodes row by
    * row — the corpus collapses to its (word, freq) vocabulary
    * first, each DISTINCT word encodes exactly once, and per-doc
    * numbers come from a broadcast join of the vocab-sized
    * (word → n_tokens) table back onto the token stream. A 100×
    * corpus re-encodes nothing; it only grows the wordcount. */
  private def encodeUdf(merges: Seq[(String, String)]) = {
    val ms = merges.toArray
    udf((w: String) => {
      if (w == null) Array.empty[String]
      else {
        var syms: Array[String] = w.toCharArray.map(_.toString)
        var m = 0
        while (m < ms.length && syms.length >= 2) {
          val (l, r) = ms(m)
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              out += (l + r); i += 2
            } else { out += syms(i); i += 1 }
          }
          syms = out.toArray
          m += 1
        }
        syms
      }
    })
  }

  /** The encoded vocabulary: one row per distinct corpus word —
    * (word, freq, tokens). Everything else derives from this. */
  def encodeVocab(
      df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    wordFreq(df, textCol)
      .withColumn("tokens", encodeUdf(merges)(col("word")))

  /** Corpus token frequencies under the merge table, top `topN` by
    * (cnt desc, token): (rank, token, cnt) — the vocabulary-usage
    * report that tells a tokenizer owner how much compression the
    * merges actually buy on this corpus. */
  def tokenFreq(
      df: DataFrame, textCol: String,
      merges: Seq[(String, String)], topN: Int): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val tok = encodeVocab(df, textCol, merges)
      .select(col("freq"), explode(col("tokens")).as("token"))
      .groupBy("token").agg(sum("freq").as("cnt"))
    val top = tok.orderBy(col("cnt").desc, col("token")).limit(topN)
    Ranks.rankBounded(top, col("cnt").desc, col("token"))
      .select("rank", "token", "cnt")
  }

  /** [[fertilityReport]]'s counted broadcast gate (the kCore
    * `broadcastMaxNodes` discipline, Graphs.scala): an explicit
    * broadcast() hint is honored PAST autoBroadcastJoinThreshold, and at web scale the distinct-word
    * table (typos, URLs, code) is not Heaps-law-small — an
    * unconditional hint would pin a vocab-sized frame on the driver.
    * The fallback is CODE, not planner hope: the vocab is counted,
    * and the hint applies only while the count stays ≤
    * `broadcastMaxVocab`; above that the equi-join goes un-hinted
    * and the planner shuffles both word-keyed sides — the right plan
    * at that size.
    *
    * `nVocab` is the caller's DISTINCT-WORD count, computed from the
    * un-encoded word table — the same number as a count of the
    * encoded frame, but its action runs no encode UDF and, unlike
    * the r9 spelling (persist + count the ENCODED vocab), leaves no
    * cached frame behind: the r9 advisor caught that the
    * MEMORY_AND_DISK vocab frame was never unpersisted, leaking one
    * CacheManager entry per call into a long-lived session. Now
    * nothing persists: the encode UDF runs exactly once, inside the
    * single consuming action (materialized by the broadcast exchange
    * under the bound, by the shuffle above it), and the gate's whole
    * cost is one partial-aggregated wordcount pass whose shuffle
    * output is vocab-sized (BpeSpec pins that no persisted RDD and
    * no cache entry outlive the call). */
  private def gatedVocabSide(
      perWord: DataFrame, nVocab: Long, broadcastMaxVocab: Long): DataFrame =
    if (nVocab <= broadcastMaxVocab) broadcast(perWord) else perWord

  /** Tokenizer-FERTILITY audit per group (usually `source`): tokens
    * emitted per word and characters per token under a fixed merge
    * table — the number a tokenizer owner watches per data source,
    * because high fertility on one source means the vocabulary
    * under-serves it (an under-merged language or domain pays more
    * sequence length per word, i.e. more training compute for the
    * same text).
    *
    * At-scale shape: the corpus collapses to
    * a per-(group, word) frequency table (one shuffle, vocab-sized
    * output per group), DISTINCT words encode exactly once through
    * the merge chain, and the vocab-sized (word → token count) table
    * joins back onto the group frequencies — broadcast only while
    * its counted size stays ≤ `broadcastMaxVocab`
    * ([[gatedVocabSide]]). Corpus size enters only the initial
    * wordcount; the encode work is vocabulary-bounded no matter how
    * many times each word repeats.
    *
    * Determinism: counts and sums are exact integers; fertility and
    * chars_per_token are each ONE IEEE division rounded to 6
    * decimals. Every word encodes to >= 1 token, so the divisor is
    * never 0.
    *
    * Output: (source, n_words, n_tokens, n_chars, fertility,
    * chars_per_token) per group. */
  def fertilityReport(
      df: DataFrame, groupCol: String, textCol: String,
      merges: Seq[(String, String)],
      broadcastMaxVocab: Long = 10000000L): DataFrame = {
    require(broadcastMaxVocab >= 1L,
      s"broadcastMaxVocab must be >= 1, got $broadcastMaxVocab")
    val nVocab = wordFreq(df, textCol).count()
    val wf = df.select(col(groupCol).as("source"),
        explode(TextFunctions.words(col(textCol))).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("freq"))
    val perWord = wf.select("word").distinct()
      .withColumn("_toks", encodeUdf(merges)(col("word")))
      .select(col("word"),
        size(col("_toks")).cast("long").as("_nt"),
        length(col("word")).cast("long").as("_nc"))
    wf.join(gatedVocabSide(perWord, nVocab, broadcastMaxVocab), Seq("word"))
      .groupBy("source")
      .agg(sum(col("freq")).as("n_words"),
        sum(col("freq") * col("_nt")).as("n_tokens"),
        sum(col("freq") * col("_nc")).as("n_chars"))
      .select(col("source"), col("n_words"), col("n_tokens"),
        col("n_chars"),
        round(col("n_tokens").cast("double") /
          col("n_words").cast("double"), 6).as("fertility"),
        round(col("n_chars").cast("double") /
          col("n_tokens").cast("double"), 6).as("chars_per_token"))
  }
}
