package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Exact heavy hitters (frequent items) over an unbounded token
  * stream with bounded memory — the "what are the dominant tokens /
  * domains / templates in this corpus" question every training-data
  * audit asks, at a scale where `GROUP BY token` over every token is
  * the wrong first move (the full token→count shuffle is the cost of
  * q93's vocabulary build; a heavy-hitter screen shouldn't pay it).
  *
  * Two-phase sketch-then-verify, the same honesty contract as the
  * Bloom decontamination path (q106) and the ANN recall gates: the
  * sketch only ever proposes CANDIDATES, and an exact pass decides —
  * so the answer is bitwise the brute-force answer, provably, not
  * probabilistically.
  *
  * Phase 1 — Misra-Gries summaries, merged. Each input partition
  * folds its tokens into a k-counter Misra-Gries summary (decrement-
  * all on overflow, O(k) worst case per token, k is small). Summaries
  * merge by summing counters and subtracting the (k+1)-th largest
  * merged weight (Agarwal et al., "Mergeable Summaries", PODS 2012):
  * the merged summary keeps at most k counters and underestimates any
  * token's true count by at most N/(k+1). Therefore every token with
  * true count strictly greater than N/k — N the total token count,
  * carried exactly alongside the sketch — still holds a positive
  * counter after the merge: the candidate set provably contains every
  * heavy hitter. `treeAggregate(depth=2)` does the merging, so the
  * driver combines ~√P partial summaries, not P.
  *
  * Phase 2 — exact verify. The ≤k candidate tokens become an `isin`
  * predicate on a second scan (pushed into the parquet reader as an
  * In filter), and only matching tokens reach a ≤k-key partial-
  * aggregated groupBy. The final `count * k > N` filter uses exact
  * integer arithmetic, so the result is identical for ANY partitioning
  * of the input — partition layout moves which spurious candidates
  * the sketch carries, never the verified answer (spec-pinned).
  *
  * At 100 TB: phase 1 is one scan with k counters per task and no
  * shuffle; phase 2 is one In-pruned scan into a k-key shuffle.
  * Nothing anywhere holds more than k counters.
  *
  * Reference analog: the word-frequency Top-N job family the
  * reference runs as chained MapReduce (the default (line, 1) map,
  * `Imagine_MapReduce/Mapper.h:268-270`, into the sum-by-key reduce,
  * `MapReduceUtil.cpp:114-135`); this is its bounded-
  * memory, single-digit-shuffle spelling.
  */
object HeavyHitters {

  /** One Misra-Gries update: increment a held counter, claim a free
    * slot, or decrement everything (dropping zeros). */
  private[operators] def mgAdd(
      acc: mutable.HashMap[String, Long], tok: String, k: Int): Unit = {
    acc.get(tok) match {
      case Some(c) => acc.update(tok, c + 1L)
      case None if acc.size < k => acc.update(tok, 1L)
      case None =>
        val dead = mutable.ArrayBuffer.empty[String]
        acc.keysIterator.foreach { key =>
          val c = acc(key) - 1L
          if (c <= 0L) dead += key else acc.update(key, c)
        }
        dead.foreach(acc.remove)
    }
  }

  /** Mergeable-summaries combine: sum counters; if more than k
    * survive, subtract the (k+1)-th largest weight from all and drop
    * the non-positive remainder. Error stays ≤ N/(k+1). */
  private[operators] def mgMerge(
      a: mutable.HashMap[String, Long],
      b: mutable.HashMap[String, Long],
      k: Int): mutable.HashMap[String, Long] = {
    b.foreach { case (tok, c) => a.update(tok, a.getOrElse(tok, 0L) + c) }
    if (a.size > k) {
      val weights = a.values.toArray
      java.util.Arrays.sort(weights)
      val sub = weights(weights.length - (k + 1)) // (k+1)-th largest
      val dead = mutable.ArrayBuffer.empty[String]
      a.keysIterator.foreach { key =>
        val c = a(key) - sub
        if (c <= 0L) dead += key else a.update(key, c)
      }
      dead.foreach(a.remove)
    }
    a
  }

  /** Phase 1 over a one-column token frame: (total token count N,
    * merged ≤k-counter summary). Null tokens are skipped (a null
    * token is no token, matching the words() kernel which never
    * emits one). */
  private[operators] def summarize(
      tokens: DataFrame, k: Int): (Long, Map[String, Long]) = {
    val col0 = tokens.columns.head
    val rdd = tokens.select(col(col0).cast("string")).rdd
      .map(r => if (r.isNullAt(0)) null else r.getString(0))
      .filter(_ != null)
    val zero = (0L, mutable.HashMap.empty[String, Long])
    val (n, merged) = rdd.treeAggregate(zero)(
      seqOp = { case ((cnt, acc), tok) => mgAdd(acc, tok, k); (cnt + 1L, acc) },
      combOp = { case ((na, a), (nb, b)) => (na + nb, mgMerge(a, b, k)) },
      depth = 2)
    (n, merged.toMap)
  }

  /** Exact heavy hitters of `tokenCol`: every token whose true count
    * strictly exceeds N/k, with its EXACT count — bitwise the answer
    * of the full-shuffle `GROUP BY`, at sketch cost. Output
    * (token, cnt) ordered by cnt desc, token. */
  def heavyHitters(df: DataFrame, tokenCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = df.select(col(tokenCol).cast("string").as("token"))
    val (n, candidates) = summarize(toks, k)
    val empty = toks.filter(lit(false))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    if (candidates.isEmpty) empty
    else
      toks.filter(col("token").isin(candidates.keys.toSeq: _*))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * lit(k.toLong) > lit(n))
        .orderBy(col("cnt").desc, col("token"))
  }

  /** Heavy hitters over the words of a text column — the corpus-audit
    * face (dominant tokens at > N/k frequency). */
  def heavyTokens(df: DataFrame, textCol: String, k: Int): DataFrame =
    heavyHitters(
      df.select(explode(TextFunctions.words(col(textCol))).as("token")),
      "token", k)
}
