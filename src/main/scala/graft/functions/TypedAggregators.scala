package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Typed custom aggregation — the `Aggregator[IN, BUF, OUT]` face of
  * the reference's user-reduce hook (`ReduceCallback`, Callbacks.h:18;
  * SURVEY §7.3 "user map/reduce hooks"). Unlike a row-at-a-time UDAF,
  * an Aggregator gets map-side partial aggregation for free: `reduce`
  * runs pre-shuffle, `merge` combines partials — the two-phase shape
  * the reference built by hand with its combiner + reduce-side merges.
  */
object TypedAggregators {

  /** Exact top-k largest values per group with bounded state: the
    * buffer is a sorted ascending array capped at k (the evict-min
    * trick), so shuffle state per group is O(k) regardless of group
    * size — the property that makes per-group top-k safe on a 100 TB
    * table with billion-row groups. */
  class TopKLongs(k: Int) extends Aggregator[Long, Array[Long], Array[Long]] {
    require(k > 0)

    override def zero: Array[Long] = Array.empty

    override def reduce(buf: Array[Long], v: Long): Array[Long] = insert(buf, v)

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      b.foldLeft(a)(insert)

    /** Descending order for presentation. */
    override def finish(buf: Array[Long]): Array[Long] = buf.reverse

    private def insert(buf: Array[Long], v: Long): Array[Long] = {
      if (buf.length < k) {
        val out = new Array[Long](buf.length + 1)
        sortedInsert(buf, v, out)
      } else if (v > buf(0)) {
        val out = new Array[Long](k)
        sortedInsert(buf.tail, v, out) // evict current min
      } else buf
    }

    private def sortedInsert(
        src: Array[Long], v: Long, out: Array[Long]): Array[Long] = {
      var i = 0
      while (i < src.length && src(i) < v) { out(i) = src(i); i += 1 }
      out(i) = v
      while (i < src.length) { out(i + 1) = src(i); i += 1 }
      out
    }

    override def bufferEncoder: Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
  }

  /** collect_list with a HARD per-group state cap — the bounded-
    * buffer answer to the "loud before it is WRONG, not always
    * before it hurts" problem of guarding an unbounded fold with a
    * post-materialization raise (Graphs.linkPrediction's Adamic–Adar
    * evidence lists, r10): the buffer stops growing past `cap`
    * values while an exact count keeps counting, so a group that
    * would have built an arbitrarily large aggregation buffer
    * (two hub endpoints sharing 10M neighbors ⇒ ~320 MB under
    * collect_list) tops out at `cap` longs and the overflow is
    * detectable downstream — `finish` returns sorted-ascending
    * values when the group stayed within the cap, and an EMPTY
    * array on overflow (a real group always has >= 1 row, so empty
    * is unambiguous; callers pair it with a separate exact count()
    * column and an in-plan raise). Sorting at finish — not on
    * insert — keeps reduce O(1) amortized, and makes the output
    * deterministic under any partition/merge order: the value
    * MULTISET is merge-order-free, ascending order pins the
    * presentation, and a downstream float fold over equal values is
    * IEEE-identical regardless of their internal tie order.
    *
    * On overflow the partial buffers are dropped eagerly (`vs.clear`)
    * — an overflowing group frees its memory at the moment the cap
    * trips instead of shipping doomed values through the shuffle. */
  class CappedSortedLongs(cap: Long)
      extends Aggregator[Long, CappedSortedLongs.Buf, Array[Long]] {
    require(cap >= 1L, s"cap must be >= 1, got $cap")
    import CappedSortedLongs.Buf

    override def zero: Buf = new Buf

    override def reduce(b: Buf, v: Long): Buf = {
      b.n += 1
      if (b.n <= cap) b.vs += v
      else if (b.vs.nonEmpty) b.vs.clear()
      b
    }

    override def merge(a: Buf, b: Buf): Buf = {
      a.n += b.n
      if (a.n <= cap) a.vs ++= b.vs
      else if (a.vs.nonEmpty) a.vs.clear()
      a
    }

    override def finish(b: Buf): Array[Long] =
      if (b.n > cap) Array.empty else b.vs.toArray.sorted

    // the buffer is a mutated JVM object between updates
    // (ScalaAggregator is a TypedImperativeAggregate — the object
    // lives in the aggregation map and serializes only at partial
    // output / shuffle boundaries, so the encoder choice prices the
    // EXCHANGE, not the per-row path). Java serialization, NOT kryo:
    // kryo's FieldSerializer reflects into java.nio internals and
    // dies on JDK 17 module encapsulation (InaccessibleObjectException)
    // unless the JVM launched with --add-opens — true under sbt's
    // forked test JVM, false under a plain `java -cp` Verify/Bench
    // run, which is exactly where it exploded first.
    override def bufferEncoder: Encoder[Buf] =
      Encoders.javaSerialization[Buf]
    override def outputEncoder: Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
  }

  object CappedSortedLongs {
    class Buf extends Serializable {
      var n: Long = 0L
      val vs: scala.collection.mutable.ArrayBuffer[Long] =
        scala.collection.mutable.ArrayBuffer.empty[Long]
    }
  }
}
