package graft.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Mutable bounded top-k buffer: parallel primitive arrays kept sorted
  * best→worst by (score DESC, id ASC), capped at k. Insertion is an
  * O(k) arraycopy with NO allocation — the per-row cost that matters
  * when millions of candidates stream through one group. */
final class TopKBuffer(val k: Int) {
  val scores = new Array[Double](k)
  val ids = new Array[Long](k)
  var size: Int = 0

  @inline private def beats(s: Double, id: Long, i: Int): Boolean =
    s > scores(i) || (s == scores(i) && id < ids(i))

  def insert(s: Double, id: Long): Unit = {
    if (size >= k && !beats(s, id, size - 1)) return
    // binary search for the insertion point in the sorted run
    var lo = 0; var hi = size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (beats(s, id, mid)) hi = mid else lo = mid + 1
    }
    val insertAt = lo
    val newSize = math.min(size + 1, k)
    val toMove = newSize - insertAt - 1
    if (toMove > 0) {
      System.arraycopy(scores, insertAt, scores, insertAt + 1, toMove)
      System.arraycopy(ids, insertAt, ids, insertAt + 1, toMove)
    }
    scores(insertAt) = s
    ids(insertAt) = id
    size = newSize
  }

  def mergeFrom(other: TopKBuffer): Unit = {
    var i = 0
    while (i < other.size) { insert(other.scores(i), other.ids(i)); i += 1 }
  }
}

/** Native bounded top-k aggregate — per-group top-k (score DESC, id
  * ASC) as a Catalyst `TypedImperativeAggregate`, which is what
  * removes a typed Aggregator's per-row object-encoding fence: inputs
  * are read straight off `InternalRow`s (two primitive evals per row), the
  * buffer is primitive arrays, and serialization happens once per
  * GROUP per exchange, not once per row. Measured on the sf0.1 ANN
  * queries this is the difference between the aggregator path being
  * 2x slower and 2x faster than a window row_number over the scores.
  *
  * Output: array<struct<cos double, nn_id bigint>> sorted best→worst;
  * callers posexplode to ranked rows. Null scores/ids are skipped
  * (a null candidate cannot rank). */
case class TopKScoredAgg(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] with ImplicitCastInputTypes {

  require(k > 0, "k must be positive")

  override def children: Seq[Expression] = Seq(score, id)
  // analyzer-coerced input types: a float score or int id is cast up
  // front instead of ClassCastException-ing inside update(). (No type
  // annotation: AbstractDataType is private[sql]; Seq[DataType]
  // conforms covariantly.)
  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("cos", DoubleType, nullable = false),
      StructField("nn_id", LongType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null) {
      buf.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    buf.mergeFrom(other)
    buf
  }

  override def eval(buf: TopKBuffer): Any = {
    val out = new Array[Any](buf.size)
    var i = 0
    while (i < buf.size) {
      out(i) = InternalRow(buf.scores(i), buf.ids(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + buf.size * 16)
    bb.putInt(buf.k).putInt(buf.size)
    var i = 0
    while (i < buf.size) {
      bb.putDouble(buf.scores(i)).putLong(buf.ids(i))
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new TopKBuffer(bb.getInt())
    val n = bb.getInt()
    var i = 0
    while (i < n) {
      buf.scores(i) = bb.getDouble()
      buf.ids(i) = bb.getLong()
      i += 1
    }
    buf.size = n
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKScoredAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKScoredAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKScoredAgg =
    copy(score = newChildren(0), id = newChildren(1))
  override def prettyName: String = "graft_topk_scored"
}
