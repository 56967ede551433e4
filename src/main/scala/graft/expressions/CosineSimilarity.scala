package graft.expressions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.SparkSession

/** Native Catalyst expression for cosine similarity over two
  * `array<float>` columns — the top rung of the extension ladder
  * (native `Expression` with `doGenCode` > Scala UDF > anything else):
  * the generated code is a primitive loop over `ArrayData.getFloat`,
  * inlined into whole-stage codegen with no UDF dispatch, no
  * ArrayData→Seq conversion, no boxing.
  *
  * Math contract matches [[graft.operators.Kernels.cosine]]: float →
  * double casts, strictly left-to-right accumulation, 0.0 for zero
  * vectors — bitwise identical to the DuckDB oracle's sequential
  * list-sum (element nulls read as 0f; inputs are expected non-null
  * element arrays).
  *
  * SQL name: `graft_cosine(a, b)` — registered per-session via
  * [[GraftFunctions.register]].
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cosine expects two array<float> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.compute(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val d = ctx.freshName("d")
      s"""
        |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  double $x = (double) $a.getFloat($i);
        |  double $y = (double) $b.getFloat($i);
        |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
        |}
        |double $d = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
        |${ev.value} = ($d == 0.0) ? 0.0 : $dot / $d;
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Interpreted fallback (non-codegen paths); same math as the
    * generated loop. */
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }
}

/** Per-session registration of graft's native functions. */
object GraftFunctions {
  val CosineIdent: FunctionIdentifier = FunctionIdentifier("graft_cosine")
  val Int8CosineIdent: FunctionIdentifier = FunctionIdentifier("graft_int8_cosine")

  private val cosineInfo = new ExpressionInfo(
    classOf[CosineSimilarity].getName, "graft_cosine")

  private[expressions] val cosineBuilder: Seq[Expression] => Expression = {
    children =>
      require(children.length == 2, "graft_cosine takes exactly 2 arguments")
      CosineSimilarity(children.head, children(1))
  }

  private[expressions] val int8CosineBuilder: Seq[Expression] => Expression = {
    children =>
      require(children.length == 2, "graft_int8_cosine takes exactly 2 arguments")
      Int8Cosine(children.head, children(1))
  }

  val NfcIdent: FunctionIdentifier = FunctionIdentifier("graft_nfc")

  private[expressions] val nfcBuilder: Seq[Expression] => Expression = {
    children =>
      require(children.length == 1, "graft_nfc takes exactly 1 argument")
      NfcNormalize(children.head)
  }

  /** Idempotent; safe to call from any operator that has a session. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(CosineIdent)) {
      reg.registerFunction(CosineIdent, cosineInfo, cosineBuilder)
    }
    if (!reg.functionExists(NfcIdent)) {
      reg.registerFunction(NfcIdent,
        new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
        nfcBuilder)
    }
  }

  /** The full named-function surface — the analog of the reference's
    * RPC function registry (register a function by name, call it by
    * name from any client): the native codegen'd cosine plus the
    * kernel-backed helpers, all callable from SQL text. UDF
    * registration replaces idempotently. */
  def registerAll(spark: SparkSession): Unit = {
    register(spark)
    import graft.operators.Kernels
    spark.udf.register("graft_jaccard",
      (a: scala.collection.Seq[String], b: scala.collection.Seq[String]) =>
        if (a == null || b == null) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(Kernels.jaccard(a, b)))
    spark.udf.register("graft_simhash64",
      (toks: scala.collection.Seq[String]) =>
        if (toks == null) null.asInstanceOf[java.lang.Long]
        else java.lang.Long.valueOf(Kernels.simHash64(toks)))
    spark.udf.register("graft_word_ngrams",
      (t: String, n: Int) =>
        if (t == null) Array.empty[String] else Kernels.wordNgrams(t, n))
    // native codegen expression (was a UDF) — same name, same
    // semantics, no per-row Seq conversion
    val int8Reg = spark.sessionState.functionRegistry
    if (!int8Reg.functionExists(Int8CosineIdent)) {
      int8Reg.registerFunction(Int8CosineIdent,
        new ExpressionInfo(classOf[Int8Cosine].getName, "graft_int8_cosine"),
        int8CosineBuilder)
    }
    spark.udf.register("graft_md5_lower64",
      (s: String) =>
        if (s == null) null.asInstanceOf[java.lang.Long]
        else java.lang.Long.valueOf(Kernels.md5Lower64(s)))
    // round-4 kernels: positional gram fingerprints (substring-level
    // dedup) and overlapping chunk windows (retrieval indexing), so a
    // SQL-text client can run both pipelines without the Scala API
    spark.udf.register("graft_gram_md5s",
      (t: String, n: Int) =>
        if (t == null) Array.empty[Long] else Kernels.gramMd5Positions(t, n))
    spark.udf.register("graft_chunks",
      (t: String, chunkSize: Int, stride: Int) =>
        if (t == null) Array.empty[Kernels.Chunk]
        else Kernels.chunkOverlap(t, chunkSize, stride))
  }
}
