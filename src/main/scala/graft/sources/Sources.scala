package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink façade (SURVEY §2.2 "Scans/sources" / "Sinks"). The
  * reference reads exactly one format — `\r\n`-line local text files
  * via byte-range splits (`MapReduceUtil.cpp:139-166`,
  * `LineRecordReader.h:96-119`) — and writes `key value` text
  * (`TinyMapReduce.text` is the reference-native source). Spark
  * provides the columnar formats directly; this object holds what
  * adds a contract on top: declared-schema text formats and
  * schema-evolved parquet reads.
  */
object Sources {

  /** CSV with explicit schema (never infer on a 100 TB input — schema
    * inference is an extra full scan). */
  def csv(
      spark: SparkSession,
      path: String,
      schema: StructType,
      header: Boolean = true,
      delimiter: String = ","): DataFrame =
    spark.read
      .schema(schema)
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .csv(path)

  /** JSON-lines with explicit schema (same inference caveat). */
  def jsonLines(
      spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode("overwrite").option("header", header.toString).csv(path)

  /** JSON-lines sink — the interchange format crawl/annotation
    * pipelines actually exchange; one JSON object per line, so the
    * files split on line boundaries exactly like the reference's
    * text inputs. */
  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Align a frame to a target schema — the schema-evolution read
    * contract: columns MISSING from the data surface as typed NULLs,
    * present columns are cast to the target type, extra columns are
    * dropped, order is the target's. Pure projection (no shuffle).
    * Cast DIRECTION is validated HERE, eagerly: a present column must
    * either match the target type or upcast losslessly
    * (`Cast.canUpCast` — the int→long / float→double widenings schema
    * evolution actually produces). Anything lossy or value-dependent
    * (long→int, string→long) throws immediately with the column
    * named — such casts would otherwise truncate or null INVALID
    * VALUES at runtime depending on `spark.sql.ansi.enabled`, neither
    * of which a schema-evolution read may do silently. A caller that
    * genuinely wants a lossy cast should spell it out with
    * `select(col.cast(...))` where reviewers can see it. */
  def alignTo(
      df: DataFrame,
      target: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.catalyst.expressions.Cast
    val srcTypes = df.schema.fields.map(f => f.name -> f.dataType).toMap
    target.fields.foreach { f =>
      srcTypes.get(f.name).foreach { src =>
        require(src == f.dataType || Cast.canUpCast(src, f.dataType),
          s"alignTo: column '${f.name}' is $src in the data but " +
            s"${f.dataType} in the target — not a lossless upcast. " +
            "Declare the wider type in the target, or make the lossy " +
            "cast explicit in a select outside the evolved read.")
      }
    }
    val present = df.columns.toSet
    df.select(target.fields.toSeq.map { f =>
      if (present.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Parquet scan across FILE GENERATIONS with evolved schemas — the
    * "this corpus was written over two years and the columns grew"
    * read: `mergeSchema` unions every footer's schema (a one-time
    * footer pass, not a data pass), then [[alignTo]] pins the result
    * to the caller's target so downstream code sees ONE stable
    * schema regardless of which generation a row came from. At scale
    * prefer declaring the target schema over pure mergeSchema — the
    * footer union is O(files) on the driver and a target makes the
    * read self-documenting; this helper does both. */
  def parquetEvolved(
      spark: SparkSession,
      path: String,
      target: org.apache.spark.sql.types.StructType): DataFrame =
    alignTo(spark.read.option("mergeSchema", "true").parquet(path), target)
}
