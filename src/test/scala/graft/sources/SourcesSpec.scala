package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("score", DoubleType)))

  test("csv round-trip with explicit schema") {
    val dir = Files.createTempDirectory("graft-src").toString
    import spark.implicits._
    val df = Seq((1L, "a", 0.5), (2L, "b", 1.5)).toDF("id", "name", "score")
    Sources.writeCsv(df, s"$dir/csv")
    val back = Sources.csv(spark, s"$dir/csv", schema)
    assert(back.schema == schema)
    assert(back.orderBy("id").collect().map(_.toSeq).toSeq ==
      df.orderBy("id").collect().map(_.toSeq).toSeq)
  }

  test("json-lines round-trip with explicit schema") {
    val dir = Files.createTempDirectory("graft-src-json").toString
    import spark.implicits._
    val df = Seq((1L, "x", 2.0)).toDF("id", "name", "score")
    df.write.json(s"$dir/json")
    val back = Sources.jsonLines(spark, s"$dir/json", schema)
      .select("id", "name", "score")
    assert(back.collect().map(_.toSeq).toSeq == df.collect().map(_.toSeq).toSeq)
  }

  test("parquet schema evolution: mergeSchema unifies old and new batches") {
    // the 100 TB reality: a long-lived dataset grows columns across
    // ingestion batches; readers must see the union schema with nulls
    // where old files predate a column
    val dir = Files.createTempDirectory("graft-src-evo").toString
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.parquet(s"$dir/t/batch=1")
    Seq((3L, "c", 0.5), (4L, "d", 0.7)).toDF("id", "name", "quality")
      .write.parquet(s"$dir/t/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$dir/t")
    assert(merged.columns.toSet == Set("id", "name", "quality", "batch"))
    val rows = merged.orderBy("id")
      .select("id", "quality")
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(rows.toSeq == Seq(
      1L -> None, 2L -> None, 3L -> Some(0.5), 4L -> Some(0.7)))
    // column pruning still reaches the scan through the merged schema
    val plan = merged.select("id").queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<id:bigint>"), plan.take(800))

    // parquetEvolved pins ONE stable schema: declared target with a
    // column no generation has (typed NULL), extra partition-discovery
    // column dropped, order the target's
    import org.apache.spark.sql.types._
    val target = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("quality", DoubleType),
      StructField("lang", StringType)))
    val evolved = Sources.parquetEvolved(spark, s"$dir/t", target)
    assert(evolved.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      target.fields.map(f => (f.name, f.dataType)).toSeq)
    val er = evolved.orderBy("id")
      .as[(Long, String, Option[Double], Option[String])].collect().toSeq
    assert(er == Seq(
      (1L, "a", None, None), (2L, "b", None, None),
      (3L, "c", Some(0.5), None), (4L, "d", Some(0.7), None)))
    // alignTo casts present columns to the target type
    val cast = Sources.alignTo(
      Seq((1, "x")).toDF("id", "name"),
      StructType(Seq(StructField("id", LongType),
        StructField("name", StringType))))
    assert(cast.schema("id").dataType == LongType)

    // ... but ONLY lossless upcasts: a lossy (long->int) or
    // value-dependent (string->long) direction fails eagerly with the
    // column named — at runtime those would truncate or null invalid
    // values depending on ANSI mode, which an evolved read must never
    // do silently
    val lossy = intercept[IllegalArgumentException] {
      Sources.alignTo(Seq((1L, "x")).toDF("id", "name"),
        StructType(Seq(StructField("id", IntegerType),
          StructField("name", StringType))))
    }
    assert(lossy.getMessage.contains("'id'"))
    val parsing = intercept[IllegalArgumentException] {
      Sources.alignTo(Seq((1L, "x")).toDF("id", "name"),
        StructType(Seq(StructField("id", LongType),
          StructField("name", LongType))))
    }
    assert(parsing.getMessage.contains("'name'"))
  }
}
