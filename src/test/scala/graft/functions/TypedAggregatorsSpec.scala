package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.TypedAggregators._

class TypedAggregatorsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("TopKLongs per group == sort-based top-k") {
    import spark.implicits._
    val orders = spark.read
      .parquet(s"${TestSpark.sf0001}/orders.parquet")
      .select($"o_custkey".as[Long], $"o_orderkey".as[Long])
    val topk = new TopKLongs(3).toColumn
    val got = orders
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(topk.name("top"))
      .collect().toMap
    val expected = orders.collect().toSeq
      .groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.reverse.take(3).toSeq).toMap
    assert(got.size == expected.size)
    expected.foreach { case (k, v) =>
      assert(got(k).toSeq == v, s"custkey $k")
    }
  }

  test("TopKLongs buffer stays bounded and merge order doesn't matter") {
    val agg = new TopKLongs(4)
    val left = (1L to 100L).foldLeft(agg.zero)(agg.reduce)
    val right = (200L to 101L by -1).foldLeft(agg.zero)(agg.reduce)
    assert(left.length == 4 && right.length == 4)
    assert(agg.finish(agg.merge(left, right)).toSeq ==
      Seq(200L, 199L, 198L, 197L))
    assert(agg.finish(agg.merge(right, left)).toSeq ==
      Seq(200L, 199L, 198L, 197L))
  }
}
