package graftbench

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  test("the listener attributes jobs and tasks to the span whose job group submitted them") {
    val spark = SparkSession.builder().master("local[2]").appName("TraceSpec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val sc = spark.sparkContext
      val listener = new StageListener
      sc.addSparkListener(listener)
      val spans = new Spans(sc, enabled = true)
      sc.parallelize(1 to 10, 2).count() // outside every span
      spans("outer") {
        sc.parallelize(1 to 10, 3).count()
        spans("inner") {
          sc.parallelize(1 to 10, 4).map(i => (i % 3, i)).reduceByKey(_ + _).count()
          sc.parallelize(1 to 10, 5).count()
        }
      }
      BenchBus.drain(sc)
      val Seq(inner, outer) = spans.all
      assert(inner.name == "inner" && inner.parent == outer.id && outer.parent == 0)
      val own = listener.totalsIn(Set(outer.group))
      assert(own.jobs == 1 && own.tasks == 3)
      val in = listener.totalsIn(spans.groupsUnder(inner))
      assert(in.jobs == 2 && in.tasks == 4 + 4 + 5) // map, reduce, count
      assert(in.shuffleRecords > 0 && in.mapExecS >= 0 && in.resultTaskS.size == 9)
      val all = listener.totalsIn(spans.groupsUnder(outer))
      assert(all.jobs == 3 && all.tasks == 3 + 13)
      assert(listener.totalsDuring(outer).jobs == 3)
      assert(listener.jobsWhere(_ => true).size == 4)
    } finally spark.stop()
  }

  test("a listener attached around one unit sees only that unit's jobs") {
    val spark = SparkSession.builder().master("local[2]").appName("TraceSpec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val sc = spark.sparkContext
      val listener = new StageListener
      sc.parallelize(1 to 10, 2).count()
      sc.addSparkListener(listener)
      sc.parallelize(1 to 10, 3).count()
      BenchBus.drain(sc)
      sc.removeSparkListener(listener)
      sc.parallelize(1 to 10, 4).count()
      BenchBus.drain(sc)
      val seen = listener.jobsWhere(_ => true)
      assert(seen.size == 1 && listener.totals(seen).tasks == 3)
    } finally spark.stop()
  }

  test("disabled spans record nothing and leave the job group alone") {
    val spark = SparkSession.builder().master("local[1]").appName("TraceSpec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val spans = new Spans(spark.sparkContext, enabled = false)
      assert(spans("x")(41 + 1) == 42)
      assert(spans.all.isEmpty)
      assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null)
    } finally spark.stop()
  }
}
