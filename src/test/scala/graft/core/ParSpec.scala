package graft.core

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkException, TaskContext}
import org.apache.spark.scheduler.{JobFailed, JobResult, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[Par.overlap]]'s contract: a failing side cancels the other
  * side's running jobs and surfaces its own exception; the leg runs
  * under the caller's job group; the caller's job tags survive the
  * call; and no other thread pool exists in main. */
class ParSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val sc = spark.sparkContext

  /** Job tags, job group, end result and end time of every job seen. */
  private class Jobs extends SparkListener {
    val tags = new ConcurrentHashMap[Int, Set[String]]()
    val groups = new ConcurrentHashMap[Int, String]()
    val ends = new ConcurrentHashMap[Int, (JobResult, Long)]()
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      def prop(key: String) =
        Option(j.properties).flatMap(p => Option(p.getProperty(key)))
      groups.put(j.jobId, prop("spark.jobGroup.id").getOrElse(""))
      tags.put(j.jobId, prop("spark.job.tags")
        .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      ends.put(j.jobId, (j.jobResult, j.time))
    def withTag(tag: String): Seq[Int] =
      tags.asScala.collect { case (id, ts) if ts(tag) => id }.toSeq
    def waitUntil(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!cond && System.nanoTime() < deadline) Thread.sleep(10)
      assert(cond, "listener never saw the expected job events")
    }
  }

  private def withJobs[T](body: Jobs => T): T = {
    val jobs = new Jobs
    sc.addSparkListener(jobs)
    try body(jobs) finally sc.removeSparkListener(jobs)
  }

  /** A job of `tasks` tasks that each run up to `seconds`, polling
    * for a kill so a cancelled job frees its cores at once. */
  private def slowJob(tasks: Int, seconds: Double): Long =
    sc.parallelize(0 until tasks, tasks).map { i =>
      val tc = TaskContext.get()
      val end = System.nanoTime() + (seconds * 1e9).toLong
      while (System.nanoTime() < end && !tc.isInterrupted()) Thread.sleep(10)
      i.toLong
    }.count()

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  test("a failing leg cancels main's running job and surfaces its own exception") {
    withJobs { jobs =>
      val before = sc.getJobTags()
      @volatile var callTag = ""
      val t0 = System.nanoTime()
      val err = intercept[IllegalStateException] {
        Par.overlap[Long, Unit] {
          // fail once main's job is running
          jobs.waitUntil(callTag.nonEmpty && jobs.withTag(callTag).nonEmpty)
          throw new IllegalStateException("leg failed")
        } {
          callTag = (sc.getJobTags() -- before).head
          slowJob(2, 20.0)
        }
      }
      val took = secondsSince(t0)
      assert(err.getMessage == "leg failed")
      assert(err.getSuppressed.toSeq.exists(_.isInstanceOf[SparkException]),
        "main's cancelled job should ride along as a suppressed failure")
      assert(took < 10.0, f"call took $took%.1f s: main's job was not cancelled")
      val mainJobs = jobs.withTag(callTag)
      jobs.waitUntil(mainJobs.forall(jobs.ends.containsKey))
      assert(mainJobs.forall(id => jobs.ends.get(id)._1.isInstanceOf[JobFailed]))
    }
  }

  test("a failing main cancels the leg's running job before the rethrow") {
    withJobs { jobs =>
      val before = sc.getJobTags()
      @volatile var callTag = ""
      val t0 = System.nanoTime()
      val err = intercept[IllegalArgumentException] {
        Par.overlap[Unit, Long](slowJob(2, 20.0)) {
          callTag = (sc.getJobTags() -- before).head
          // fail once the leg's job is running
          jobs.waitUntil(jobs.withTag(callTag).nonEmpty)
          throw new IllegalArgumentException("main failed")
        }
      }
      val returned = System.currentTimeMillis()
      val took = secondsSince(t0)
      assert(err.getMessage == "main failed")
      assert(err.getSuppressed.toSeq.exists(_.isInstanceOf[SparkException]))
      assert(took < 10.0, f"call took $took%.1f s: the leg's job was not cancelled")
      val legJobs = jobs.withTag(callTag)
      jobs.waitUntil(legJobs.forall(jobs.ends.containsKey))
      legJobs.foreach { id =>
        val (result, endedAt) = jobs.ends.get(id)
        assert(result.isInstanceOf[JobFailed], s"leg job $id was not cancelled")
        // the scheduler stamps the end just after it wakes the job's
        // waiter, so allow a second; an uncancelled job ends 20 s late
        assert(endedAt <= returned + 1000, s"leg job $id outlived the call")
      }
    }
  }

  test("the leg runs under the caller's job group; the caller's tags are unchanged") {
    withJobs { jobs =>
      sc.setJobGroup("graft-par-spec", "ParSpec caller group")
      sc.addJobTag("graft-par-spec-caller")
      try {
        val before = sc.getJobTags()
        @volatile var legTags = Set.empty[String]
        val (m, l) = Par.overlap {
          legTags = sc.getJobTags()
          (sc.getLocalProperty("spark.jobGroup.id"),
            sc.parallelize(1 to 4, 2).count())
        } { "main" }
        assert(m == "main" && l == ("graft-par-spec", 4L))
        assert(sc.getJobTags() == before)
        val callTags = legTags -- before
        assert(callTags.size == 1 && before.subsetOf(legTags))
        val legJobs = jobs.withTag(callTags.head)
        assert(legJobs.nonEmpty)
        assert(legJobs.forall(id => jobs.groups.get(id) == "graft-par-spec"))
        assert(legJobs.forall(id => jobs.tags.get(id).contains("graft-par-spec-caller")))
      } finally {
        sc.removeJobTag("graft-par-spec-caller")
        sc.clearJobGroup()
      }
    }
  }

  test("no thread pool or raw thread in main outside Par") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root, not ${new java.io.File(".").getAbsolutePath}")
    val files = java.nio.file.Files.walk(root.toPath).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(java.nio.file.Paths.get("graft", "core", "Par.scala")))
      .toSeq
    assert(files.size > 50)
    val hits = for {
      f <- files
      (line, n) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if Seq("Executors.", "newFixedThreadPool", "new Thread(").exists(line.contains)
    } yield s"$f:${n + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
