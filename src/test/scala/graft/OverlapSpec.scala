package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{JobFailed, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.RabitqIndex

class OverlapSpec extends AnyFunSuite with BeforeAndAfterAll {

  // two cores: nested overlaps queue more jobs than there are task slots
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def description(props: java.util.Properties): String =
    Option(props).map(_.getProperty("spark.job.description")).orNull

  private def tags(props: java.util.Properties): Set[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)

  private val Marker = "listener drain marker"

  /** Run `body` with `l` attached. The listener bus is asynchronous but
    * FIFO, and the DAG scheduler posts a job's end before it handles the
    * next submission: once a marker job submitted after `body` is seen,
    * every job event of `body` has been delivered to `l`. */
  private def listening[A](l: SparkListener)(body: => A): A = {
    val sc = spark.sparkContext
    val drained = new CountDownLatch(1)
    val marker = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (description(e.properties) == Marker) drained.countDown()
    }
    sc.addSparkListener(l)
    sc.addSparkListener(marker)
    try body
    finally {
      Overlap.labelled(spark, Marker)(sc.parallelize(1 to 1, 1).count())
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus never drained")
      sc.removeSparkListener(marker)
      sc.removeSparkListener(l)
    }
  }

  private def sumJob(n: Long): Long =
    spark.range(0, n, 1, 2).selectExpr("sum(id)").head().getLong(0)

  test("a failing leg cancels its sibling's running job, waits for it, then rethrows") {
    val sc = spark.sparkContext
    val slowStarted = new CountDownLatch(1)
    val slowEnds = new ConcurrentLinkedQueue[SparkListenerJobEnd]()
    val slowIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (description(e.properties) == "slow leg") {
          slowIds.add(e.jobId); slowStarted.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (slowIds.contains(e.jobId)) slowEnds.add(e)
    }
    val slowLegDone = new AtomicBoolean(false)
    val boom = new IllegalStateException("boom")
    listening(listener) {
      val err = intercept[IllegalStateException] {
        Overlap(spark,
          try Overlap.labelled(spark, "slow leg") {
            // runs 60 s unless its task is killed by the cancellation
            sc.parallelize(1 to 2, 2).map { i =>
              val ctx = TaskContext.get()
              val until = System.currentTimeMillis() + 60000L
              while (!ctx.isInterrupted() && System.currentTimeMillis() < until)
                Thread.sleep(10)
              i
            }.count()
          } finally slowLegDone.set(true),
          {
            assert(slowStarted.await(60, TimeUnit.SECONDS), "slow job never started")
            throw boom
          })
      }
      assert(err eq boom, s"rethrew $err, not the first failure")
      // the call returned only once the sibling leg (and so its job) settled
      assert(slowLegDone.get)
    }
    assert(slowEnds.size == 1)
    slowEnds.peek().jobResult match {
      case JobFailed(e) => assert(e.getMessage.contains("cancel"), e.getMessage)
      case r => fail(s"slow job was not cancelled: $r")
    }
  }

  test("a 2-leg overlap of 3-leg overlaps completes on two cores") {
    // the q99 shape: each outer leg fans out again, from a non-caller thread
    def inner(base: Long) = Overlap(spark, sumJob(base), sumJob(base + 1), sumJob(base + 2))
    val (a, b) = Overlap(spark, inner(10), inner(20))
    def s(n: Long) = n * (n - 1) / 2
    assert(a == (s(10), s(11), s(12)) && b == (s(20), s(21), s(22)))
  }

  test("every leg's jobs carry the caller's current label under one call tag") {
    val sc = spark.sparkContext
    val starts = new ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.add(e.properties)
    }
    try {
      sc.setJobDescription("earlier call")
      Overlap(spark, sumJob(4), sumJob(5))
      sc.setJobDescription("current call")
      listening(listener)(Overlap(spark, sumJob(6), sumJob(7), sumJob(8)))
    } finally sc.setJobDescription(null)
    val props = starts.asScala.toSeq.filterNot(p => description(p) == Marker)
    assert(props.size >= 3)
    assert(props.map(description).toSet == Set("current call"))
    val callTags = props.map(tags(_).filter(_.startsWith("graft-overlap-")))
    assert(callTags.forall(_.size == 1) && callTags.toSet.size == 1, callTags)
  }

  test("RabitqIndex.save restores the caller's job description") {
    import spark.implicits._
    val base = (0 until 20).map(i => (i.toLong, Array.tabulate(4)(d => ((i * 7 + d) % 5).toFloat)))
      .toDF("vec_id", "embedding")
    val (model, index) = RabitqIndex.buildWithCentroids(spark, base,
      Array(Array(0f, 0f, 0f, 0f), Array(4f, 4f, 4f, 4f)), seed = 1L)
    val dir = java.nio.file.Files.createTempDirectory("overlap_save").toString
    val sc = spark.sparkContext
    try {
      sc.setJobDescription("caller label")
      RabitqIndex.save(spark, model, index, dir)
      assert(sc.getLocalProperty("spark.job.description") == "caller label")
    } finally {
      sc.setJobDescription(null)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
