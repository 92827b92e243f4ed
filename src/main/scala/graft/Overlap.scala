package graft

import java.util.concurrent.TimeoutException
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Driver-side overlap of independent legs (guide §2.6): a listing
  * write beside a sizes pass, an ops-file write beside a layout op, a query's
  * independent gate legs — chains of small jobs whose cost is per-job
  * latency, not compute, so submitting them from several threads lets
  * the scheduler interleave their stages.
  *
  *   - The LAST leg runs on the caller's thread, the others on fresh
  *     daemon threads (no fixed-size pool), so nesting cannot deadlock.
  *   - Each leg inherits the caller's local properties (job description,
  *     group) at the call and carries one job tag per call; a pooled
  *     thread would keep the label it was created under.
  *   - When a leg fails its siblings' jobs are cancelled by that tag.
  *   - ALL legs settle before the first failure (in time) rethrows: a
  *     detached leg still writing into a LIVE dir must never outlive
  *     the call, or a caller that retries could race its own zombie write.
  *   - The wait is bounded (30 min): a write hung on a flaky object store
  *     fails the op loudly instead of wedging maintenance while the lease
  *     breaker hands the layout to a second mutator. The hung leg's jobs
  *     are cancelled but its driver code cannot be, so the timeout means
  *     the op must be treated as crashed, like a process kill at the same
  *     point (every caller's crash protocol already covers that).
  *     Query-gate legs share the limit: it only fires on a leg that is
  *     already hung, and a gate leg runs for seconds.
  */
object Overlap {

  private val Limit = 30L * 60 * 1000 // ms
  private val Description = "spark.job.description"
  private val calls = new AtomicLong(0)

  def apply[A, B](spark: SparkSession, fa: => A, fb: => B): (A, B) = {
    val Seq(a, b) = run(spark.sparkContext, Seq(() => fa, () => fb))
    (a.asInstanceOf[A], b.asInstanceOf[B])
  }

  def apply[A, B, C](spark: SparkSession, fa: => A, fb: => B, fc: => C): (A, B, C) = {
    val Seq(a, b, c) = run(spark.sparkContext, Seq(() => fa, () => fb, () => fc))
    (a.asInstanceOf[A], b.asInstanceOf[B], c.asInstanceOf[C])
  }

  /** Run `body` under job description `label`, then restore the caller's
    * description (or none): an entry point's label must not stick to
    * every later job the calling thread submits. The body may relabel
    * its own phases; the caller's label still comes back on exit.
    */
  def labelled[A](spark: SparkSession, label: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Description)
    sc.setJobDescription(label)
    try body
    finally sc.setJobDescription(prev)
  }

  private def run(sc: SparkContext, legs: Seq[() => Any]): Seq[Any] = {
    val tag = s"graft-overlap-${calls.incrementAndGet()}"
    val results = new Array[Any](legs.length)
    val firstError = new AtomicReference[Throwable]()
    def cancel(): Unit = sc.cancelJobsWithTag(tag, "a sibling overlap leg failed")
    def leg(i: Int): Unit = {
      sc.addJobTag(tag)
      try results(i) = legs(i)()
      catch {
        case e: Throwable =>
          if (firstError.compareAndSet(null, e)) cancel()
      } finally sc.removeJobTag(tag)
    }
    // threads inherit the caller's Spark local properties at construction
    val threads = legs.indices.init.map { i =>
      val t = new Thread(() => leg(i), s"$tag-leg$i")
      t.setDaemon(true)
      t.start()
      t
    }
    leg(legs.length - 1)
    val deadline = System.currentTimeMillis() + Limit
    try threads.foreach { t =>
      // a leg that starts a job after the failing leg's cancel would run
      // it to the end — keep cancelling until every leg has settled
      while (t.isAlive && System.currentTimeMillis() < deadline) {
        t.join(math.min(100L, math.max(1L, deadline - System.currentTimeMillis())))
        if (firstError.get != null) cancel()
      }
    } catch {
      case e: InterruptedException =>
        sc.cancelJobsWithTag(tag, "overlap caller interrupted")
        throw e
    }
    if (threads.exists(_.isAlive)) {
      sc.cancelJobsWithTag(tag, "overlap timed out")
      throw new TimeoutException(s"$tag: legs still running after ${Limit / 1000} s")
    }
    Option(firstError.get).foreach(e => throw e)
    results.toSeq
  }
}
