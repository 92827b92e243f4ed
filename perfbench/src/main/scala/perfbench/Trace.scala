package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** One call the benchmark made into a layer. `name` is `Layer.call`;
  * `op` groups the spans of one request or operation; `parent` is the span
  * that caused it (0 for a root).
  */
final case class Span(id: Int, parent: Int, name: String, op: String,
                      startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans are recorded only around the calls the
  * benchmark itself makes into a layer; nothing inside the engine is
  * instrumented. Disabled, `span` runs its body and records nothing.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicInteger(0)
  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)
  // one clock pair, so span times convert to the wall clock that Spark
  // listener events carry
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis()

  def wallMs(ns: Long): Double = ms0 + (ns - nano0) / 1e6

  /** The innermost open span of this thread (0 outside any span). */
  def current: Int = open.get().headOption.getOrElse(0)

  /** Record `body` as a span. `parent` overrides the thread's innermost
    * open span, for work handed to another thread.
    */
  def span[T](name: String, op: String = "", parent: Int = -1)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.incrementAndGet()
      val stack = open.get()
      val p = if (parent >= 0) parent else stack.headOption.getOrElse(0)
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, p, name, op, t0, System.nanoTime()))
        open.set(stack)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
}

object Tracer {

  /** Length of the union of intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus the part of its interval
    * that its direct children cover.
    */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionNs(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** Host noise at a phase boundary: cumulative hypervisor CPU steal and the
  * 1-minute load average, read from procfs (absent elsewhere: -1).
  */
final case class HostSample(phase: String, tS: Double, stealJiffies: Long, load1: Double)

object Host {
  private def read(path: String): Option[String] =
    try Some(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))))
    catch { case _: java.io.IOException => None }

  /** Cumulative CPU steal of all CPUs in jiffies (-1 without procfs). The
    * "cpu" line of /proc/stat: user nice system idle iowait irq softirq steal.
    */
  def steal(): Long = read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu ")))
    .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong).getOrElse(-1L)

  /** Wait, up to `maxWaitS`, until the host lets this VM run: each probe
    * keeps every CPU busy for half a second and passes when at most 10 %
    * of that time was stolen (steal only accrues while a CPU wants to run,
    * so an idle probe would see none). Steal on a shared host comes in
    * bursts of tens of seconds; a figure measured inside one says more
    * about the neighbours than about the engine. Returns seconds waited.
    */
  def awaitQuiet(maxWaitS: Double): Double = {
    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors()
    def probe(): Long = {
      val s0 = steal()
      val end = System.nanoTime() + 500000000L
      val burners = (0 until cpus).map { _ =>
        val t = new Thread(() => { var x = 0L; while (System.nanoTime() < end) x += 1 })
        t.start(); t
      }
      burners.foreach(_.join())
      steal() - s0
    }
    // jiffies are 1/100 s per CPU: half a second on every CPU is 50 * cpus
    while (probe() > 5L * cpus && (System.nanoTime() - t0) / 1e9 < maxWaitS) ()
    (System.nanoTime() - t0) / 1e9
  }

  def load1(): Double =
    read("/proc/loadavg").map(_.trim.split("\\s+")(0).toDouble).getOrElse(-1.0)
}

final class HostLog(t0Ns: Long) {
  private val samples = new ConcurrentLinkedQueue[HostSample]()

  def mark(phase: String): Unit =
    samples.add(HostSample(phase, (System.nanoTime() - t0Ns) / 1e9, Host.steal(), Host.load1()))

  /** Samples in run order. */
  def all: Seq[HostSample] = samples.asScala.toSeq

  /** Steal over the run in ms (procfs counts in 1/100 s). */
  def stealMs: Double = {
    val s = all.map(_.stealJiffies).filter(_ >= 0)
    if (s.size < 2) 0.0 else (s.last - s.head) * 10.0
  }

  def loadMax: Double = if (all.isEmpty) 0.0 else all.map(_.load1).max
}
