package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the session, the tracer and listener tap
  * (traced runs only), the host log, the checks and the metrics.
  */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
                val seconds: Double, val traced: Boolean, val tiny: Boolean,
                val work: String, val t0Ns: Long) {
  val tracer = new Tracer(traced)
  val host = new HostLog(t0Ns)
  val tap: Option[SparkTap] = if (traced) Some(new SparkTap(spark)) else None
  val cpus: Int = spark.sparkContext.defaultParallelism

  var attempted = 0L
  var failed = 0L
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  /** Timed operations (name, start, end in ns), for listener attribution. */
  val ops = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private var firstTimedNs = 0L

  def jvmStartNs: Long = {
    val upMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime
    System.nanoTime() - upMs * 1000000L
  }
  private val processStartNs = jvmStartNs

  /** Process start to the first timed operation. */
  def setupS: Double = (firstTimedNs - processStartNs) / 1e9

  /** A timed operation: a span, a host sample and a listener window.
    * Returns the result and the wall seconds.
    */
  def timed[T](name: String)(body: => T): (T, Double) = {
    if (firstTimedNs == 0L) { host.mark("setup-end"); firstTimedNs = System.nanoTime() }
    val t0 = System.nanoTime()
    val r = tracer.span(name, name)(body)
    val t1 = System.nanoTime()
    ops += ((name, t0, t1))
    host.mark(name)
    (r, (t1 - t0) / 1e9)
  }

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    checks += ((name, ok, detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
  }

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Listener stats of every timed operation whose name passes `sel`. */
  def opStats(sel: String => Boolean): Seq[OpStats] = tap.toSeq.flatMap { t =>
    ops.toSeq.filter(o => sel(o._1)).map { case (n, s, e) =>
      t.opStats(n, tracer.wallMs(s), tracer.wallMs(e))
    }
  }
}

/** The benchmark main: one workload per run, seeded, measured for a fixed
  * time, checked, and summarised on one JSON line.
  *
  *   --workload serve-gist|lifecycle --seed N --seconds S
  *   --trace 0|1 [--size full|tiny] --work DIR --artifact FILE
  */
object Main {
  val workloads: Map[String, Ctx => Unit] = Map(
    "serve-gist" -> ServeGist.run,
    "lifecycle" -> Lifecycle.run)

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val run = workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload '$workload'"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val tiny = opts.get("size").contains("tiny")
    val work = new java.io.File(opt("work")).getAbsolutePath
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, workload, seed, seconds, traced, tiny, work, t0)
    ctx.host.mark("session-up")
    var error: Option[Throwable] = None
    try run(ctx)
    catch { case e: Throwable => error = Some(e); e.printStackTrace() }
    finally {
      // stop every stream and deliver every listener event before the
      // result is printed, so nothing the engine logs can follow it
      spark.streams.active.foreach(_.stop())
      ctx.tap.foreach { t => t.drain(); t.close() }
      ctx.host.mark("end")
    }
    error.foreach(e => ctx.check("run completed", ok = false, s"${e.getClass.getName}: ${e.getMessage}"))

    val steal = ctx.host.stealMs
    if (traced) {
      ctx.metric("host.steal_ms", steal, "ms")
      ctx.metric("host.loadavg_max", ctx.host.loadMax, "count")
    }
    val correct = ctx.checks.nonEmpty && ctx.checks.forall(_._2) && error.isEmpty
    val artifact = Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "size" -> (if (tiny) "tiny" else "full"), "cpus" -> cpus,
      "correct" -> correct, "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "setup_s" -> ctx.setupS,
      "checks" -> ctx.checks.map { case (n, ok, d) => Seq("name" -> n, "ok" -> ok, "detail" -> d) },
      "metrics" -> ctx.metrics.map { case (k, (v, u)) => k -> Seq("value" -> v, "unit" -> u) },
      "host" -> ctx.host.all, "steal_ms" -> steal,
      "info" -> ctx.info,
      "spans" -> (if (traced) ctx.tracer.all else Nil))
    val path = opt("artifact")
    new java.io.File(path).getParentFile.mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      Json(artifact).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()

    println(Json(Seq("artifact" -> path, "steal_ms" -> steal, "load_max" -> ctx.host.loadMax)))
    println(Json(Seq(
      "correct" -> correct,
      "attempted" -> math.max(1L, ctx.attempted),
      "failed" -> ctx.failed,
      "metrics" -> (if (traced) Metrics.perLayer else Metrics.endToEnd).flatMap { case (k, _) =>
        ctx.metrics.get(k).map { case (v, u) => k -> Seq("value" -> v, "unit" -> u) }
      })))
    System.out.flush()
    System.exit(0)
  }
}
