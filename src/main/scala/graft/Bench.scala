package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * $SPARK_GRAFT_SF_DIR and emits ONE JSON line with per-query seconds.
  * The same JSON is also written to $SPARK_GRAFT_BENCH_OUT (default
  * bench_out.json) so consumers don't have to fish the line out of sbt's
  * [info] noise.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the session (JIT, codegen compiler, shuffle machinery) AND the
    // lazily-built index caches — otherwise the first ANN query absorbs
    // the whole k-means build + save and its number means nothing
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).count()
      SparkEntry.prewarm(spark, sfDir)
    } catch { case t: Throwable =>
      // a failed prewarm silently shifts the index-build cost into
      // whichever ANN query runs first — make it loud on stderr
      System.err.println(s"[bench] PREWARM FAILED: $t")
    }
    // optional comma-separated query-name filter for single-query timing
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        System.err.println(s"[bench] UNKNOWN QUERY NAMES (ignored): ${unknown.mkString(",")}")
    }
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def loadavg: Double = osBean.getSystemLoadAverage
    // cumulative CPU-STEAL jiffies (/proc/stat cpu line, field 8 after the
    // label): on a VM the hypervisor can take cores away in bursts that
    // guest loadavg NEVER sees — round-22 measured steal spiking to
    // 74–180% of busy jiffies mid-run while loadavg read ~1.5, inflating
    // whole bench phases. Recording the cumulative counter per cold query
    // (additive artifact field, stdout line and `value` untouched) lets a
    // reader attribute an outlier to stolen CPU from the artifact itself,
    // the way load_cold already works for guest-visible contention.
    // -1 when /proc/stat is unavailable (non-Linux).
    def stealJiffies: Long = try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong)
        .getOrElse(-1L)
      finally src.close()
    } catch { case _: Throwable => -1L }
    def timeOne(name: String): Double = {
      val t0 = System.nanoTime()
      try { selected(name)(spark, sfDir).count() } catch { case t: Throwable =>
        System.err.println(s"[bench] QUERY FAILED $name: $t"); -1L
      }
      (System.nanoTime() - t0) / 1e9
    }
    def once(): Map[String, Double] =
      selected.keys.map(n => n -> timeOne(n)).toMap
    // pass 1 = cold (codegen compile, JIT, first scans) — the primary,
    // round-comparable metric. The warm number is the PER-QUERY MEDIAN of
    // 3 further passes: single warm passes drifted ±14% round-over-round
    // with no code change (machine noise), which made rounds incomparable
    // per-query 1-min loadavg BEFORE each cold run: two straight rounds
    // (r18 q49, r19 q107) the official artifact carried a single-query
    // host-contention outlier that had to be adjudicated by committed
    // same-code pairs — the artifact now records the contention evidence
    // itself
    val loadStart = loadavg
    val stealStart = stealJiffies
    val loadCold = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val stealCold = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val results = selected.keys.map { n =>
      loadCold(n) = loadavg
      stealCold(n) = stealJiffies.toDouble
      n -> timeOne(n)
    }.toMap
    val warmRuns = sys.env.get("SPARK_GRAFT_WARM_RUNS").flatMap(_.toIntOption)
      .filter(_ >= 1).getOrElse(3)
    val stealWarm = scala.collection.mutable.ArrayBuffer.empty[Long]
    val warmPasses = (1 to warmRuns).map { _ =>
      // let the ContextCleaner reclaim dropped localCheckpoint/persist
      // blocks and stopped-stream state from the previous pass before
      // timing the next — reclamation is reference-triggered and lazy, so
      // without the nudge later passes time the accumulation, not the
      // queries (observed warm totals rising 54.8 → 59.1 → 60.6 s)
      System.gc()
      Thread.sleep(500)
      stealWarm += stealJiffies
      once()
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val warm = selected.keys.map(n => n -> median(warmPasses.map(_(n)))).toMap
    // SELF-ADJUDICATION: a cold time more than 3× the same-run warm
    // median (and above a 2 s floor — sub-second queries jitter past 3×
    // on codegen compile alone) is host contention, not a plan property.
    // Re-run each outlier once and record BOTH numbers: a rerun back in
    // the warm band proves the cold sample was noise; a rerun that stays
    // high is a real regression the pair discipline then confirms.
    val rerunned = selected.keys.toSeq
      .filter(n => warm(n) > 0 && results(n) > 3 * warm(n) && results(n) > 2.0)
      .map { n =>
        System.gc(); Thread.sleep(200)
        val t = timeOne(n)
        System.err.println(String.format(java.util.Locale.ROOT,
          "[bench] RERUN %s: cold %.3f vs warm %.3f -> rerun %.3f (load %.2f)",
          n, Double.box(results(n)), Double.box(warm(n)), Double.box(t),
          Double.box(loadavg)))
        n -> t
      }.toMap
    val loadEnd = loadavg
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val totalWarm = if (warm.nonEmpty) warm.values.sum else 0.0
    // ADJUDICATED total: the raw cold sum with each rerun outlier's cold
    // sample replaced by its same-run rerun. The raw `value` stays the
    // primary, round-comparable metric; `value_adjudicated` is the
    // host-contention-corrected reading of the SAME run (three straight
    // rounds the raw artifact carried single-query contention outliers
    // that committed same-code pairs then adjudicated away — this field
    // makes the artifact carry that correction itself).
    val totalAdj =
      if (results.nonEmpty)
        results.map { case (n, v) => rerunned.getOrElse(n, v) }.sum
      else 0.0
    // "sf0.1" → 0.1; the dir path itself goes in the file, not the line
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1)).getOrElse("0")
    // The consumer keeps only the LAST ~2000 chars of stdout, so the line
    // must be compact (3-decimal times, no warm-pass map) and FINAL (sbt's
    // "[success]" trailer is disabled in build.sbt). At 78 queries the
    // full-name map alone is ~2070 chars, so the stdout line keys each
    // query by its short id ("q57_dedup_clusters" → "q57" — unique by
    // construction, and the shape the driver contract's own example
    // uses); full names + warm passes go to $SPARK_GRAFT_BENCH_OUT.
    val shortKeyed = results.map { case (k, v) => k.takeWhile(_ != '_') -> v }
    val rerunShort = rerunned.map { case (k, v) => k.takeWhile(_ != '_') -> v }
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      s""""queries":${js(shortKeyed)},"total_warm":${fmt(totalWarm)},""" +
      s""""value_adjudicated":${fmt(totalAdj)},""" +
      s""""reruns":${js(rerunShort)},"load":[${fmt(loadStart)},${fmt(loadEnd)}],"sf":$sfNum}"""
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":${js(results)},""" +
      s""""total_warm":$totalWarm,"value_adjudicated":$totalAdj,""" +
      s""""queries_warm":${js(warm)},"warm_runs":$warmRuns,""" +
      s""""warm_passes":[${warmPasses.map(js).mkString(",")}],""" +
      s""""reruns":${js(rerunned)},"load_cold":${js(loadCold)},""" +
      s""""load_start":${fmt(loadStart)},"load_end":${fmt(loadEnd)},""" +
      s""""steal_cold":${js(stealCold)},""" +
      s""""steal_warm_passes":[${stealWarm.mkString(",")}],""" +
      s""""steal_start":$stealStart,"steal_end":$stealJiffies,""" +
      s""""sf":$sfNum,"sf_dir":"$sfDir"}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => () }
    spark.stop()
    // print after spark.stop() so no executor/driver shutdown chatter can
    // land on stdout below the JSON line
    println(line)
  }

  // Locale.ROOT: the f-interpolator uses the default locale, which on a
  // comma-decimal host would render 1,234 and corrupt the JSON
  private def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** A JSON object of 3-decimal values, keys in the pairs' own order: the
    * run-order fields (`load_cold`, `steal_cold`) pass their
    * LinkedHashMap straight in — an immutable Map past 4 entries is a
    * hash map and would scramble that order.
    */
  private[graft] def js(m: Iterable[(String, Double)]): String =
    m.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
}
