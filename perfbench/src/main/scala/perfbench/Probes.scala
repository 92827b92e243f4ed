package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.operators.{HotTier, LayoutFs, RabitqIndex, RabitqModel}

/** Per-layer measurements of the traced run, taken through the engine's
  * public API on the workload's own data, after the timed region.
  */
object Probes {

  /** Median over rounds of the time per call of `f(i)`, i in [0, reps), ns.
    * The results feed a checksum so the calls cannot be elided.
    */
  def nsPerCall(reps: Int, rounds: Int = 7)(f: Int => Long): Double = {
    var sink = 0L
    val times = (0 until rounds + 1).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < reps) { sink += f(i); i += 1 }
      (System.nanoTime() - t0).toDouble / reps
    }.drop(1) // the first round warms the JIT
    if (sink == 42L) System.err.print("")
    Stats.median(times)
  }

  /** Live rows per cluster of a saved layout. */
  def clusterSizes(index: DataFrame): Map[Int, Long] =
    index.groupBy("cluster_id").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  def skew(model: RabitqModel, sizes: Map[Int, Long]): Double =
    if (sizes.isEmpty) 0.0
    else sizes.values.max / (sizes.values.sum.toDouble / model.params.numClusters)

  /** Clusters a query probes, by the model's public rotation and centroids
    * (the engine's own ordering: centroid distance, then id).
    */
  def probed(model: RabitqModel, q: Array[Float], nprobe: Int): Seq[Int] = {
    val y = VectorOps.rotate(model.rotation, VectorOps.pad(q, 64))
    model.centroids.indices.sortBy(i => (VectorOps.l2sq(y, model.centroids(i)), i)).take(nprobe)
  }

  /** VectorOps layer: kernel timings on the workload's saved codes, model
    * rotation and query vectors, plus the per-query work the IVF shape
    * implies. Returns the modelled kernel time per query in microseconds.
    */
  def kernels(ctx: Ctx, model: RabitqModel, index: DataFrame, sizes: Map[Int, Long],
              queries: Array[Array[Float]], baseSample: Array[Array[Float]],
              nprobe: Int, rerank: Int): Double = {
    val dim = model.params.dim
    val pad = model.params.padDim
    val codes = index.select("code").limit(20000).collect().map(_.getSeq[Long](0).toArray)
    val padded = queries.map(VectorOps.pad(_, 64))
    val rotated = padded.map(VectorOps.rotate(model.rotation, _))
    val rotateNs = nsPerCall(padded.length)(i =>
      VectorOps.rotate(model.rotation, padded(i)).length.toLong)
    val l2Ns = nsPerCall(baseSample.length * 4)(i =>
      VectorOps.l2sq(queries(i % queries.length), baseSample(i % baseSample.length)).toLong)
    val centroidNs = nsPerCall(model.centroids.length)(i =>
      VectorOps.l2sq(rotated(0), model.centroids(i)).toLong)
    val residual = VectorOps.subtract(rotated(0), model.centroids(probed(model, queries(0), 1).head))
    val (lb, ub) = (residual.min, residual.max)
    val quantNs = nsPerCall(200)(_ =>
      VectorOps.bitPlanes(VectorOps.quantizeQuery(residual, lb, ub, model.bias)._1).length.toLong)
    val planes = VectorOps.bitPlanes(VectorOps.quantizeQuery(residual, lb, ub, model.bias)._1)
    val lut = VectorOps.buildLut(planes)
    val adNs = nsPerCall(codes.length)(i => VectorOps.asymDot(codes(i), planes))
    val lutNs = nsPerCall(codes.length)(i => VectorOps.asymDotLut(codes(i), lut))

    val scanned = queries.map(q => probed(model, q, nprobe).map(c => sizes.getOrElse(c, 0L)).sum)
    val codesPerQ = scanned.sum.toDouble / queries.length
    val rerankPerQ = scanned.map(s => math.min(s, rerank.toLong)).sum.toDouble / queries.length
    val k = model.params.numClusters
    val bytesPerQ = codesPerQ * (pad / 8 + 12) + rerankPerQ * dim * 4 + k.toDouble * pad * 4
    val modelledNs = rotateNs + k * centroidNs + nprobe * quantNs + codesPerQ * adNs +
      rerankPerQ * l2Ns
    ctx.metric("kernel.rotate_us", rotateNs / 1e3, "us")
    ctx.metric("kernel.l2sq_ns", l2Ns, "ns")
    ctx.metric("kernel.quantize_us", quantNs / 1e3, "us")
    ctx.metric("kernel.asymdot_ns_per_code", adNs, "ns")
    ctx.metric("kernel.asymdot_lut_ns_per_code", lutNs, "ns")
    ctx.metric("kernel.codes_per_query", codesPerQ, "count")
    ctx.metric("kernel.rerank_per_query", rerankPerQ, "count")
    ctx.metric("kernel.bytes_per_query", bytesPerQ, "B")
    modelledNs / 1e3
  }

  /** HotTier layer: the in-process engine built from the saved layout, timed
    * single-threaded on the same queries the workload sends. Returns p50 us.
    */
  def hotTier(ctx: Ctx, dir: String, base: DataFrame, queries: Array[Array[Float]],
              nprobe: Int, topK: Int, rerank: Int, kernelUs: Double, codesPerQ: Double): Double = {
    val spark = ctx.spark
    val t0 = System.nanoTime()
    val (model, live) = RabitqIndex.loadLive(spark, dir)
    val loadMs = { live.count(); (System.nanoTime() - t0) / 1e6 }
    val t1 = System.nanoTime()
    val hot = HotTier.fromIndex(spark, model, live, base)
    val fromIndexMs = (System.nanoTime() - t1) / 1e6
    val n = math.max(200, math.min(2000, (ctx.seconds * 100).toInt))
    (0 until 200).foreach(i => hot.query(queries(i % queries.length), nprobe, topK, rerank))
    val lat = (0 until n).map { i =>
      val s = System.nanoTime()
      hot.query(queries(i % queries.length), nprobe, topK, rerank)
      (System.nanoTime() - s) / 1e3
    }.sorted.toArray
    val p50 = Stats.pct(lat, 0.5)
    ctx.metric("index.load_ms", loadMs, "ms")
    ctx.metric("hot.from_index_ms", fromIndexMs, "ms")
    ctx.metric("hot.query_us.p50", p50, "us")
    ctx.metric("hot.query_us.p99", Stats.pct(lat, 0.99), "us")
    ctx.metric("hot.self_us", p50 - kernelUs, "us")
    ctx.metric("kernel.share", kernelUs / p50, "ratio")
    ctx.metric("hot.precise_over_rough",
      if (codesPerQ == 0) 0.0 else math.min(rerank.toDouble, codesPerQ) / codesPerQ, "ratio")
    p50
  }

  /** The encode pass of a built index alone: every row encoded into a
    * sink that discards it.
    */
  def encode(ctx: Ctx, index: DataFrame): Unit = {
    val t0 = System.nanoTime()
    index.write.format("noop").mode("overwrite").save()
    ctx.metric("index.encode_s", (System.nanoTime() - t0) / 1e9, "s")
  }

  /** layout layer: bytes per live vector and file count of the active
    * generation.
    */
  def layout(ctx: Ctx, dir: String, live: Long): Unit = {
    val data = RabitqIndex.indexDataDir(dir)
    def files(p: String): Int = LayoutFs.list(p).map(e => if (e.isDir) files(e.path) else 1).sum
    ctx.metric("layout.bytes_per_vector", LayoutFs.sizeOfDirectory(data).toDouble / math.max(1L, live), "B")
    ctx.metric("layout.files", files(data).toDouble, "count")
  }

  /** spark layer: listener counts per timed operation that ran jobs, and
    * the RabitqQuery observed-metric counts per query of the query ops.
    */
  def spark(ctx: Ctx, ops: Seq[OpStats]): Unit = {
    val busy = ops.filter(_.jobs > 0)
    def per(f: OpStats => Double): Double = if (busy.isEmpty) 0.0 else busy.map(f).sum / busy.size
    ctx.metric("spark.jobs", per(_.jobs.toDouble), "count")
    ctx.metric("spark.job_ms", per(_.jobMs), "ms")
    ctx.metric("spark.driver_gap_ms", per(_.gapMs), "ms")
    ctx.metric("spark.plan_ms", per(_.planMs), "ms")
    ctx.metric("spark.task_cpu_ms", per(_.taskCpuMs), "ms")
    ctx.metric("spark.gc_ms", per(_.gcMs), "ms")
    ctx.metric("spark.shuffle_read_bytes", per(_.shuffleRead.toDouble), "B")
    ctx.metric("spark.shuffle_write_bytes", per(_.shuffleWrite.toDouble), "B")
    ctx.info("ops") = ops
  }

  /** Self time per layer along the main thread's blocking path under
    * `root`, and how much of the root those spans account for.
    */
  def blockingPath(ctx: Ctx, root: String): Unit = if (ctx.traced) {
    val spans = ctx.tracer.all
    spans.find(_.name == root).foreach { r =>
      val self = Tracer.selfNs(spans)
      val byId = spans.map(s => s.id -> s).toMap
      def under(s: Span): Boolean = s.id == r.id || byId.get(s.parent).exists(under)
      val mine = spans.filter(under)
      val byLayer = mine.filter(_.id != r.id).groupBy(_.layer).map { case (l, ss) =>
        l -> ss.map(s => self(s.id)).sum / 1e6
      }
      val rootMs = r.durNs / 1e6
      ctx.info("blocking_path") = Seq("root" -> root, "root_ms" -> rootMs,
        "self_ms_by_layer" -> byLayer, "bench_self_ms" -> self(r.id) / 1e6)
      ctx.metric("trace.spans", spans.size.toDouble, "count")
      ctx.metric("trace.bench_self_ms", self(r.id) / 1e6, "ms")
      ctx.metric("trace.blocking_cover", if (rootMs == 0) 0.0 else 1.0 - self(r.id) / 1e6 / rootMs, "ratio")
    }
  }
}
