package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Batch approximate query over a RaBitQ index — the whole probe →
  * estimate → rerank → top-k pipeline (SURVEY.md §2.3 Q1–Q14) as ONE
  * Catalyst plan per query batch, replacing the reference's serial
  * per-query loop (`/root/reference/src/rabitq.rs:268-333`).
  *
  * Scale shape:
  *  - query-side state (rotated residual quantization per probed cluster)
  *    is tiny → computed once and BROADCAST to the join with the index,
  *    so the big index table never shuffles;
  *  - rough estimation is a native-codegen column expression over only
  *    the probed clusters (statically partition-pruned on the disk path);
  *  - candidate selection and the final top-k use the bounded map-side
  *    top-k aggregator (TopKAgg), replacing the reference's serial
  *    threshold heap (`/root/reference/src/rerank.rs:62-114`) with a
  *    parallel local-then-global top-k at identical results.
  *
  * Observability (reference metrics analog, `/root/reference/src/metrics.rs`):
  * the plan carries `observe` aggregates named `rabitq_rough_<i>` /
  * `rabitq_precise_<i>` (unique suffix per pipeline instance) counting
  * estimated vs exactly-scored candidates; attach a
  * QueryExecutionListener and match on the name prefix.
  */
object RabitqQuery {

  // observe() names must be unique within a plan — a query composing two
  // pipelines (e.g. the disk-vs-memory consistency gate) would otherwise
  // throw DUPLICATED_METRICS_NAME. Listeners match on the stable prefix.
  private val obsCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  // one broadcast per MODEL INSTANCE, not per query: the serving tier
  // fires topK once per HTTP request against the same cached Engine
  // model, and re-broadcasting it every call puts a driver→blockmanager
  // write on every request that SERIALIZES concurrent requests at the
  // driver (gen:200k×64, 8 threads, spark engine: 11.9 → 15.5-16.5
  // qps, p50 578 → 381ms from this cache alone — README V5 row; the
  // payload grows with padDim² — the rotation matrix dominates). Weak keys:
  // the entry dies with the model and the ContextCleaner reclaims the
  // broadcast's blocks once the Broadcast object is unreachable, so a
  // long-lived server that reloads engines leaks nothing. Identity
  // semantics (case-class equals over Array fields is reference-based)
  // are exactly right — a reloaded model is a new key.
  private val modelBroadcasts = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[RabitqModel,
      org.apache.spark.broadcast.Broadcast[RabitqModel]]())

  private def broadcastModel(spark: SparkSession, model: RabitqModel)
      : org.apache.spark.broadcast.Broadcast[RabitqModel] =
    modelBroadcasts.computeIfAbsent(model,
      m => spark.sparkContext.broadcast(m))

  /** Per-(query, probed-cluster) state (Q3–Q7). */
  private[operators] case class Probe(
      query_id: Long, cluster_id: Int, centroid_d2: Float, lb: Float, delta: Float,
      sum_q: Int, planes: Array[Long])

  private def rotatedQuery(model: RabitqModel, qvec: Array[Float]): Array[Float] =
    VectorOps.rotate(model.rotation, VectorOps.pad(qvec, 64))

  /** Top-nprobe (centroid_d2, cluster_id) for a rotated query — the ONE
    * centroid scan both the full probe computation and the disk path's
    * static prune enumeration go through, so tie-breaking can never
    * diverge between them.
    */
  private def nearestCentroids(model: RabitqModel, y: Array[Float],
                               nprobe: Int): Seq[(Double, Int)] =
    model.centroids.zipWithIndex.map { case (c, i) =>
      (VectorOps.l2sq(y, c), i)
    }.sortBy(identity).take(nprobe).toSeq

  /** Pure probe computation for one query vector against the model
    * (shared with the driver-memory HotTier, so both paths probe
    * identically).
    */
  private[operators] def computeProbes(model: RabitqModel, queryId: Long, qvec: Array[Float],
                            nprobe: Int): Seq[Probe] = {
    val y = rotatedQuery(model, qvec)
    val dists = nearestCentroids(model, y, nprobe)
    dists.map { case (cd2, cid) =>
      val res = VectorOps.subtract(y, model.centroids(cid))
      var lb = Float.MaxValue; var ub = Float.MinValue
      var i = 0
      while (i < res.length) {
        if (res(i) < lb) lb = res(i)
        if (res(i) > ub) ub = res(i)
        i += 1
      }
      val (codes, sumQ) = VectorOps.quantizeQuery(res, lb, ub, model.bias)
      val delta = if (ub > lb) (ub - lb) / VectorOps.QuantLevels.toFloat else 0f
      Probe(queryId, cid, cd2.toFloat, lb, delta, sumQ, VectorOps.bitPlanes(codes))
    }
  }

  /** Q8–Q14 given the probe table: rough estimate (codegen expression +
    * column arithmetic — no UDF on the candidate scan), shortlist by
    * bounded top-k, exact rerank against base, final top-k.
    *
    * `largeBatch = false` (the serving shape): the query batch is small
    * by contract, so probes/shortlist/queries all broadcast and the index
    * never shuffles. `largeBatch = true` (the batch-scoring shape, e.g.
    * scoring one corpus against another): those sides are |queries|-sized
    * and would OOM a broadcast — plain equi-joins let Spark pick
    * shuffled/sort-merge joins, which partition and spill.
    */
  private def fromProbes(index: DataFrame, base: DataFrame, queries: DataFrame,
                         probes0: DataFrame, topk: Int, rerank: Int,
                         largeBatch: Boolean = false,
                         fastscan: Boolean = false): DataFrame = {
    def side(df: DataFrame): DataFrame = if (largeBatch) df else broadcast(df)
    // fastscan (reference README's unchecked box): materialize the
    // byte-indexed LUT once per PROBE row (|q|·nprobe frame) and estimate
    // with one lookup pass per candidate instead of 4 popcount plane
    // passes — bit-identical rough distances (spec'd), different kernel.
    // Probe-side payload grows dim/2 B → dim·128 B per row, fine for the
    // broadcast serving shape; the A/B measurement is recorded in
    // PLANS.md q93 (perfbench's kernel.asymdot_lut_ns_per_code tracks it).
    val probes = if (fastscan)
      probes0.withColumn("lut",
        graft.functions.VectorExpressions.buildLut(col("planes"))).drop("planes")
    else probes0
    val ad = if (fastscan)
      graft.functions.VectorExpressions.asymDotLut(col("code"), col("lut"))
    else
      graft.functions.VectorExpressions.asymDot(col("code"), col("planes"))
    // Shortlist key = the UNBIASED distance estimate, NOT the lower bound
    // (estimate − error_bound·√centroid_d2). The reference uses the lower
    // bound only as a PRUNE against a dynamically-tightening exact-
    // distance threshold (`rerank.rs:83-105` — everything that passes
    // gets an exact distance, so bound optimism costs compute, never
    // recall, and recall is monotone in nprobe). A fixed-size shortlist
    // TRUNCATES instead of prunes: ranking the truncation by the bound
    // systematically favors far-cluster/high-variance candidates (the
    // −err·√cd2 term grows with centroid distance) and recall DEGRADES
    // as probes widen — measured at 1M post-rebalance: 0.676@np16 →
    // 0.509@np92 at rerank 200 under the bound key. The estimate is the
    // right truncation key; [[heuristicTopK]] keeps the bound where it
    // really is a prune (the reference's threshold scheme).
    val rough =
      col("cds").cast("double") + col("centroid_d2") +
        col("lb").cast("double") * col("factor_ppc") +
        (lit(2.0) * ad - col("sum_q")) * col("factor_ip") * col("delta")

    val obsId = obsCounter.incrementAndGet()
    val candidates = index
      .join(side(probes), Seq("cluster_id"))
      .select(col("query_id"), col("vec_id"), rough.as("rough"))
      .observe(s"rabitq_rough_$obsId", count(lit(1)).as("n_rough"))

    val shortlist = TopK.perGroup(candidates, "query_id", "vec_id", "rough", rerank,
      outId = "vec_id", outScore = "rough")
      .select("query_id", "vec_id")

    val exact = base.join(side(shortlist), Seq("vec_id"))
      .join(side(queries), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        sqrt(graft.functions.VectorExpressions.l2sq(col("qvec"), col("embedding"))).as("dist"))
      .observe(s"rabitq_precise_$obsId", count(lit(1)).as("n_precise"))

    TopK.perGroup(exact, "query_id", "vec_id", "dist", topk,
      outId = "neighbor_id", outScore = "dist")
  }

  private val probeSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("cluster_id", IntegerType, nullable = false),
      StructField("centroid_d2", FloatType, nullable = false),
      StructField("lb", FloatType, nullable = false),
      StructField("delta", FloatType, nullable = false),
      StructField("sum_q", IntegerType, nullable = false),
      StructField("planes", ArrayType(LongType, containsNull = false), nullable = false)))
  }

  /** Probe frame computed EXECUTOR-SIDE: the model broadcasts to the
    * query partitions and each partition quantizes its own queries, so a
    * 100× query batch parallelizes instead of serializing on the driver
    * (probe cost is nprobe × |queries| rotations + quantizations). The
    * frame stays schema-explicit Rows, deliberately NOT a case-class
    * encoder: the `Probe` ExpressionEncoder's generated serializer fails
    * Janino compilation under layered classloaders ("no applicable
    * method ... centroid_d2()") and silently falls back to interpreted
    * encoding with a costly compile-attempt per query — explicit Rows
    * sidestep codegen entirely for this small frame.
    */
  private def probesDf(spark: SparkSession, model: RabitqModel, queries: DataFrame,
                       nprobe: Int): DataFrame = {
    import org.apache.spark.sql.Row
    val bModel = broadcastModel(spark, model)
    val enc = org.apache.spark.sql.Encoders.row(probeSchema)
    queries.select(col("query_id"), col("qvec")).mapPartitions { rows =>
      val m = bModel.value
      rows.flatMap { r =>
        computeProbes(m, r.getLong(0), r.getSeq[Float](1).toArray, nprobe).iterator.map(p =>
          Row(p.query_id, p.cluster_id, p.centroid_d2, p.lb, p.delta, p.sum_q, p.planes.toSeq))
      }
    }(enc)
  }

  /** Driver-side enumeration of the probed cluster ids — ONLY for the
    * disk path, where the ids must be known at plan time to statically
    * prune the partitioned scan. Runs just the centroid scan (no
    * quantization) over the plan-time-small query batch; the actual probe
    * state is still computed executor-side by `probesDf`.
    */
  private def probedClusterIds(model: RabitqModel, queries: DataFrame,
                               nprobe: Int): Seq[Int] =
    queries.select(col("qvec")).collect().iterator.flatMap { r =>
      val y = rotatedQuery(model, r.getSeq[Float](0).toArray)
      nearestCentroids(model, y, nprobe).map(_._2)
    }.toArray.distinct.sorted.toSeq

  /** Approximate top-k over an in-memory index DataFrame.
    *
    * @param rerank rough-distance candidates per query to score exactly
    *               (≥ topk). With nprobe = numClusters and rerank ≥ n the
    *               result is EXACTLY the brute-force answer. On a
    *               rebalance-grown layout loaded via `RabitqIndex.load`,
    *               the model carries `rerankScale` = (k′/k0)² and the
    *               budget scales by it HERE — the same adaptation the
    *               disk and serving paths apply, so a caller with a
    *               pre-split-tuned budget gets the same recall through
    *               every entry point (a freshly built model scales by 1).
    * Output: (query_id, neighbor_id, dist, rank).
    */
  def topK(spark: SparkSession, model: RabitqModel, index: DataFrame, base: DataFrame,
           queries: DataFrame, nprobe: Int, topk: Int, rerank: Int,
           largeBatch: Boolean = false, fastscan: Boolean = false): DataFrame = {
    val rr = math.ceil(rerank * model.rerankScale).toInt
    fromProbes(index, base, queries, probesDf(spark, model, queries, nprobe), topk, rr,
      largeBatch, fastscan)
  }

  /** Filtered ANN with SELECTIVITY-AWARE probe widening — the
    * production-shaped composition of a metadata predicate with the IVF
    * probe. Querying a filtered index at the unfiltered-tuned nprobe
    * collapses recall (measured at 1M×64, 10% selectivity: 0.852 →
    * 0.332 at nprobe 16/256 — README "Filtered search at scale"): every probed
    * cluster is ~selectivity-thin, so the filtered top-k's true
    * neighbors spread across clusters the probe skips. The remedy is to
    * hold the EFFECTIVE candidate count constant: probe
    * ceil(nprobe / selectivity) clusters, clamped to numClusters
    * (measured recovery: 0.75 at 4×, saturating at the rerank width).
    *
    * `selectivity` may be passed when known (a catalog statistic at
    * scale); otherwise ONE narrow count-aggregate over the index
    * measures it — amortize across a query batch by passing it in.
    * `pred` must reference index columns (the filtered-ANN layout:
    * metadata rides in the index rows). The rerank stage needs no base
    * filter — the shortlist is drawn from the filtered index, so only
    * passing ids reach exact scoring.
    *
    * Output: (query_id, neighbor_id, dist, rank) — identical contract
    * to [[topK]]; at fixture scale the widening typically saturates to
    * full probe, making results exactly filtered brute force (q100's
    * real-SQL oracle relies on this).
    */
  def filteredTopK(spark: SparkSession, model: RabitqModel, index: DataFrame,
                   base: DataFrame, queries: DataFrame, pred: org.apache.spark.sql.Column,
                   nprobe: Int, topk: Int, rerank: Int,
                   selectivity: Option[Double] = None): DataFrame = {
    val widened = widenedProbe(model.params.numClusters, nprobe,
      selectivity.getOrElse(measuredSelectivity(index, pred)))
    topK(spark, model, index.filter(pred), base, queries,
      nprobe = widened, topk = topk, rerank = rerank)
  }

  /** The selectivity-aware widening rule shared by the in-memory and disk
    * filtered paths: probe ceil(nprobe / sel) clusters (never fewer than
    * nprobe, clamped to numClusters) so the EFFECTIVE candidate count —
    * probed rows that pass the predicate — matches what the caller's
    * nprobe would yield unfiltered.
    */
  private[graft] def widenedProbe(numClusters: Int, nprobe: Int, sel: Double): Int =
    math.min(numClusters,
      math.max(nprobe, math.ceil(nprobe / math.max(sel, 1e-6)).toInt))

  /** ONE narrow count-aggregate over the index — the fallback when no
    * catalog statistic is passed; amortize across a query batch by
    * passing `selectivity` instead.
    */
  private def measuredSelectivity(index: DataFrame, pred: org.apache.spark.sql.Column): Double = {
    val r = index.agg(count(lit(1)).as("n"),
      count(when(pred, lit(1))).as("nf")).head()
    math.max(r.getLong(1).toDouble / math.max(1L, r.getLong(0)).toDouble, 1e-6)
  }

  /** [[filteredTopK]] against a SAVED labeled index — the full
    * production composition for filtered vector search at scale: the
    * KNOWN-selectivity contract (a catalog statistic; no per-query
    * measurement scan) widens the probe, the widened cluster set
    * statically prunes the partitioned parquet (directory skipping), and
    * the label predicate lands in PushedFilters beside it (row-group/
    * page skipping inside each probed cluster). Same result contract as
    * the in-memory [[filteredTopK]] at the same parameters (q103 gates
    * the equality); reference analogs: probe selection
    * `/root/reference/src/rabitq.rs:294-297` + ranged block reads
    * `/root/reference/crates/disk/src/cache.rs:105-145`.
    *
    * When `selectivity` is absent, the measurement aggregate runs over
    * the saved index — one narrow scan, still cheaper than the recall
    * collapse it prevents, but at scale pass the statistic in.
    */
  def filteredTopKFromDisk(spark: SparkSession, layout: Layout, base: DataFrame,
                           queries: DataFrame, pred: org.apache.spark.sql.Column,
                           nprobe: Int, topk: Int, rerank: Int,
                           selectivity: Option[Double] = None,
                           rerankScale: Option[Double] = None): DataFrame = {
    // loadLiveProbed: single generation resolution, tombstone log
    // respected, carried files materialized from only the manifest
    // shards overlapping the (selectivity-widened) probed clusters.
    // Selectivity: the catalog statistic, or the documented at-scale-
    // avoid fallback — ONE measurement scan over the full live scan of
    // the SAME resolved generation (it needs every cluster, so no probe
    // pruning is possible there; the thunk avoids a second model load)
    var sel = Double.NaN
    val (model, _, pruned0) = RabitqIndex.loadLiveProbed(spark, layout,
      (m, fullLive) => {
        sel = selectivity.getOrElse(measuredSelectivity(fullLive(), pred))
        probedClusterIds(m, queries,
          widenedProbe(m.params.numClusters, nprobe, sel))
      })
    // budget adaptation for a rebalance-grown layout: the RERANK scales
    // by (k′/k0)² (model.rerankScale, populated at load from BUILT_K —
    // the measured loss is shortlist displacement, not coverage), or by
    // the caller's per-call override (operating points documented at
    // [[topKFromDisk]]); nprobe widens only for the filter's
    // selectivity, as before
    val rr = math.ceil(rerank * rerankScale.getOrElse(model.rerankScale)).toInt
    val widened = widenedProbe(model.params.numClusters, nprobe, sel)
    val pruned = pruned0.filter(pred)
    fromProbes(pruned, base, queries, probesDf(spark, model, queries, widened),
      topk, rr)
  }

  /** Q11 — the reference's HEURISTIC reranker
    * (`/root/reference/src/rerank.rs:117-177`, `WINDOW_SIZE=12` at
    * `src/consts.rs:12`), re-expressed Spark-first. The reference streams
    * candidates serially with a dynamically-tightening threshold: a
    * candidate is scored exactly only when its rough estimate beats the
    * threshold, accepted when the exact distance does too, and after every
    * `window` accepted candidates the threshold drops to that window's max
    * accepted distance. Output can differ from the exhaustive Q10 rerank —
    * that is the heuristic's contract (fewer exact computations for a
    * small recall risk).
    *
    * Spark shape: the fold is INHERENTLY SERIAL per query (each decision
    * feeds the next threshold), so it runs as a single streaming pass per
    * query — `repartition(query_id)` + `sortWithinPartitions` + a
    * mapPartitions state machine with O(topk) memory — and parallelizes
    * ACROSS queries. Candidate order is the deterministic analog of the
    * reference's arrival order: probe rank (ascending centroid distance),
    * then vec_id (storage order within a cluster). Q10's bounded-shortlist
    * + join remains the default/scale path (SURVEY §4): it needs no
    * per-query serialization and its shuffle volume is rerank-bounded,
    * while this path moves every probed-cluster embedding into the fold.
    *
    * Output: (query_id, neighbor_id, dist, rank, n_precise, n_candidates)
    * — the per-query counters are the reference's precise/rough METRICS
    * analog, carried per row for gate aggregation.
    */
  def heuristicTopK(spark: SparkSession, model: RabitqModel, index: DataFrame,
      base: DataFrame, queries: DataFrame, nprobe: Int, topk: Int,
      window: Int = 12): DataFrame = {
    import org.apache.spark.sql.Row
    val probes = probesDf(spark, model, queries, nprobe)
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("centroid_d2"), col("cluster_id"))
    val ranked = probes.withColumn("probe_rank", row_number().over(wRank))
    val ad = graft.functions.VectorExpressions.asymDot(col("code"), col("planes"))
    val rough =
      col("cds").cast("double") + col("centroid_d2") +
        col("lb").cast("double") * col("factor_ppc") +
        (lit(2.0) * ad - col("sum_q")) * col("factor_ip") * col("delta") -
        col("error_bound").cast("double") * sqrt(col("centroid_d2").cast("double"))
    val withVecs = index
      .join(broadcast(ranked), Seq("cluster_id"))
      .select(col("query_id"), col("probe_rank"), col("vec_id"), rough.as("rough"))
      .join(base.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(broadcast(queries.select(col("query_id"), col("qvec"))), Seq("query_id"))
      .select(col("query_id"), col("probe_rank"), col("vec_id"), col("rough"),
        col("embedding"), col("qvec"))
    val outSchema = {
      import org.apache.spark.sql.types._
      StructType(Seq(
        StructField("query_id", LongType, nullable = false),
        StructField("neighbor_id", LongType, nullable = false),
        StructField("dist", DoubleType, nullable = false),
        StructField("rank", LongType, nullable = false),
        StructField("n_precise", LongType, nullable = false),
        StructField("n_candidates", LongType, nullable = false)))
    }
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    withVecs.repartition(col("query_id"))
      .sortWithinPartitions(col("query_id"), col("probe_rank"), col("vec_id"))
      .mapPartitions { rows =>
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        // accepted candidates beyond topk can never surface — a bounded
        // max-heap replaces the reference's append-then-select_nth
        val heap = scala.collection.mutable.PriorityQueue
          .empty[(Double, Long)](Ordering.by(identity))
        var curQ = 0L; var started = false
        var threshold = Double.MaxValue; var recentMax = Double.MinValue
        var cnt = 0; var precise = 0L; var seen = 0L
        def flush(): Unit = if (started) {
          val ranked = heap.dequeueAll.toArray.sortBy(identity)
          ranked.iterator.zipWithIndex.foreach { case ((d2, id), i) =>
            out += Row(curQ, id, math.sqrt(d2), (i + 1).toLong, precise, seen)
          }
        }
        rows.foreach { r =>
          val q = r.getLong(0)
          if (!started || q != curQ) {
            flush()
            curQ = q; started = true
            threshold = Double.MaxValue; recentMax = Double.MinValue
            cnt = 0; precise = 0L; seen = 0L; heap.clear()
          }
          seen += 1
          if (r.getDouble(3) < threshold) {
            val acc = VectorOps.l2sq(r.getSeq[Float](5).toArray, r.getSeq[Float](4).toArray)
            precise += 1
            if (acc < threshold) {
              heap.enqueue((acc, r.getLong(2)))
              if (heap.size > topk) heap.dequeue()
              cnt += 1
              if (acc > recentMax) recentMax = acc
              if (cnt >= window) {
                threshold = recentMax; cnt = 0; recentMax = Double.MinValue
              }
            }
          }
        }
        flush()
        out.iterator
      }(enc)
  }

  /** Approximate top-k against a SAVED index directory. The probed
    * cluster IDS are enumerated driver-side from the (plan-time-small, by
    * contract) query batch so the index scan is STATICALLY partition-
    * pruned — only nprobe × |queries| cluster directories are read, the
    * Spark analog of the reference's CSR offset slices
    * (`/root/reference/src/rabitq.rs:318-326`). The probe STATE itself is
    * computed executor-side like the in-memory path.
    */
  /** @param pred optional row predicate over the saved index's columns
    *             (e.g. a metadata label riding in the index rows — the
    *             filtered-vector-search layout). Applied to the PRUNED
    *             scan, so on the partitioned parquet it lands in
    *             PushedFilters BESIDE the cluster partition pruning:
    *             row-group/page skipping composes with directory
    *             skipping. The caller filters `base` identically (the
    *             rerank scores only shortlisted ids, but exactness
    *             gates compare against filtered brute force).
    */
  /** @param rerankScale per-call override of the rebalance-grown budget
    *             adaptation the loaded model carries (the default —
    *             None — uses `model.rerankScale` = (k′/k0)², the
    *             measured frontier knee). Operating points from the
    *             SCALE_r18 1M frontier (256→368 split, np16): 1.0 →
    *             pre-split budget, recall 0.761; (k′/k0) → 0.816;
    *             (k′/k0)² → 0.856 at ~flat cost; ~2.5× → 0.878 (full
    *             pre-skew parity 0.883). Query cost is probe-scan-
    *             dominated and nearly flat in rerank, so paying more
    *             here is cheap — see `RabitqIndex.scaledRerank`.
    */
  def topKFromDisk(spark: SparkSession, layout: Layout, base: DataFrame,
                   queries: DataFrame, nprobe: Int, topk: Int, rerank: Int,
                   pred: org.apache.spark.sql.Column = lit(true),
                   rerankScale: Option[Double] = None): DataFrame = {
    // loadLiveProbed: single generation resolution, tombstone log
    // respected (plan-identical to a raw load when no log exists), and
    // the scan materialized from only the carry-manifest shards
    // overlapping the probed clusters — the planner never lists the
    // carried files of unprobed clusters
    val (model, _, pruned0) = RabitqIndex.loadLiveProbed(spark, layout,
      (m, _) => probedClusterIds(m, queries, nprobe))
    // rebalance-grown layout: scale the RERANK budget by (k′/k0)²
    // (model.rerankScale, populated at load from BUILT_K — the measured
    // post-split loss is shortlist displacement, not probe coverage);
    // no-op pre-rebalance; per-call override above
    val rr = math.ceil(rerank * rerankScale.getOrElse(model.rerankScale)).toInt
    val pruned = pruned0.filter(pred)
    fromProbes(pruned, base, queries, probesDf(spark, model, queries, nprobe), topk, rr)
  }

  /** Per-cluster ball statistics for [[ballPrunedTopK]]: radius = the
    * largest member residual norm (`cds` already stores ‖x − centroid‖²
    * in rotated space — VectorOps.factors) and member count. numClusters
    * rows — metadata-sized at any data scale, like the centroids.
    */
  def clusterStats(index: DataFrame): DataFrame =
    index.groupBy("cluster_id").agg(
      sqrt(max(col("cds").cast("double"))).as("radius"),
      count(lit(1)).as("n"))

  /** Per-query surviving clusters under triangle-inequality ball pruning —
    * the EXACT early-termination rule (the reference's unchecked
    * "early stop" box, `/root/reference/README.md:19`, re-expressed as a
    * plan-time bound rather than a serial scan cutoff):
    *
    *  - every member of cluster c lies within dist(q, centroid_c) +
    *    radius_c of q, so walking clusters in (d+r) order until their
    *    member counts cover k yields a valid upper bound `ub` on the
    *    true kth-NN distance;
    *  - any cluster with dist(q, centroid_c) − radius_c > ub cannot hold
    *    a top-k member (all its points are strictly farther) and is
    *    dropped BEFORE any of its rows are scanned.
    *
    * Computed executor-side over the query batch against broadcast
    * (centroid, radius, count) stats — O(numClusters log numClusters) per
    * query, no data scan. A small float slack keeps the rotated-space
    * radii safe against f32 rounding vs the raw-space distances scored
    * later (rotation is an isometry only up to rounding).
    *
    * Output: (query_id, cluster_id) pairs — ≤ |queries|·numClusters rows.
    */
  def prunedPairs(spark: SparkSession, model: RabitqModel, stats: DataFrame,
                  queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val st = stats.select(col("cluster_id"), col("radius"), col("n")).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2)))
    val bModel = spark.sparkContext.broadcast(model)
    val bStats = spark.sparkContext.broadcast(st)
    val schema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("cluster_id", IntegerType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    queries.select(col("query_id"), col("qvec")).mapPartitions { rows =>
      val m = bModel.value
      rows.flatMap { r =>
        val qid = r.getLong(0)
        val y = rotatedQuery(m, r.getSeq[Float](1).toArray)
        val ds = bStats.value.map { case (cid, rad, n) =>
          (math.sqrt(VectorOps.l2sq(y, m.centroids(cid))), rad, n, cid)
        }
        val byCover = ds.sortBy(t => t._1 + t._2)
        var cum = 0L; var ub = Double.MaxValue; var i = 0
        while (i < byCover.length && cum < k) {
          cum += byCover(i)._3; ub = byCover(i)._1 + byCover(i)._2; i += 1
        }
        val bound = ub + math.abs(ub) * 1e-5 + 1e-4
        ds.iterator.filter { case (d, rad, _, _) => d - rad <= bound }
          .map { case (_, _, _, cid) => Row(qid, cid) }
      }
    }(enc)
  }

  /** EXACT top-k with early termination: score only the clusters
    * [[prunedPairs]] keeps, then exact distance + bounded top-k — the
    * answer equals brute force (gated by q92's exact-kNN oracle), the
    * cost is proportional to the surviving-cluster fraction. `assigned`
    * is the base table with its cluster assignment
    * (vec_id, embedding, cluster_id) — at scale this is the partitioned
    * layout the index already persists (partitionBy cluster_id), so the
    * per-cluster filter becomes partition pruning, not a scan-and-drop.
    * Output: (query_id, neighbor_id, dist, rank).
    */
  def ballPrunedTopK(spark: SparkSession, model: RabitqModel, stats: DataFrame,
                     assigned: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val pairs = prunedPairs(spark, model, stats, queries, k)
    val scored = assigned
      .join(broadcast(pairs), Seq("cluster_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(
        col("query_id"),
        col("vec_id"),
        sqrt(graft.functions.VectorExpressions.l2sq(col("qvec"), col("embedding")))
          .as("dist"))
    TopK.perGroup(scored, "query_id", "vec_id", "dist", k,
      outId = "neighbor_id", outScore = "dist")
  }
}
