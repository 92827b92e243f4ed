package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.VectorOps

/** Driver-memory serving tier: the RaBitQ index and base vectors held in
  * RAM, queried without launching a Spark job — parity with the
  * reference's in-process service (`/root/reference/crates/service/src/
  * main.rs:68-96`, which likewise holds the whole index in memory). The
  * Spark path stays the engine for batch/index-scale work; this tier
  * exists so single-query HTTP latency is microseconds of arithmetic
  * instead of a job-scheduling round-trip.
  *
  * SIZE BOUND: `fromIndex` collects index AND base to the driver — a
  * RAM-sized-index contract identical to the reference service's. At
  * index sizes beyond driver memory, query through the batch Spark path
  * (`RabitqQuery.topKFromDisk` + partition pruning) instead.
  *
  * RESULT PARITY: every arithmetic step replicates the Spark plan
  * bit-for-bit — `computeProbes` is shared code, the rough estimate
  * mirrors the column expression's double promotions exactly, shortlist
  * and final selection order by (score, vec_id) like TopKAgg — so
  * hot-tier results are byte-identical to `RabitqQuery.topK` at the
  * same parameters (asserted by spec). The label-filtered path mirrors
  * `RabitqQuery.filteredTopK` the same way: identical widening rule
  * (selectivity from the label histogram = the same count aggregate),
  * identical probe order, label skip during the rough scan ≡ the
  * pre-filtered index.
  */
final class HotTier private (
    model: RabitqModel,
    slotOf: Map[Int, Int],                   // cluster_id -> dense slot
    vecIds: Array[Array[Long]],              // per slot
    codes: Array[Array[Array[Long]]],        // per slot, per vector
    factorIp: Array[Array[Float]],
    factorPpc: Array[Array[Float]],
    // no error_bound column: the shortlist key is the unbiased estimate
    // (see query), so the bound is never read on this path — loading it
    // would be dead driver memory ∝ the hot set. (Re-add only with a
    // bound-based true-prune scheme, heuristicTopK's shape.)
    cds: Array[Array[Float]],
    baseVecs: java.util.HashMap[java.lang.Long, Array[Float]],
    labels: Array[Array[Long]],              // per slot; null when unlabeled
    labelCounts: Map[Long, Long],
    nTotal: Long) {

  def hasLabels: Boolean = labels != null

  /** Fraction of indexed vectors carrying `label` — the serving tier's
    * catalog statistic, fed to the probe-widening rule. It equals the
    * count aggregate `RabitqQuery.filteredTopK` measures, which is why
    * both widen identically.
    */
  def labelSelectivity(label: Long): Double =
    if (nTotal == 0) 0.0 else labelCounts.getOrElse(label, 0L).toDouble / nTotal

  /** Live rows per cluster (clusters with at least one row) — the sizes
    * `RabitqIndex.IndexHealth` reports, read from the collected slots.
    */
  def clusterSizes: Array[(Int, Long)] =
    slotOf.toArray.map { case (c, s) => c -> vecIds(s).length.toLong }

  /** Number of indexed (live) vectors held. */
  def nIndexed: Long = nTotal

  /** Number of base vectors held for the exact rerank. */
  def nBase: Long = baseVecs.size.toLong

  /** Single-query top-k: (neighbor_id, dist) sorted by (dist, id).
    *
    * `label`: optional metadata filter — the serving analog of
    * `RabitqQuery.filteredTopK`. The probe widens by the label's
    * precomputed selectivity (effective candidates stay ≈ the caller's
    * nprobe worth), and non-matching vectors are skipped inside the
    * rough scan — no post-filter over-fetch, no recall collapse.
    */
  def query(vec: Array[Float], nprobe: Int, topk: Int, rerank: Int,
            label: Option[Long] = None): Array[(Long, Double)] = {
    val lbl = label.getOrElse(-1L)
    val effProbe = label match {
      case None => nprobe
      case Some(l) =>
        require(hasLabels, "index carries no label column — filtered query unsupported")
        val sel = labelSelectivity(l)
        if (sel == 0.0) return Array.empty // label absent: no candidate can match
        RabitqQuery.widenedProbe(model.params.numClusters, nprobe, sel)
    }
    val probes = RabitqQuery.computeProbes(model, 0L, vec, effProbe)
    // rough estimates over probed clusters (same double-promotion order
    // as the fromProbes column expression)
    val cand = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
    probes.foreach { p =>
      slotOf.get(p.cluster_id).foreach { s =>
        val n = vecIds(s).length
        var i = 0
        while (i < n) {
          if (label.isEmpty || labels(s)(i) == lbl) {
            val ad = VectorOps.asymDot(codes(s)(i), p.planes)
            // unbiased estimate, not the lower bound — must stay
            // byte-identical to fromProbes' shortlist key (see the
            // truncation-vs-prune note there)
            val rough = cds(s)(i).toDouble + p.centroid_d2.toDouble +
              p.lb.toDouble * factorPpc(s)(i).toDouble +
              (2.0 * ad.toDouble - p.sum_q.toDouble) * factorIp(s)(i).toDouble * p.delta.toDouble
            cand += ((rough, vecIds(s)(i)))
          }
          i += 1
        }
      }
    }
    val shortlist = cand.sortBy(identity).take(rerank)
    shortlist.map { case (_, id) =>
      val dist = math.sqrt(VectorOps.l2sq(vec, baseVecs.get(id)))
      (dist, id)
    }.sortBy(identity).take(topk).map { case (d, id) => (id, d) }.toArray
  }
}

object HotTier {

  /** Collect the (RAM-sized, by contract) index + base into driver arrays
    * grouped by cluster. The label that enables the label-filtered query
    * path comes from the index rows when they carry a `label` column
    * (the filtered-vector-search layout), otherwise from the base's
    * `label` column when it has one.
    *
    * The base is checked on the collected arrays, for every base: it
    * must hold rows, every embedding must have the model's dim (a base
    * from another dataset), its `vec_id`s must be unique (a duplicate
    * would silently keep one of two embeddings), and every index row's
    * `vec_id` must be in it (a missing one would fail every query that
    * shortlists it). Any violation throws `IllegalArgumentException`
    * before anything serves.
    */
  def fromIndex(spark: SparkSession, model: RabitqModel, index: DataFrame,
                base: DataFrame): HotTier = {
    val indexLabeled = index.columns.contains("label")
    val baseLabeled = !indexLabeled && base.columns.contains("label")
    val cols = Seq("vec_id", "cluster_id", "code", "factor_ip",
      "factor_ppc", "cds") ++ (if (indexLabeled) Seq("label") else Nil)
    val rows = index.select(cols.head, cols.tail: _*).collect()
    val baseCols = Seq("vec_id", "embedding") ++ (if (baseLabeled) Seq("label") else Nil)
    val baseRows = base.select(baseCols.head, baseCols.tail: _*).collect()
    require(baseRows.nonEmpty, "base embeddings are empty — nothing to serve")
    val dim = model.params.dim
    val baseVecs = new java.util.HashMap[java.lang.Long, Array[Float]](baseRows.length * 2)
    baseRows.foreach { r =>
      val v = Option(r.getSeq[Float](1)).map(_.toArray)
      require(v.exists(_.length == dim), s"saved index dim $dim != base embedding dim " +
        s"${v.fold("null")(_.length.toString)} (vec_id ${r.getLong(0)}) — the index " +
        "was built from a different dataset")
      baseVecs.put(r.getLong(0), v.get)
    }
    require(baseVecs.size == baseRows.length,
      s"base has duplicate vec_ids (${baseRows.length} rows, ${baseVecs.size} " +
        "distinct) — fix the base before serving")
    val missing = rows.count(r => !baseVecs.containsKey(r.getLong(0)))
    require(missing == 0,
      s"$missing index rows have no vec_id in the base — " +
        "index/base mismatch (wrong base path for this index_dir?)")
    val byCluster = rows.groupBy(_.getInt(1)).toArray.sortBy(_._1)
    val slotOf = byCluster.map(_._1).zipWithIndex.toMap
    val vecIds = byCluster.map(_._2.map(_.getLong(0)))
    val codes = byCluster.map(_._2.map(_.getSeq[Long](2).toArray))
    val fip = byCluster.map(_._2.map(_.getFloat(3)))
    val fppc = byCluster.map(_._2.map(_.getFloat(4)))
    val cds = byCluster.map(_._2.map(_.getFloat(5)))
    val labels: Array[Array[Long]] =
      if (indexLabeled) byCluster.map(_._2.map(_.getAs[Number](6).longValue))
      else if (baseLabeled) {
        val labelOf = baseRows.iterator
          .map(r => r.getLong(0) -> r.getAs[Number](2).longValue).toMap
        vecIds.map(_.map(labelOf))
      } else null
    val labelCounts: Map[Long, Long] =
      if (labels != null)
        labels.iterator.flatten.foldLeft(Map.empty[Long, Long]) { (m, l) =>
          m.updated(l, m.getOrElse(l, 0L) + 1L)
        }
      else Map.empty
    new HotTier(model, slotOf, vecIds, codes, fip, fppc, cds, baseVecs,
      labels, labelCounts, rows.length.toLong)
  }
}
