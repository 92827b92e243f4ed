package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Dataset-curation operators for a training-data pipeline: deterministic
  * sampling, benchmark-contamination checks, duplicate clustering,
  * pattern redaction, shard assignment, and latest-record compaction.
  * (North-star extensions beyond the reference's vector surface, like
  * `TextOps`/`Dedup` — the reference engine, kemingy/rabitq, has no
  * curation tier.)
  *
  * Every operator here is deterministic and (where SQL-expressible)
  * DuckDB-oracle-able: sampling/sharding decisions come from the shared
  * portable affine-hash families (`Dedup.affine`, mod `Dedup.P`) rather
  * than `rand()`, so a re-run — or a different engine — selects the same
  * rows. That is also the property a real pipeline wants: samples are
  * reproducible across retries and joinable across stages.
  */
object Curation {

  /** Portable per-row hash in [0, P): (a·(id mod P) + b) mod P with the
    * j-th affine family. `id` is reduced mod P first so the product stays
    * under ~2^60 for any BIGINT id — no overflow on either engine.
    */
  def rowHash(id: Column, family: Int): Column = {
    val (a, b) = Dedup.affine(family)
    (lit(a) * (id % Dedup.P) + lit(b)) % Dedup.P
  }

  /** Deterministic stratified sampling: keep a row iff
    * rowHash(id) < floor(rate(stratum)·P). Pure codegen filter — no
    * shuffle, no RNG state, embarrassingly parallel at any scale — and
    * the kept set is a superset across increasing rates (same hash, lower
    * threshold ⊂ higher threshold), which makes nested sample sizes
    * (1% ⊂ 10% ⊂ 50%) consistent, the property ablation studies need.
    *
    * `rates` maps stratum value → keep rate in [0,1]; absent strata use
    * `default`.
    */
  def stratifiedSample(df: DataFrame, id: Column, stratum: Column,
      rates: Map[String, Double], default: Double): DataFrame = {
    val threshold = rates.foldLeft(lit(math.floor(default * Dedup.P).toLong)) {
      case (acc, (k, r)) => when(stratum === k, lit(math.floor(r * Dedup.P).toLong)).otherwise(acc)
    }
    df.filter(rowHash(id, 0) < threshold)
  }

  /** Benchmark-contamination check: (corpus doc, benchmark doc) pairs
    * sharing ≥ `minOverlap` distinct word n-grams. The decontamination
    * pass every LLM training pipeline runs before training.
    *
    * Scale shape: the benchmark side (eval suites) is tiny relative to
    * the corpus, so its shingle index is BROADCAST — the 100 TB corpus
    * streams through a map-side hash join with no shuffle of corpus
    * shingles. Shingles are compared as 64-bit `xxhash64` values
    * (`Dedup.shingleHashes` — fused codegen, no string materialization);
    * distinct-hash counts equal distinct-string counts up to a ~2⁻⁶⁴
    * collision, which is how the string-based DuckDB oracle still
    * hash-matches.
    *
    * Output: (doc_id, bench_id, n_overlap), corpus doc × benchmark doc.
    */
  def contamination(corpus: DataFrame, bench: DataFrame, n: Int,
      minOverlap: Int): DataFrame = {
    val corpusSh = Dedup.shingleHashes(corpus, n)
    val benchSh = Dedup.shingleHashes(bench, n)
      .withColumnRenamed("doc_id", "bench_id")
    corpusSh.join(broadcast(benchSh), "shingle")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
  }

  /** Connected components over an undirected pair list (doc_a, doc_b):
    * labels every endpoint with the minimum doc_id reachable from it —
    * near-dup pairs become dedup CLUSTERS, so a pipeline can keep one
    * representative per component instead of per pair (pairwise removal
    * breaks on transitive chains A~B~C where A,C are not a pair).
    *
    * Size-dispatched execution, because the two regimes want opposite
    * plans:
    *  - **Small edge set** (≲ `singleTaskMaxPairs`, the near-universal
    *    case for near-dup graphs — banding already reduced the corpus to
    *    pairs): ONE task runs union-find over the pair list via
    *    `mapPartitions` (RDD — genuine per-partition imperative logic).
    *    O(E·α) with zero iterative scheduling; an iterative DataFrame
    *    loop on the same input pays ~0.5 s of fixed per-round stage
    *    overhead regardless of partition width (measured at sf0.1:
    *    13 rounds × 0.4 s for a 1.1 k-node graph).
    *  - **Large edge set**: distributed hash-min label propagation —
    *    each round every node takes the min label among itself and its
    *    neighbors (edges ⋈ labels on dst, groupBy src). Rounds = graph
    *    diameter; near-dup graphs are shallow quasi-cliques, so few
    *    rounds, and each round's fixed cost amortizes over real data.
    *    The edge list is hash-partitioned on the join key once and
    *    cached (only the label side moves per round); each round's frame
    *    is localCheckpointed (lineage stays O(1)); the convergence check
    *    counts changed labels on the already-materialized partitions.
    *    For adversarially deep graphs the large-star/small-star variant
    *    (Kiveris et al., "Connected Components in MapReduce and Beyond")
    *    would drop rounds to O(log n); not needed for this shape.
    * Both paths produce identical output (asserted by a forced-path
    * equality test): min-reachable-doc_id labels.
    *
    * Output: (doc_id, component) for every doc that appears in a pair.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
      singleTaskMaxPairs: Long = 25000000L): DataFrame = {
    // materialize the pair list ONCE: the size probe and the solve are
    // separate actions, and an un-cached upstream (a whole similarity
    // join, typically) would otherwise run end-to-end for each
    val p = pairs.select(col("doc_a"), col("doc_b")).localCheckpoint(true)
    val pairCount = p.count()
    if (pairCount <= singleTaskMaxPairs) connectedComponentsSingleTask(p)
    else connectedComponentsLoop(p, maxIter)
  }

  /** Union-find over the whole pair list in one task (small-graph path).
    * ~25M pairs ≈ 400 MB of longs — comfortably one executor's work.
    */
  private[graft] def connectedComponentsSingleTask(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    val out = pairs.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
      .repartition(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          parent(x) = r
          r
        }
        it.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          // min id becomes the root, so roots ARE the output labels
          if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
          else { parent.getOrElseUpdate(ra, ra); () }
        }
        parent.keysIterator.toArray.sorted.iterator
          .map(n => org.apache.spark.sql.Row(n, find(n)))
      }
    spark.createDataFrame(out, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("component", org.apache.spark.sql.types.LongType))))
  }

  /** Distributed hash-min label propagation (large-graph path). */
  private[graft] def connectedComponentsLoop(pairs: DataFrame, maxIter: Int): DataFrame = {
    val parts = pairs.sparkSession.sessionState.conf.numShufflePartitions
    // symmetric edge list, laid out by dst once — every round's
    // edges⋈labels reuses this partitioning (only labels shuffle)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .repartition(parts, col("dst"))
      .persist()
    // round 0 fused with init: label(v) = min(v, min neighbor) — one pass
    // over edges, no separate distinct-nodes job
    var labels = edges
      .groupBy(col("dst"))
      .agg(min(col("src")).as("m"))
      .select(col("dst").as("node"), least(col("m"), col("dst")).as("comp"))
      .localCheckpoint(true)
    var changed = 1L
    var iter = 0
    // bounded storage residency: each round materializes via persist()
    // and eagerly releases the previous round's blocks (residency ≤ 2
    // label frames, not maxIter of them); every 8th round substitutes a
    // localCheckpoint so lineage depth stays ≤ 8 rounds even though the
    // intermediate persists get dropped
    var prevPersisted: Option[DataFrame] = None
    while (changed > 0 && iter < maxIter) {
      val nbrMin = edges.join(labels, edges("dst") === labels("node"))
        .groupBy(col("src")).agg(min(col("comp")).as("nbr_comp"))
        .select(col("src").as("node"), col("nbr_comp"))
      val stepPlan = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"), col("comp").as("prev"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))
      val checkpointRound = iter % 8 == 7
      val step = if (checkpointRound) stepPlan.localCheckpoint(true) else stepPlan.persist()
      changed = step.filter(col("comp") =!= col("prev")).count() // materializes
      prevPersisted.foreach(_.unpersist())
      prevPersisted = if (checkpointRound) None else Some(step)
      labels = step.select(col("node"), col("comp"))
      iter += 1
    }
    edges.unpersist()
    // silent wrong answers are worse than failing: an unconverged exit
    // would label one real component as several
    if (changed > 0) {
      prevPersisted.foreach(_.unpersist())
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds " +
          s"($changed labels still changing) — raise maxIter for graphs of diameter > $maxIter")
    }
    val out = labels.select(col("node").as("doc_id"), col("comp").as("component"))
      .localCheckpoint(true)
    prevPersisted.foreach(_.unpersist())
    out
  }

  /** Per-doc pattern counts plus an md5 fingerprint of the text with all
    * patterns redacted (applied in sequence, left to right) — the
    * PII-scrub shape: count what was found, prove what the scrubbed text
    * is, without shipping the text itself. Patterns must stay in the
    * Java∩RE2 regex subset (char classes, quantifiers, \b, alternation) so
    * the DuckDB oracle matches; no lookarounds or backreferences.
    * Pure codegen column arithmetic — linear, shuffle-free.
    */
  def redactionStats(docs: DataFrame, patterns: Seq[(String, String)]): DataFrame = {
    val counts = patterns.map { case (nm, re) =>
      regexp_count(col("text"), lit(re)).cast("long").as(s"n_$nm")
    }
    val redacted = patterns.foldLeft(col("text")) { case (acc, (_, re)) =>
      regexp_replace(acc, re, "[REDACTED]")
    }
    docs.select(col("doc_id") +: counts :+ md5(redacted).as("redacted_fp"): _*)
  }

  /** Hash-assign every doc to one of `numShards` training shards and
    * report per-shard statistics (doc count, token mass, distinct langs).
    * The assignment column IS Spark's co-location key: writing with
    * `.repartition(numShards, col("shard"))` + `partitionBy("shard")`
    * gives shard-local files with uniform (hash) balance and no sort —
    * the layout a distributed trainer reads one shard per worker.
    */
  def shardStats(docs: DataFrame, numShards: Int): DataFrame =
    docs.select((rowHash(col("doc_id"), 1) % numShards).as("shard"),
        col("doc_id"), col("lang"), TextOps.tokenCount(col("text")).as("n_tokens"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        countDistinct(col("lang")).as("n_langs"))

  /** Deterministic training order: every row gets a pseudo-random but
    * reproducible position (affine hash of its id — family 2, independent
    * of the sampling/sharding families), which is the "global shuffle"
    * a trainer wants: any engine, any run, any partitioning produces the
    * same order, and a restart can seek to position k. Materializing the
    * head of the order is `TakeOrderedAndProject` (bounded per-partition
    * heaps, no global sort); writing the WHOLE order is a range-partition
    * sort on the hash — Spark's sort machinery, no driver involvement.
    */
  def trainingOrder(id: Column): Column = rowHash(id, 2)

  /** Latest-record compaction: one surviving row per key, the one with
    * the greatest (ts, tieBreak) — the CDC "latest wins" upsert /
    * changelog-compaction primitive. Implemented as groupBy + max_by on a
    * struct ordering key: partial aggregation runs map-side (each
    * partition forwards ONE candidate row per key, not its whole
    * history), where the window-function formulation would shuffle and
    * sort every version of every key. `tieBreak` must make the ordering
    * key unique or the result is not deterministic.
    */
  def latestByKey(df: DataFrame, keys: Seq[Column], ts: Column,
      tieBreak: Column, payload: Seq[(String, Column)]): DataFrame = {
    val packed = struct(payload.map { case (nm, c) => c.as(nm) }: _*)
    df.groupBy(keys: _*)
      .agg(max_by(packed, struct(ts, tieBreak)).as("last"))
      .select(keys ++ payload.map { case (nm, _) => col(s"last.$nm").as(nm) }: _*)
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al., "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication",
    * 2023 — public paper): coarse-cluster the embedding space, find
    * cosine-near-duplicate pairs only WITHIN clusters, and drop every
    * non-representative member of each transitive near-dup component
    * (min vec_id survives). This is the embedding-space analog of exact
    * dedup: paraphrases/translations/re-renders that share no n-grams
    * but embed together.
    *
    * Scale shape, stage by stage:
    *  - assignment: ONE codegen expression per row
    *    (VectorExpressions.NearestCentroidF32 — argmin inside the row,
    *    the k×dim centroid matrix riding in the plan as a reference,
    *    like the IVF model broadcast) — no n×k frame exists and the
    *    corpus is never shuffled for assignment;
    *  - pair search: one exchange on cluster id; within-cluster work is
    *    Σ n_c²/2 ≈ n²/2k, so K MUST SCALE WITH n (SemDeDup's published
    *    practice — n_c held roughly constant; 50k clusters for LAION).
    *    For clustered-skew corpora reuse the 2-level hierarchical
    *    k-means (RabitqIndex B5) as the coarse stage;
    *  - clustering + representative: the connected-components solver
    *    (size-dispatched union-find) over the pair list, then one
    *    broadcast anti-join of the dropped ids.
    *
    * `centroids`: (cid, ce) rows — from any k-means fit, or a
    * deterministic sample for oracle-replayable runs (the q101 shape).
    * Argmin ties break on cid, so assignment is total-ordered and
    * engine-portable. Output: surviving (vec_id, cluster), one row per
    * kept vector.
    */
  def semanticDedup(spark: org.apache.spark.sql.SparkSession, emb: DataFrame,
      centroids: DataFrame, threshold: Double): DataFrame = {
    // assignment is ONE codegen expression per row (argmin inside the
    // row, centroid matrix as a plan reference) — no n×k frame exists.
    // Stateless and cheap (k·dim flops/row), so consumers just
    // re-evaluate it instead of caching an intermediate
    dedupByCluster(emb, flatAssignment(collectCentroids(centroids)), threshold)
  }

  /** Scale variant of [[semanticDedup]] for k that grows with n (the
    * pair-scan bound forces k ∝ n, which makes FLAT assignment
    * O(n·k·dim) — quadratic through the back door). Assignment goes
    * through a TWO-LEVEL scan (`NearestCentroidHierF32`): nearest of
    * ~√k super-centroids (fit DISTRIBUTED — seeded MLlib k-means over
    * the centroid DataFrame, see [[hierAssignment]]), then nearest
    * member within that super — O(2√k·dim) per row. Approximate at super-cell boundaries
    * (the standard hierarchical-IVF coarse-quantizer trade, B5's shape);
    * for dedup semantics a boundary vector merely compares within a
    * neighboring cell. `branch` ≤ 0 picks round(√k).
    */
  def semanticDedupHier(spark: org.apache.spark.sql.SparkSession, emb: DataFrame,
      centroids: DataFrame, threshold: Double, branch: Int = 0): DataFrame =
    dedupByCluster(emb,
      hierAssignment(spark, collectCentroids(centroids), branch), threshold)

  /** Incremental SEMANTIC dedup — the q94 shape in embedding space, the
    * composition a real ingest pipeline runs daily: which vectors of
    * today's batch are semantic near-dups of the standing corpus? An
    * incoming vector is dropped iff some HISTORY member of its own coarse
    * cluster is cosine-≥-threshold near it (within-incoming duplicates
    * both survive, exactly like [[Dedup.incrementalNew]]'s contract —
    * they are new to the corpus).
    *
    * Scale shape: history NEVER shuffles — both sides get their cluster
    * from the same assignment expression (one codegen argmin per row; at
    * scale history's assignment is already persisted as the
    * cluster-partitioned layout and prunes instead of recomputing), and
    * the join broadcasts the day-batch side, so the corpus streams
    * through a map-side hash join. The matched set is id-only. Set
    * `broadcastIncoming = false` when the batch outgrows broadcast —
    * Catalyst then shuffles BOTH sides on cluster, the co-partitioned
    * fallback.
    *
    * `branch` selects the assignment kernel exactly as in
    * [[semanticDedupHier]]: 0 = flat argmin, > 0 = two-level with that
    * branching, < 0 = two-level with branch = round(√k) — the k ∝ n
    * scale path. Both sides always share one kernel, so the
    * cluster-equality join is self-consistent by construction.
    *
    * Output: surviving incoming rows (vec_id, cluster).
    */
  def incrementalSemanticDedup(spark: org.apache.spark.sql.SparkSession,
      history: DataFrame, incoming: DataFrame, centroids: DataFrame,
      threshold: Double, branch: Int = 0,
      broadcastIncoming: Boolean = true): DataFrame = {
    import graft.functions.VectorExpressions
    val cent = collectCentroids(centroids)
    val cluster =
      if (branch == 0) flatAssignment(cent)
      else hierAssignment(spark, cent, branch)
    val inc = incoming.select(col("vec_id"), col("embedding"), cluster.as("cluster"))
    val incSide = inc.select(col("cluster"), col("vec_id").as("iid"),
      col("embedding").as("ie"))
    val matched = history
      .select(col("embedding").as("he"), cluster.as("cluster"))
      .join(if (broadcastIncoming) broadcast(incSide) else incSide, Seq("cluster"))
      .filter(VectorExpressions.cosineSim(col("he"), col("ie")) >= threshold)
      .select(col("iid").as("vec_id")).distinct()
    inc.join(matched, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cluster"))
  }

  /** Flat nearest-centroid assignment column (argmin over all k inside
    * one codegen expression, centroid matrix riding in the plan).
    */
  private[graft] def flatAssignment(cent: Array[(Long, Array[Float])]): Column = {
    import graft.functions.VectorExpressions
    VectorExpressions.nearestCentroid(col("embedding"),
      cent.flatMap(_._2), cent.map(_._1))
  }

  /** Two-level assignment column for the k ∝ n regime: EVERY super-linear
    * stage runs distributed —
    *  - the super-centroid fit is MLlib k-means over the centroid
    *    DataFrame (O(k·branch·dim·iters) spread across executors; the
    *    pre-r15 driver-side Lloyd was O(k^1.5·dim) on one core — hours
    *    exactly where k ∝ n makes this variant matter);
    *  - the centroid → super assignment is one codegen argmin pass over
    *    the same frame, collecting only k (cid, super) ints.
    * Only metadata-sized state ever lands on the driver: the branch×dim
    * super matrix, the k-int member lists, and the k×dim centroid matrix
    * the kernel itself embeds (bounded by [[collectCentroids]]' budget).
    * Member indices ascend in cid within each super, so the strict-<
    * member argmin ties toward the smaller cid exactly like flat.
    *
    * The fit and the centroid→super pass both run over a frame REBUILT
    * from the already-collected matrix — a derived, unpersisted caller
    * frame is never re-executed here, and the fit input is guaranteed
    * bit-equal to the matrix the kernel embeds.
    */
  private[graft] def hierAssignment(spark: org.apache.spark.sql.SparkSession,
      cent: Array[(Long, Array[Float])], branch: Int): Column = {
    import graft.functions.VectorExpressions
    val k = cent.length
    val b0 = if (branch > 0) math.min(branch, k) else math.max(1, math.round(math.sqrt(k)).toInt)
    // MLlib k-means CRASHES (block-training indexes k centers) when the
    // input has fewer distinct points than k — duplicate-heavy centroid
    // sets are exactly the dedup use case, so cap the branching at the
    // distinct count first (one O(k·dim) pass over the matrix we
    // already hold)
    val b = math.min(b0, cent.iterator.map(_._2.toSeq).toSet.size)
    // degenerate single super: the member scan covers all k centroids,
    // so assignment ≡ flat (the q102 exactness leg) — no fit needed
    def singleSuper: Column = VectorExpressions.nearestCentroidHier(col("embedding"),
      cent(0)._2, Array(0, k), cent.indices.toArray,
      cent.flatMap(_._2), cent.map(_._1))
    if (b <= 1) return singleSuper
    val centDf = { import spark.implicits._; cent.toSeq.toDF("cid", "ce") }
    val supers: Array[Array[Float]] = {
      import org.apache.spark.ml.functions.array_to_vector
      val withVec = centDf
        .select(array_to_vector(col("ce")).as("features")).cache()
      try {
        val km = new org.apache.spark.ml.clustering.KMeans()
          .setK(b).setSeed(42L).setMaxIter(10)
          .setFeaturesCol("features").setPredictionCol("sup")
        km.fit(withVec).clusterCenters.map(_.toArray.map(_.toFloat))
      } finally { withVec.unpersist(); () }
    }
    // k-means returns FEWER than b centers when the centroids hold fewer
    // distinct points (duplicate-heavy corpora) — size every downstream
    // array by what it actually returned, or the kernel's super stride
    // (supers.length·dim / offsets) silently misreads the matrix
    val bActual = supers.length
    if (bActual <= 1) return singleSuper
    // distributed centroid→super argmin (same codegen kernel as row
    // assignment; label j = super index), collected as k ints
    val supOf: Map[Long, Int] = centDf
      .select(col("cid"), VectorExpressions.nearestCentroid(col("ce"),
        supers.flatten, Array.tabulate(bActual)(_.toLong)).as("sup"))
      .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    val assignSup = cent.map(c => supOf(c._1))
    val members = Array.tabulate(bActual)(s => cent.indices.filter(assignSup(_) == s).toArray)
    val offsets = members.scanLeft(0)(_ + _.length)
    VectorExpressions.nearestCentroidHier(col("embedding"),
      supers.flatten, offsets, members.flatten, cent.flatMap(_._2), cent.map(_._1))
  }

  /** Metadata-sized collect (k × dim floats — the IVF-model shape),
    * sorted by cid so strict-< argmins tie toward the smaller id,
    * matching a SQL `ORDER BY dist, cid` replay.
    *
    * BUDGET GUARD: the assignment kernels embed this matrix in the plan
    * (`ctx.addReferenceObj`), so k·dim must stay driver/plan-sized — the
    * same contract as the IVF model broadcast. 2²⁸ floats (1 GiB) covers
    * SemDeDup's published practice (50k clusters × 768 dims ≈ 2²⁵·¹)
    * with 8× headroom; past it, shard the corpus and dedup per shard, or
    * reduce k.
    */
  private val MaxCentroidFloats: Long = 1L << 28
  private[graft] def collectCentroids(centroids: DataFrame): Array[(Long, Array[Float])] = {
    val sized = centroids.agg(count(lit(1)), first(size(col("ce")))).head()
    val k = sized.getLong(0)
    val dim = if (sized.isNullAt(1)) 0L else sized.getInt(1).toLong
    require(k * dim <= MaxCentroidFloats,
      s"centroid matrix $k x $dim exceeds the ${MaxCentroidFloats}-float " +
        "plan budget — shard the corpus or reduce k (see collectCentroids scaladoc)")
    centroids.select(col("cid"), col("ce")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
  }

  /** Shared downstream of both semantic-dedup variants: within-cluster
    * cosine pairs, components, min-id representative survives.
    */
  private def dedupByCluster(emb: DataFrame, cluster: Column,
      threshold: Double): DataFrame = {
    import graft.functions.VectorExpressions
    val assigned = emb.select(col("vec_id"), col("embedding"), cluster.as("cluster"))
    def side(idCol: String, embCol: String) =
      assigned.select(col("cluster"), col("vec_id").as(idCol), col("embedding").as(embCol))
    val pairs = side("id_a", "ea").join(side("id_b", "eb"), Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(VectorExpressions.cosineSim(col("ea"), col("eb")) >= threshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val dropped = connectedComponents(pairs)
      .filter(col("doc_id") =!= col("component"))
      .select(col("doc_id").as("vec_id"))
    // NO broadcast hint on the anti-join: on real SemDeDup corpora the
    // dropped set is a large FRACTION of n (the paper removes up to ~50%
    // of web data), far past broadcast limits — AQE still broadcasts it
    // when it is actually small (the planted-dup smoke shape)
    assigned.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cluster"))
  }
}
