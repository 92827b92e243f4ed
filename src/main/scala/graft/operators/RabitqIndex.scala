package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.graft.SeededRelation
import org.apache.spark.sql.types.StructType
import graft.Overlap
import graft.functions.VectorOps

/** Index-build parameters. `seed` drives rotation, k-means init, and the
  * quantizer dither — the reference leaves all three unseeded / per-load
  * (`/root/reference/src/utils.rs:17,38`, `/root/reference/src/rabitq.rs:119`);
  * we seed and persist them so builds are reproducible (SURVEY.md §7 hard
  * part b).
  */
case class RabitqParams(dim: Int, padDim: Int, numClusters: Int, seed: Long)

/** Small driver-side model state, broadcast to executors at use sites:
  * rotation (padDim×padDim, row-major, orthogonal), ROTATED padded
  * centroids (numClusters × padDim), and the per-dimension dither bias.
  * Everything per-vector lives in the index DataFrame, never on the driver.
  *
  * `rerankScale` — (numClusters / BUILT_K)², the budget adaptation for
  * a rebalance-grown layout ([[RabitqIndex.scaledRerank]]'s measured
  * story). Populated by [[RabitqIndex.load]] from the `BUILT_K` sidecar
  * so EVERY query entry point — memory ([[RabitqQuery.topK]]/
  * `filteredTopK`), disk, and serving — applies the same scaling; a
  * freshly built model is 1.0 by construction. Riding in the model
  * (rather than re-read from the dir per query) also makes the scale a
  * load-time cost instead of a per-request file read.
  */
case class RabitqModel(
    params: RabitqParams,
    rotation: Array[Array[Float]],
    centroids: Array[Array[Float]],
    bias: Array[Float],
    rerankScale: Double = 1.0) {

  /** Per-caller override of the rebalance-grown rerank adaptation for
    * the in-memory query paths (`RabitqQuery.topK` reads the factor
    * from the model it is handed; the disk paths take it as a call
    * parameter). Operating points measured on the SCALE_r18 1M
    * frontier (256→368 split, np16): 1.0 → pre-split budget, recall
    * 0.761; k′/k0 → 0.816; the default (k′/k0)² → 0.856 at ~flat cost
    * (query time is probe-scan-dominated); ~2.5× → 0.878, vs 0.883
    * pre-skew parity. See `RabitqIndex.scaledRerank` for the full
    * frontier rationale.
    */
  def withRerankScale(s: Double): RabitqModel = copy(rerankScale = s)
}

/** IVF-RaBitQ index build as one Catalyst plan (SURVEY.md §2.2 B1–B12).
  *
  * Output index DataFrame (one row per vector):
  *   vec_id: long, cluster_id: int, code: array<long> (padDim/64 words),
  *   factor_ip/factor_ppc/error_bound/cds: float
  *
  * The reference's CSR layout (`/root/reference/src/rabitq.rs:231-252`)
  * becomes `write.partitionBy("cluster_id")` — probe selection turns into
  * Catalyst partition pruning instead of offset slices.
  */
object RabitqIndex {

  /** Seeded random orthogonal rotation (B2): QR of a Gaussian matrix with
    * column signs fixed by diag(R) > 0 so Q is unique.
    * (Reference: `/root/reference/src/utils.rs:16-20`, unseeded.)
    */
  def randomOrthogonal(dim: Int, seed: Long): Array[Array[Float]] = {
    import breeze.linalg.{DenseMatrix, qr, diag}
    val rnd = new java.util.Random(seed)
    val g = DenseMatrix.fill[Double](dim, dim)(rnd.nextGaussian())
    val decomp = qr(g)
    val q = decomp.q
    val signs = (0 until dim).map(j => if (decomp.r(j, j) < 0) -1.0 else 1.0)
    Array.tabulate(dim)(i => Array.tabulate(dim)(j => (q(i, j) * signs(j)).toFloat))
  }

  /** Per-dimension dither bias in [0,1), seeded and persisted with the
    * model (the reference regenerates it every load,
    * `/root/reference/src/rabitq.rs:119`).
    */
  def ditherBias(dim: Int, seed: Long): Array[Float] = {
    val rnd = new java.util.Random(seed + 1)
    Array.fill(dim)(rnd.nextFloat())
  }

  /** Train k-means (MLlib k-means‖, B5) then encode. The feature frame is
    * cached for the iterative fit (else every Lloyd iteration re-reads and
    * re-converts the parquet).
    */
  def build(spark: SparkSession, base: DataFrame, numClusters: Int,
            seed: Long): (RabitqModel, DataFrame) = Overlap.labelled(spark, "rabitq: kmeans fit") {
    val withVec = base.select(col("vec_id"), col("embedding"))
      .withColumn("features", array_to_vector(col("embedding")))
      .cache()
    try {
      // k-means|| init: costs a few extra passes vs random init but
      // measurably better IVF partitions (recall 0.85 vs 0.81 at the
      // same probe budget on sf0.01) — worth it, the fit is build-time
      val km = new KMeans()
        .setK(numClusters).setSeed(seed).setMaxIter(10)
        .setFeaturesCol("features").setPredictionCol("cluster_id")
      val kmModel = km.fit(withVec)
      buildWithCentroids(spark, base, kmModel.clusterCenters.map(_.toArray.map(_.toFloat)), seed)
    } finally withVec.unpersist()
  }

  /** Sampled build for large bases: fit k-means on a deterministic
    * Bernoulli sample (vec_id hash) and encode the FULL base against the
    * fitted centroids. This is the only build shape that holds at 100 TB —
    * Lloyd's iterative passes touch the bounded sample while the full data
    * is read exactly once, for encoding. Centroid quality degrades
    * gracefully with sample size (it shapes partition balance, not
    * correctness — rerank is exact regardless).
    */
  def buildSampled(spark: SparkSession, base: DataFrame, numClusters: Int,
                   sampleN: Long, seed: Long): (RabitqModel, DataFrame) = {
    val total = base.count()
    val sample =
      if (total <= sampleN) base
      else base.filter(
        pmod(xxhash64(col("vec_id"), lit(seed)), lit(1000000L)) <
          lit(math.min(1000000L, sampleN * 1000000L / total)))
    val withVec = sample.select(col("vec_id"), col("embedding"))
      .withColumn("features", array_to_vector(col("embedding")))
      .cache()
    try {
      val km = new KMeans()
        .setK(numClusters).setSeed(seed).setMaxIter(10)
        .setFeaturesCol("features").setPredictionCol("cluster_id")
      val kmModel = km.fit(withVec)
      buildWithCentroids(spark, base, kmModel.clusterCenters.map(_.toArray.map(_.toFloat)), seed)
    } finally withVec.unpersist()
  }

  /** Two-level k-means (analog of the reference's hierarchical training,
    * `/root/reference/scripts/cluster.py:79-108`): MLlib k-means for the
    * k1 top clusters, then a deterministic in-partition Lloyd refinement
    * splitting each top cluster into k2 — the per-group step runs
    * DISTRIBUTED via flatMapGroups (one task per top cluster), which is
    * the shape that scales: top-level global pass, second level
    * embarrassingly parallel.
    */
  def buildHierarchical(spark: SparkSession, base: DataFrame,
                        k1: Int, k2: Int, seed: Long): (RabitqModel, DataFrame) = {
    import spark.implicits._
    val withVec = base.select(col("vec_id"), col("embedding"))
      .withColumn("features", array_to_vector(col("embedding")))
    val km = new KMeans()
      .setK(k1).setSeed(seed).setMaxIter(10)
      .setFeaturesCol("features").setPredictionCol("top_cluster")
    val top = km.fit(withVec).transform(withVec).drop("features")

    val subCentroids: Array[Array[Float]] = top
      .select(col("top_cluster"), col("vec_id"), col("embedding"))
      .as[(Int, Long, Seq[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (g, it) =>
        val pts = it.toArray.sortBy(_._2).map(_._3.toArray)
        localLloyd(pts, math.min(k2, pts.length), iters = 10).map(c => (g, c.toSeq))
      }
      .collect().sortBy(_._1).map(_._2.toArray)

    buildWithCentroids(spark, base, subCentroids, seed)
  }

  /** Deterministic local Lloyd iterations: init = evenly spaced points of
    * the (id-sorted) group, empty clusters keep their previous center.
    */
  private[operators] def localLloyd(pts: Array[Array[Float]], k: Int, iters: Int): Array[Array[Float]] = {
    if (pts.isEmpty) return Array.empty
    val dim = pts(0).length
    var centers = Array.tabulate(k)(i => pts((i.toLong * pts.length / k).toInt).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      pts.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          val d = VectorOps.l2sq(p, centers(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
      }
      centers = Array.tabulate(k) { c =>
        if (counts(c) == 0) centers(c)
        else Array.tabulate(dim)(i => (sums(c)(i) / counts(c)).toFloat)
      }
    }
    centers
  }

  /** Encode against precomputed raw-space centroids: rotate, assign by
    * broadcast argmin (B4 — a broadcast nearest-neighbor join), residual →
    * code + factors (B1, B3, B6–B11) in one narrow pass.
    */
  def buildWithCentroids(spark: SparkSession, base: DataFrame,
                         rawCentroids: Array[Array[Float]], seed: Long): (RabitqModel, DataFrame) = {
    val dim = base.select(size(col("embedding"))).head().getInt(0)
    val padDim = ((dim + 63) / 64) * 64
    val params = RabitqParams(dim, padDim, rawCentroids.length, seed)

    val rotation = randomOrthogonal(padDim, seed)
    val rotCentroids = rawCentroids.map(c => VectorOps.rotate(rotation, VectorOps.pad(c, 64)))
    val model = RabitqModel(params, rotation, rotCentroids, ditherBias(padDim, seed))

    val bRaw = spark.sparkContext.broadcast(rawCentroids)
    val assignUdf = udf { (emb: Seq[Float]) =>
      val v = emb.toArray
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < bRaw.value.length) {
        val d = VectorOps.l2sq(v, bRaw.value(c))
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    val assigned = base.select(col("vec_id"), col("embedding"))
      .withColumn("cluster_id", assignUdf(col("embedding")))

    val bRot = spark.sparkContext.broadcast(rotation)
    val bCent = spark.sparkContext.broadcast(rotCentroids)
    // B1+B3+B6..B11 fused in one pass per row: pad → rotate → residual →
    // code + factors. One UDF emitting a struct keeps it a single narrow
    // projection (no intermediate shuffles or row explosions).
    val encode = udf { (emb: Seq[Float], cluster: Int) =>
      val rot = VectorOps.rotate(bRot.value, VectorOps.pad(emb.toArray, 64))
      val residual = VectorOps.subtract(rot, bCent.value(cluster))
      val code = VectorOps.binarizeU64(residual)
      val (fip, fppc, err, cds) = VectorOps.factors(residual)
      (code, fip, fppc, err, cds)
    }

    val index = assigned
      .withColumn("enc", encode(col("embedding"), col("cluster_id")))
      .select(
        col("vec_id"),
        col("cluster_id"),
        col("enc._1").as("code"),
        col("enc._2").as("factor_ip"),
        col("enc._3").as("factor_ppc"),
        col("enc._4").as("error_bound"),
        col("enc._5").as("cds"))
    (model, index)
  }

  /** Resolve the ACTIVE index data directory of a saved layout. A fresh
    * [[save]] writes `$dir/index` and no MANIFEST; a compaction
    * (`VecsStream.compactIndex`) rewrites the live rows into a new
    * versioned sibling (`index-v2`, `index-v3`, …) and atomically swaps
    * a one-line MANIFEST to point at it — so every reader and appender
    * resolves through here and a crash mid-compaction can never expose
    * a partial layout (readers keep the old generation until the swap).
    */
  def indexDataDir(layout: Layout): String = s"${layout.dir}/${activeName(layout)}"

  private def activeName(layout: Layout): String = {
    val mf = s"${layout.dir}/MANIFEST"
    if (layout.fs.isFile(mf)) layout.fs.readString(mf).trim else "index"
  }

  /** The tombstone log of the ACTIVE generation. Logs are PER
    * GENERATION (`deletes` for the base `index` dir, `deletes-vN` for
    * `index-vN`): a compaction folds the current generation's log into
    * the rewrite and swaps the MANIFEST — the NEW generation starts with
    * no log, and the folded log stays on disk untouched (an in-flight
    * reader that resolved the old generation pre-swap keeps BOTH its
    * data dir and its log until the retention window expires —
    * [[vacuumIndex]] reclaims them together). Writers (the maintain
    * stream's del leg) resolve through here per batch, exactly like the
    * data dir resolves through the MANIFEST.
    */
  def tombstoneLogDir(layout: Layout): String =
    logDirOfGen(layout.dir, activeName(layout))

  private[graft] def logDirOfGen(dir: String, gen: String): String =
    if (gen == "index") s"$dir/deletes"
    else s"$dir/deletes-${gen.stripPrefix("index-")}"

  /** One generation as ONE operation reads it. The reference loads its
    * index as one immutable unit (`/root/reference/src/rabitq.rs:128-156`);
    * a read pieced together from repeated metadata reads can mix two
    * generations (a publish between two MANIFEST reads). So every reader
    * and lifecycle op resolves once ([[resolve]]: one MANIFEST read, one
    * `_commits` walk) and takes everything from the snapshot:
    *  - `name` and `inProgress`, fixed at resolve time: the prefixes of
    *    promoted-but-unmarked batches (`IdempotentSink.sentinels`);
    *  - `model`, the generation's `_model.json` ([[modelOfGen]]);
    *  - `carry`, the shape of its carry listing ([[Carry]]);
    *  - `logFiles`, the committed files of its tombstone log;
    *  - `ownFiles`, its committed own data files per cluster.
    * Each is read on first use, once, through the handle's `fs`; a probe
    * restriction lists only its cluster dirs.
    *
    * Committed = outside an uncommitted batch. The replay may sweep such
    * a batch's files at any moment, so a racing reader must neither serve
    * them nor hard-fail on their deletion (found by the crash×race
    * hammer), and footers count exactly the files a scan reads.
    */
  private[graft] final class GenSnapshot private[RabitqIndex] (
      val layout: Layout, val name: String, val inProgress: Seq[String]) {
    val dir: String = s"${layout.dir}/$name"
    lazy val model: RabitqModel = modelOfGen(layout, dir)
    lazy val carry: Carry = carryOf(layout, name)
    lazy val logFiles: Seq[FsEntry] =
      dataFiles(layout, logDirOfGen(layout.dir, name)).filter(f => isCommitted(f.name))
    private lazy val listedAll = listOwn(None)

    def isCommitted(fileName: String): Boolean =
      !inProgress.exists(p => fileName.startsWith(p + "-"))

    /** Own data files of `clusters` (every cluster when None) as
      * (cluster_id, file), committed or not.
      */
    def listed(clusters: Option[Set[Int]]): Seq[(Int, FsEntry)] =
      if (clusters.isEmpty) listedAll else listOwn(clusters)

    private def listOwn(clusters: Option[Set[Int]]): Seq[(Int, FsEntry)] =
      clusters.map(_.toSeq).getOrElse(layout.fs.list(dir)
          .filter(d => d.isDir && d.name.startsWith("cluster_id="))
          .map(_.name.stripPrefix("cluster_id=").toInt))
        .sorted.flatMap(c => dataFiles(layout, s"$dir/cluster_id=$c").map(c -> _))

    def ownFiles(clusters: Option[Set[Int]] = None): Seq[(Int, FsEntry)] =
      listed(clusters).filter(f => isCommitted(f._2.name))

    /** Committed carry entries of `clusters` (all when None). Listings
      * are built from committed files only, so the filter is defensive.
      */
    def carried(clusters: Option[Set[Int]] = None): Seq[String] =
      clusters.fold(carry.all)(carry.forClusters)
        .filter(e => isCommitted(e.split('/').last))

    /** The listing a rebalance publishes for the generation it rewrites
      * this one into: every committed data file of the NON-split clusters
      * — own files by root-relative path, then inherited entries, flat.
      */
    def carryEntries(splitIds: Set[Int]): Seq[String] =
      ownFiles().collect { case (c, f) if !splitIds(c) => s"$name/cluster_id=$c/${f.name}" } ++
        carried().filterNot(e => splitIds(clusterOfCarryEntry(e)))

    /** The generation a compaction or rebalance rewrites this one into. */
    def nextName: String =
      s"index-v${(if (name == "index") 1 else name.stripPrefix("index-v").toInt) + 1}"
  }

  /** The active generation's snapshot: one MANIFEST read, one `_commits`
    * walk.
    */
  private[graft] def resolve(layout: Layout): GenSnapshot =
    resolveGen(layout, activeName(layout))

  /** The snapshot of the named generation `gen`. */
  private[graft] def resolveGen(layout: Layout, gen: String): GenSnapshot =
    new GenSnapshot(layout, gen, graft.streaming.IdempotentSink.sentinels(layout)
      .filterNot(_.committed).map(_.prefix))

  /** Sweep promoted-but-unmarked batches out of the active generation and
    * its tombstone log (`IdempotentSink.settleInProgress`): what a
    * rewrite runs under the lease before it resolves the generation it
    * reads.
    */
  private[graft] def settle(layout: Layout): Unit = {
    val gen = activeName(layout)
    graft.streaming.IdempotentSink.settleInProgress(layout,
      Seq(s"${layout.dir}/$gen", logDirOfGen(layout.dir, gen)))
  }

  /** The parquet data files directly in `d`, by name; none when `d` is
    * missing.
    */
  private def dataFiles(layout: Layout, d: String): Seq[FsEntry] =
    layout.fs.list(d).filter(f => !f.isDir && isDataFile(f.name)).sortBy(_.name)

  private def isDataFile(name: String): Boolean =
    name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith(".")

  /** File-reference CARRY listing of a generation — the metadata-
    * indirection (Iceberg-manifest) shape: `_CARRY` inside a generation
    * dir lists layout-root-relative parquet data files that BELONG to
    * the generation but physically live in an OLDER generation's
    * directory. Written by the generation-versioned rebalance swap so
    * UNTOUCHED clusters are carried as metadata (one listing line per
    * immutable file — IO ∝ skew) instead of per-file copy (∝ corpus);
    * [[scanOfGen]] seeds its one relation with the listed files beside
    * the generation's own (no directory walk of the source generations),
    * and [[vacuumUnlocked]] refcounts listed files across retained
    * generations instead of retiring at directory granularity. The
    * listing is FLAT, never a chain: a swap that inherits carried
    * entries rewrites the survivors into its own listing, so resolution
    * is one file read. Absent — a fresh [[save]], every compaction
    * rewrite — the generation is self-contained and the relation holds
    * its own files only.
    * Underscore name = invisible to Spark's file listing, exactly like
    * the generation's `_model.json`. Reference
    * analog: the reference's S3 tier only ever GETs immutable objects
    * (`/root/reference/crates/disk/src/cache.rs:24-52`) — this keeps
    * layout MUTATION metadata-sized on the same store.
    */
  private[graft] def readCarry(layout: Layout, gen: String): Seq[String] =
    carryOf(layout, gen).all

  /** A generation's carry listing as read once: the flat `_CARRY`
    * entries, or the `_CARRY_LIST` shard ranges, whose shard files are
    * read only when asked for. Empty for a self-contained generation.
    */
  private[graft] final class Carry(layout: Layout, gen: String,
                                   flat: Option[Seq[String]], shards: Seq[CarryShard]) {
    private def read(ss: Seq[CarryShard]) = ss.flatMap(readShardEntries(layout, gen, _))

    lazy val all: Seq[String] = flat.getOrElse(read(shards))

    /** Entries of `clusters`, reading ONLY the shards whose cluster-id
      * ranges overlap them — the lazy resolution of the probe-pruned disk
      * query path. On the flat shape this is a filter of the one listing;
      * on the sharded shape the bytes read are ∝ probed shards, not ∝
      * corpus file count. Shard ranges can cover more clusters than
      * requested, so entries are filtered exactly either way.
      */
    def forClusters(clusters: Set[Int]): Seq[String] =
      flat.getOrElse(read(shards.filter(s => clusters.exists(c => c >= s.lo && c <= s.hi))))
        .filter(e => clusters.contains(clusterOfCarryEntry(e)))

    /** Some entry, reading at most one shard. */
    def first: Option[String] = flat.getOrElse(read(shards.take(1))).headOption
  }

  private[graft] def carryOf(layout: Layout, gen: String): Carry = {
    val f = s"${layout.dir}/$gen/_CARRY"
    if (layout.fs.isFile(f)) new Carry(layout, gen, Some(lines(layout.fs.readString(f))), Nil)
    else new Carry(layout, gen, None, readCarryShards(layout, gen))
  }

  private def lines(s: String): Seq[String] =
    s.split('\n').map(_.trim).filter(_.nonEmpty).toSeq

  /** One line of `_CARRY_LIST`: a shard's cluster-id range, file name
    * (inside `_carry/`), and entry count.
    */
  private[graft] final case class CarryShard(
      lo: Int, hi: Int, name: String, count: Int)

  private[graft] def readCarryShards(layout: Layout, gen: String): Seq[CarryShard] = {
    val f = s"${layout.dir}/$gen/_CARRY_LIST"
    if (!layout.fs.isFile(f)) Nil
    else lines(layout.fs.readString(f)).map { l =>
      val p = l.split('\t')
      CarryShard(p(0).toInt, p(1).toInt, p(2), p(3).toInt)
    }
  }

  private def readShardEntries(layout: Layout, gen: String,
                               s: CarryShard): Seq[String] =
    lines(layout.fs.readString(s"${layout.dir}/$gen/_carry/${s.name}"))

  /** [[Carry.forClusters]] of the generation's listing as read now. */
  private[graft] def readCarryForClusters(layout: Layout, gen: String,
                                          clusters: Set[Int]): Seq[String] =
    carryOf(layout, gen).forClusters(clusters)

  /** Publish a generation's carry listing from its entry list: the flat
    * single `_CARRY` file up to the handle's `carryShardTarget` entries,
    * the sharded manifest-list shape past it. At 100 TB (~10⁵–10⁶ data
    * files) a flat listing is a ~50 MB object rebuilt whole per swap and
    * re-read whole per resolution; sharding bounds every metadata object
    * and lets probe-pruned readers touch only the shards covering their
    * probed clusters ([[readCarryForClusters]]) — Iceberg's manifest-list
    * shape, and the metadata analog of the reference's block-granular
    * ranged GET (its `crates/disk/src/cache.rs:105-113`:
    * touch only what you probe). Shards are size-bounded, cut at
    * CLUSTER boundaries (a cluster's entries never straddle shards, so
    * range-overlap resolution is exact; one oversized cluster gets one
    * oversized shard), then the tiny `_CARRY_LIST` naming each shard's
    * range. Every write is one of the handle's `ops` primitives (kill-sweep
    * crash points); all of it lands inside the still-unreferenced next
    * generation, so a crash anywhere leaves only debris vacuum reclaims
    * (a retried rebalance rewrites `nextDir` from scratch). Stale
    * listing state from a crashed prior attempt is wiped FIRST so
    * `_CARRY_LIST` can only ever name shards this attempt wrote — and
    * so the two shapes can never coexist (readers prefer `_CARRY`).
    */
  private[graft] def writeCarryListing(layout: Layout, nextName: String,
                                       entries: Seq[String]): Unit = {
    val nextDir = s"${layout.dir}/$nextName"
    val target = layout.carryShardTarget
    layout.fs.delete(s"$nextDir/_CARRY")
    layout.fs.delete(s"$nextDir/_CARRY_LIST")
    layout.fs.deleteRecursively(s"$nextDir/_carry")
    if (entries.length <= target) {
      layout.ops.atomicWriteFile(s"$nextDir/_CARRY", entries.mkString("\n"))
      return
    }
    val byCluster: Seq[(Int, Seq[String])] = entries
      .groupBy(clusterOfCarryEntry).toSeq.sortBy(_._1)
      .map { case (c, es) => (c, es.sorted) }
    val shards = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, Seq[String])]
    var lo = -1; var hi = -1
    var buf = Vector.empty[String]
    byCluster.foreach { case (cid, es) =>
      if (buf.nonEmpty && buf.length + es.length > target) {
        shards += ((lo, hi, buf)); buf = Vector.empty
      }
      if (buf.isEmpty) lo = cid
      buf ++= es; hi = cid
    }
    if (buf.nonEmpty) shards += ((lo, hi, buf))
    layout.fs.mkdirs(s"$nextDir/_carry")
    val listLines = shards.zipWithIndex.map { case ((l, h, es), i) =>
      val name = f"shard-$i%05d.list"
      layout.ops.atomicWriteFile(s"$nextDir/_carry/$name",
        es.mkString("\n"))
      s"$l\t$h\t$name\t${es.length}"
    }
    layout.ops.atomicWriteFile(s"$nextDir/_CARRY_LIST",
      listLines.mkString("\n"))
  }

  private[graft] def clusterOfCarryEntry(e: String): Int =
    e.split('/').find(_.startsWith("cluster_id="))
      .getOrElse(throw new IllegalArgumentException(
        s"carry entry without a cluster_id= segment: $e"))
      .stripPrefix("cluster_id=").toInt

  /** A layout path as the qualified Hadoop path Spark reads it by. */
  private def hpath(spark: SparkSession, p: String): Path = {
    val path = new Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(path)
  }

  /** A listed layout file as the status a relation is seeded with. */
  private def hstatus(spark: SparkSession, f: FsEntry): FileStatus =
    new FileStatus(f.length, false, 0, 0L, f.mtime, hpath(spark, f.path))

  /** The data scan of a generation snapshot: ONE relation
    * ([[org.apache.spark.graft.SeededRelation]]) over its committed own
    * files and the files its carry listing names in older generations,
    * opened from what the snapshot already knows — the own listing, the
    * listing file, one footer for the schema — so opening runs no Spark
    * job (no listing job however many cluster dirs, no schema
    * inference). Partition values come from the `cluster_id=` dirs of
    * both, so a probe filter prunes carried files exactly like own
    * ones. Carried files get their statuses from one listing per carried
    * cluster dir, not one stat per file. `refresh()` of the relation
    * re-lists the own dirs through a fresh snapshot of the same
    * generation and keeps the carried set: a carried source dir can still
    * hold pre-split files the listing does not carry.
    *
    * With `clusters` given, only those own cluster dirs are listed and
    * carried files come from only the manifest shards overlapping them
    * ([[Carry.forClusters]]) — driver work ∝ probed data, not ∝ corpus
    * file count. Restriction contract: the caller MUST still filter
    * `cluster_id ∈ clusters`.
    */
  private[graft] def scanOfGen(spark: SparkSession, snap: GenSnapshot,
                               clusters: Option[Set[Int]] = None): DataFrame = {
    val layout = snap.layout
    def own(s: GenSnapshot) = s.ownFiles(clusters).map(f => hstatus(spark, f._2))
    val initial = own(snap)
    val carried: Map[Path, Seq[FileStatus]] = snap.carried(clusters)
      .groupBy(e => e.substring(0, e.lastIndexOf('/'))).toSeq.sortBy(_._1)
      .flatMap { case (rel, es) =>
        val byName = dataFiles(layout, s"${layout.dir}/$rel").map(f => f.name -> f).toMap
        es.sorted.map(e => hstatus(spark, byName.getOrElse(e.split('/').last,
          throw new java.io.FileNotFoundException(
            s"carried file ${layout.dir}/$e is missing"))))
      }
      .groupBy(_.getPath.getParent.getParent)
    val schema = (initial ++ carried.values.flatten).headOption
      .fold(schemaOfEmpty(spark, snap, retries = 3))(f =>
        SeededRelation.footerSchema(spark, f.getPath))
    SeededRelation.open(spark, schema, Some("cluster_id"), hpath(spark, snap.dir), initial,
      () => own(resolveGen(layout, snap.name)), carried)
  }

  /** The schema of a relation with no file — a probe of clusters that
    * hold none, or a generation whose every file belongs to an
    * uncommitted batch: the footer schema of the first committed own
    * file of any cluster, else of some carried file, else of an
    * uncommitted own file. That last read races the replay's SWEEP of
    * the file (its deletion is the uncommitted-batch contract): when the
    * file vanished, look again in a fresh snapshot.
    */
  private def schemaOfEmpty(spark: SparkSession, snap: GenSnapshot,
                            retries: Int): StructType = {
    val all = snap.listed(None).map(_._2)
    val src = all.find(f => snap.isCommitted(f.name)).map(_.path)
      .orElse(snap.carry.first.map(e => s"${snap.layout.dir}/$e"))
      .orElse(all.headOption.map(_.path))
      .getOrElse(throw new IllegalStateException(
        s"${snap.dir} holds no parquet file to read its schema from"))
    try SeededRelation.footerSchema(spark, hpath(spark, src))
    catch {
      case _: java.io.IOException if retries > 0 && !snap.layout.fs.exists(src) =>
        schemaOfEmpty(spark, resolveGen(snap.layout, snap.name), retries - 1)
    }
  }

  /** The tombstone-log scan of a generation snapshot with the same
    * read-committed exclusion and the same job-free open as
    * [[scanOfGen]]: one relation over the log's committed files (both
    * re-read from a fresh snapshot on `refresh()`), with the footer
    * schema of the first. The log is an append target too, so a crashed
    * delete batch's files are excluded (and safe from the replay's sweep
    * racing this read). EVERY reader of the log goes through here. None
    * when the log is empty or holds only uncommitted batches — presence
    * is judged by data, not by the directory: the streamed del leg
    * creates its target dir unconditionally, so a healthy layout can
    * hold an EMPTY log dir.
    */
  private[graft] def logScanOfGen(spark: SparkSession,
                                  snap: GenSnapshot): Option[DataFrame] = {
    def files(s: GenSnapshot) = s.logFiles.map(hstatus(spark, _))
    val initial = files(snap)
    initial.headOption.map(f => SeededRelation.open(spark,
      SeededRelation.footerSchema(spark, f.getPath), None,
      hpath(spark, logDirOfGen(snap.layout.dir, snap.name)), initial,
      () => files(resolveGen(snap.layout, snap.name))))
  }

  /** `scan` without the rows the snapshot's tombstone log deletes (an
    * id-only anti-join, broadcast at any realistic delete rate); `scan`
    * itself, plan-identical, when the generation has no log.
    */
  private def withoutTombstones(spark: SparkSession, snap: GenSnapshot,
                                scan: DataFrame): DataFrame =
    logScanOfGen(spark, snap).fold(scan)(log =>
      scan.join(log.select("vec_id"), Seq("vec_id"), "left_anti"))

  /** Mark a generation as RETIRED (superseded by a compaction swap) —
    * the marker's mtime starts the retention clock [[vacuumIndex]]
    * reclaims it on. Written BEFORE the MANIFEST swap so no state exists
    * where a superseded generation looks like immediately-reclaimable
    * rewrite debris.
    */
  private[graft] def markRetired(layout: Layout, gen: String): Unit = {
    layout.fs.mkdirs(s"${layout.dir}/_retired")
    layout.ops.atomicWriteFile(s"${layout.dir}/_retired/$gen",
      System.currentTimeMillis().toString)
  }

  /** Move staged parquet data files into a (possibly partitioned) layout
    * directory, preserving the partition-dir structure, under
    * per-directory DETERMINISTIC names (`$prefix-00000.parquet`, sorted
    * source order) so a retried caller overwrites its own files instead
    * of duplicating them. File moves are metadata-only on a real
    * filesystem — the staged bytes are written exactly once.
    */
  private[graft] def promoteStaged(layout: Layout, staging: String, target: String,
                                   prefix: String): Unit = {
    def walk(src: String, dst: String): Unit = {
      val kids = layout.fs.list(src)
      kids.filter(d => d.isDir && !d.name.startsWith("_"))
        .foreach(d => walk(d.path, s"$dst/${d.name}"))
      val files = kids.filter(f => !f.isDir && f.name.endsWith(".parquet"))
        .sortBy(_.name)
      if (files.nonEmpty) layout.fs.mkdirs(dst)
      files.zipWithIndex.foreach { case (f, i) =>
        layout.ops.atomicMoveFile(f.path, f"$dst/$prefix-$i%05d.parquet")
      }
    }
    walk(staging, target)
  }

  /** Raw-layout statistics the serving tier carries into its engine
    * snapshot: (physical index rows of the active generation, distinct
    * tombstoned ids). The row count is the footer sum over the
    * generation's committed files ([[clusterSizesFromFooters]] — zero
    * data pages); the tombstone side is delete-volume-sized.
    */
  def layoutStats(spark: SparkSession, layout: Layout): (Long, Long) =
    statsOf(spark, resolve(layout))

  /** [[layoutStats]] of a snapshot: rows and log of ONE generation. */
  private[graft] def statsOf(spark: SparkSession, snap: GenSnapshot): (Long, Long) =
    (clusterSizesFromFooters(spark, snap).map(_._2).sum,
      logScanOfGen(spark, snap).fold(0L)(_.select("vec_id").distinct().count()))

  /** Persist as a parquet directory (S6 analog of the reference's 5-file
    * layout `/root/reference/src/rabitq.rs:128-156`): index partitioned by
    * cluster_id (→ partition pruning on probes), the model in the
    * generation's `_model.json` ([[writeModel]]), written right after the
    * data, before any history is removed. A save RESETS the layout to
    * generation zero: any MANIFEST, old
    * versioned data dirs, stale tombstone logs, retirement markers, AND
    * every lifecycle-protocol leftover from a previous life of the dir
    * are removed (a brand-new index has no history) — data is written
    * first, so a crash mid-save leaves the previous generation readable.
    * The protocol leftovers matter as much as the data dirs: a surviving
    * `_rebalance_staging/_COMMIT` (a swap an older build left mid-way)
    * would make every later mutator refuse the fresh layout
    * ([[withLayoutLock]]), and surviving `_commits` markers would make a
    * restarted stream that reuses a queryName with a fresh checkpoint
    * (batchIds restart at 0) silently SKIP batches in `IdempotentSink` —
    * quiet data loss.
    */
  def save(spark: SparkSession, model: RabitqModel, index: DataFrame,
           layout: Layout): Unit = Overlap.labelled(spark, s"rabitq: save ${layout.dir}") {
    index.write.mode("overwrite").partitionBy("cluster_id").parquet(s"${layout.dir}/index")
    writeModel(layout, s"${layout.dir}/index", model)
    layout.fs.delete(s"${layout.dir}/MANIFEST")
    layout.fs.list(layout.dir)
      .filter(f => f.isDir &&
        (f.name.startsWith("index-v") || f.name == "deletes" ||
          f.name.startsWith("deletes-") || f.name == "_retired" ||
          f.name == "_rebalance_staging" || f.name == "_commits" ||
          f.name == "_staging" ||
          // the root model tables an older build wrote
          f.name == "rotation" || f.name == "centroids" || f.name == "params"))
      .foreach(f => layout.fs.deleteRecursively(f.path))
    layout.fs.list(layout.dir)
      .filter(f => !f.isDir &&
        (f.name == "MANIFEST.tmp" || f.name == "BUILT_K"))
      .foreach(f => layout.fs.delete(f.path))
  }

  /** Incremental maintenance: encode NEW vectors against the existing
    * model (same rotation, same centroids — nearest-centroid assignment)
    * and return index rows to union/append. The reference leaves
    * insert/update/delete unimplemented (`/root/reference/README.md:18`);
    * on Spark this is a narrow encode pass + an append to the partitioned
    * parquet — no re-clustering, no touch of existing rows. Recall decays
    * only as the new data drifts from the frozen centroids; re-cluster on
    * a schedule, not per batch.
    *
    * CONTRACT: emits exactly the index schema (vec_id, cluster_id, code,
    * factors) — metadata columns the caller wants riding in the layout
    * (the filtered tier's label) are the CALLER's join before the write,
    * like the labeled gates do. Ops that REWRITE existing rows are
    * different: they must preserve whatever already rides in the layout
    * themselves ([[rebalanceIndex]] carries extras across its rewrite;
    * `VecsStream.compactIndex` rewrites the full live frame so extras
    * ride for free).
    */
  def appendVectors(spark: SparkSession, model: RabitqModel, newVecs: DataFrame): DataFrame = {
    // raw-space centroids are not persisted in the model (rotated ones
    // are); assignment in rotated space is equivalent — rotation is
    // orthogonal, so nearest-centroid is preserved
    val bRot = spark.sparkContext.broadcast(model.rotation)
    val bCent = spark.sparkContext.broadcast(model.centroids)
    val encode = udf { (emb: Seq[Float]) =>
      val rot = VectorOps.rotate(bRot.value, VectorOps.pad(emb.toArray, 64))
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < bCent.value.length) {
        val d = VectorOps.l2sq(rot, bCent.value(c))
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      val residual = VectorOps.subtract(rot, bCent.value(best))
      val code = VectorOps.binarizeU64(residual)
      val (fip, fppc, err, cds) = VectorOps.factors(residual)
      (best, code, fip, fppc, err, cds)
    }
    newVecs.select(col("vec_id"), col("embedding"))
      .withColumn("enc", encode(col("embedding")))
      .select(
        col("vec_id"),
        col("enc._1").as("cluster_id"),
        col("enc._2").as("code"),
        col("enc._3").as("factor_ip"),
        col("enc._4").as("factor_ppc"),
        col("enc._5").as("error_bound"),
        col("enc._6").as("cds"))
  }

  /** Incremental maintenance, delete side: drop index rows whose vec_id
    * appears in `ids` (one column, `vec_id`). The reference leaves delete
    * unimplemented (`/root/reference/README.md:18`); on Spark it is an
    * anti-join — id-only shuffle when `ids` is large, broadcast when small,
    * Catalyst picks. Centroids stay frozen (same contract as
    * [[appendVectors]]): a delete never degrades recall, it only leaves a
    * cluster sparser, so re-clustering stays a scheduled concern.
    */
  def deleteVectors(index: DataFrame, ids: DataFrame): DataFrame =
    index.join(ids.select("vec_id"), Seq("vec_id"), "left_anti")

  /** Incremental maintenance, update side: re-encode rows whose vec_id
    * already exists (delete + insert against the frozen model — the
    * classic vector-store upsert). One anti-join + one narrow encode
    * pass; new ids flow through the same path, so this is a true upsert.
    */
  def upsertVectors(spark: SparkSession, model: RabitqModel, index: DataFrame,
                    vecs: DataFrame): DataFrame =
    deleteVectors(index, vecs).unionByName(appendVectors(spark, model, vecs))

  /** Export the index in the reference's exact 5-file directory layout
    * (`/root/reference/src/rabitq.rs:128-156`): `orthogonal.fvecs` (dim
    * rows), `centroids.fvecs` (k rows, rotated space), `base.fvecs`
    * (cluster-sorted ROTATED vectors — the reference stores the projected
    * base transposed; we export row-per-vector in the same CSR order),
    * `factors.fvecs` (ONE record of 4·n floats: ip, ppc, error, cds per
    * vector), `x_binary_vec.u64vecs` (n records), `offsets_ids.ivecs`
    * (exactly two records: k+1 prefix-sum offsets, then n original row
    * ids). CSR order = cluster ascending, center-distance ascending within
    * a cluster (`/root/reference/src/rabitq.rs:231-252`).
    *
    * SIZE BOUND: this collects index AND base to the driver — it is a
    * model-parity exporter for reference-sized datasets (≤ a few hundred
    * MB), not a data path. At scale, export each cluster partition with a
    * distributed writer instead.
    */
  def exportReferenceLayout(spark: SparkSession, model: RabitqModel, index: DataFrame,
                            base: DataFrame, dir: String): Unit = {
    import spark.implicits._
    import graft.sources.Fvecs
    // local java.io by design: the fvecs family is the reference's
    // LOCAL-disk format and this exporter is reference parity, not a
    // lifecycle path (see the size-bound note above)
    new java.io.File(dir).mkdirs()

    Fvecs.writeFvecs(
      model.rotation.zipWithIndex.map { case (r, i) => (i.toLong, r.toSeq) }.toSeq
        .toDF("vec_id", "vec"), s"$dir/orthogonal.fvecs")
    Fvecs.writeFvecs(
      model.centroids.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }.toSeq
        .toDF("vec_id", "vec"), s"$dir/centroids.fvecs")

    // CSR ordering: (cluster_id, cds, vec_id); stable + deterministic
    val ordered = index.orderBy(col("cluster_id"), col("cds"), col("vec_id"))
      .select("vec_id", "cluster_id", "code", "factor_ip", "factor_ppc", "error_bound", "cds")
      .collect()

    val bRot = model.rotation
    val vecById = base.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    Fvecs.writeFvecs(
      ordered.zipWithIndex.map { case (r, pos) =>
        val rot = graft.functions.VectorOps.rotate(bRot,
          graft.functions.VectorOps.pad(vecById(r.getLong(0)), 64))
        (pos.toLong, rot.toSeq)
      }.toSeq.toDF("vec_id", "vec"), s"$dir/base.fvecs")

    Fvecs.writeFvecs(
      Seq((0L, ordered.flatMap(r => Seq(
        r.getFloat(3), r.getFloat(4), r.getFloat(5), r.getFloat(6))).toSeq))
        .toDF("vec_id", "vec"), s"$dir/factors.fvecs")

    Fvecs.writeU64vecs(
      ordered.zipWithIndex.map { case (r, pos) => (pos.toLong, r.getSeq[Long](2)) }.toSeq
        .toDF("vec_id", "vec"), s"$dir/x_binary_vec.u64vecs")

    val k = model.params.numClusters
    val sizes = new Array[Int](k)
    ordered.foreach(r => sizes(r.getInt(1)) += 1)
    val offsets = sizes.scanLeft(0)(_ + _)
    val mapIds = ordered.map(_.getLong(0).toInt)
    Fvecs.writeIvecs(
      Seq((0L, offsets.toSeq), (1L, mapIds.toSeq)).toDF("vec_id", "vec"),
      s"$dir/offsets_ids.ivecs")
  }

  /** [[exportReferenceLayout]] WITHOUT the driver-side collect — the
    * scale path the driver exporter's size-bound note names. The
    * corpus-sized streams (`base.fvecs`, `x_binary_vec.u64vecs`,
    * `factors.fvecs` payload, the id half of `offsets_ids.ivecs`) are
    * encoded EXECUTOR-SIDE: the CSR-ordered frame (global range sort on
    * (cluster_id, cds, vec_id) — the exact order the driver exporter
    * collects in) is walked once per partition, each task writing its
    * byte chunks to a staging dir through the Hadoop FileSystem API
    * (works on local disk and on a shared fs alike), and the driver
    * CONCATENATES chunks in partition order — streaming copy, O(1)
    * driver memory. Record encoding is bit-identical to the driver
    * exporter (same LE layout, same `VectorOps.rotate` arithmetic on
    * the same inputs, same total order), spec-gated byte-for-byte.
    * Model-sized files (`orthogonal`/`centroids`) reuse the driver
    * writers. The per-cluster offsets come from a numClusters-row
    * aggregate, never the corpus.
    */
  def exportReferenceLayoutDistributed(
      spark: SparkSession, model: RabitqModel, index: DataFrame,
      base: DataFrame, dir: String): Unit = {
    import spark.implicits._
    import graft.sources.Fvecs
    import org.apache.hadoop.fs.Path
    val hconf = spark.sparkContext.hadoopConfiguration
    val rootP = new Path(dir)
    val rootFs = rootP.getFileSystem(hconf)
    rootFs.mkdirs(rootP)

    Fvecs.writeFvecs(
      model.rotation.zipWithIndex.map { case (r, i) => (i.toLong, r.toSeq) }.toSeq
        .toDF("vec_id", "vec"), s"$dir/orthogonal.fvecs")
    Fvecs.writeFvecs(
      model.centroids.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }.toSeq
        .toDF("vec_id", "vec"), s"$dir/centroids.fvecs")

    val staging = s"$dir/.export_chunks"
    rootFs.delete(new Path(staging), true)
    rootFs.mkdirs(new Path(staging))
    val stagingQ = rootFs.makeQualified(new Path(staging)).toString
    val bRot = spark.sparkContext.broadcast(model.rotation)
    // executor tasks must see the DRIVER's hadoop conf (s3a credentials,
    // endpoints — the deployed object-store scale this path targets), not
    // a bare `new Configuration()` of classpath defaults
    val bConf = org.apache.spark.graft.SerHadoopConf
      .broadcast(spark.sparkContext, hconf)
    // u32 headers: the reference layout's fvecs/ivecs record headers and
    // ids are 32-bit — fail FAST past the format's capacity instead of
    // writing corrupt headers (this is the path advertised as the one
    // the driver collect could not scale to, so it hits the limit first)
    val maxIdRow = base.agg(max(col("vec_id"))).head()
    val maxId = if (maxIdRow.isNullAt(0)) 0L else maxIdRow.getLong(0)
    require(maxId <= Int.MaxValue,
      s"reference layout stores u32 row ids; max vec_id $maxId overflows")
    // CSR order, encoded per partition in one pass over the sorted rows.
    // Chunk names carry the TASK ATTEMPT id: with task retries or
    // speculative execution two live attempts of one partition would
    // otherwise write the same file concurrently (corrupting the chunk
    // after the winner's count was collected); attempt-unique names make
    // each attempt's output private, the collected rows name the winning
    // attempt's files, and loser files vanish with the staging dir.
    val chunkCounts: Array[(Int, Long, Long)] = index
      .join(base.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .select("vec_id", "cluster_id", "code", "factor_ip", "factor_ppc",
        "error_bound", "cds", "embedding")
      .orderBy(col("cluster_id"), col("cds"), col("vec_id"))
      .rdd.mapPartitionsWithIndex { (pi, it) =>
        import java.nio.{ByteBuffer, ByteOrder}
        val conf = bConf.value.conf
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        def open(tag: String) = {
          val p = new Path(f"$stagingQ/part-$pi%05d-$attempt-$tag.bin")
          new java.io.BufferedOutputStream(p.getFileSystem(conf).create(p, true))
        }
        val (ob, oc, of, oi) = (open("base"), open("codes"), open("factors"), open("ids"))
        var n = 0L
        try {
          it.foreach { r =>
            val rot = graft.functions.VectorOps.rotate(bRot.value,
              graft.functions.VectorOps.pad(
                r.getAs[scala.collection.Seq[Float]]("embedding").toArray, 64))
            val bb = ByteBuffer.allocate(4 + rot.length * 4)
              .order(ByteOrder.LITTLE_ENDIAN)
            bb.putInt(rot.length); rot.foreach(bb.putFloat)
            ob.write(bb.array())
            val code = r.getAs[scala.collection.Seq[Long]]("code")
            val cb = ByteBuffer.allocate(4 + code.length * 8)
              .order(ByteOrder.LITTLE_ENDIAN)
            cb.putInt(code.length); code.foreach(cb.putLong)
            oc.write(cb.array())
            val fb = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
            fb.putFloat(r.getAs[Float]("factor_ip"))
            fb.putFloat(r.getAs[Float]("factor_ppc"))
            fb.putFloat(r.getAs[Float]("error_bound"))
            fb.putFloat(r.getAs[Float]("cds"))
            of.write(fb.array())
            val ib = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
            ib.putInt(r.getAs[Long]("vec_id").toInt)
            oi.write(ib.array())
            n += 1
          }
        } finally { ob.close(); oc.close(); of.close(); oi.close() }
        Iterator.single((pi, n, attempt))
      }.collect().sortBy(_._1)
    val n = chunkCounts.map(_._2).sum

    def concat(tag: String, out: java.io.OutputStream): Unit = {
      val buf = new Array[Byte](1 << 20)
      chunkCounts.foreach { case (pi, cnt, attempt) =>
        if (cnt > 0) {
          val p = new Path(f"$stagingQ/part-$pi%05d-$attempt-$tag.bin")
          val in = p.getFileSystem(hconf).open(p)
          try {
            var r = in.read(buf)
            while (r >= 0) { if (r > 0) out.write(buf, 0, r); r = in.read(buf) }
          } finally in.close()
        }
      }
    }
    def withOut(path: String)(body: java.io.OutputStream => Unit): Unit = {
      val out = new java.io.BufferedOutputStream(
        rootFs.create(new Path(path), true))
      try body(out) finally out.close()
    }
    require(4L * n <= Int.MaxValue,
      s"reference layout's factors.fvecs header is u32 = 4·n floats; " +
        s"n=$n overflows it — the format caps at n ≈ 536M rows")
    withOut(s"$dir/base.fvecs")(concat("base", _))
    withOut(s"$dir/x_binary_vec.u64vecs")(concat("codes", _))
    withOut(s"$dir/factors.fvecs") { out =>
      // ONE record: u32 header = 4·n floats, then the per-row quads
      val hb = java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      hb.putInt((4L * n).toInt); out.write(hb.array())
      concat("factors", out)
    }
    val k = model.params.numClusters
    val sizes = new Array[Int](k)
    index.groupBy("cluster_id").count().collect()
      .foreach(r => sizes(r.getInt(0)) = r.getLong(1).toInt)
    val offsets = sizes.scanLeft(0)(_ + _)
    withOut(s"$dir/offsets_ids.ivecs") { out =>
      val bb = java.nio.ByteBuffer
        .allocate(4 + offsets.length * 4 + 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(offsets.length); offsets.foreach(bb.putInt)
      bb.putInt(n.toInt) // header of the id record
      out.write(bb.array())
      concat("ids", out)
    }
    rootFs.delete(new Path(staging), true)
  }

  /** What [[rebalanceIndex]] did: which clusters split into how many,
    * how many rows were re-encoded, and the before/after shape of the
    * size distribution. `movedRows` over the corpus size is the IO
    * fraction — the number that must stay ∝ skew, not ∝ corpus.
    */
  case class RebalanceReport(
      numClustersBefore: Int, numClustersAfter: Int,
      split: Map[Int, Int], movedRows: Long,
      maxSizeBefore: Long, maxSizeAfter: Long)

  /** Scheduled IVF REBALANCE — the lifecycle step after continuous
    * appends ([[appendVectors]], `VecsStream.appendToIndex/maintainIndex`)
    * skew the cluster-size distribution. Probe-bounded search cost is
    * driven by the largest probed clusters, so skew inflates tail
    * latency AND recall at fixed nprobe degrades (one giant cluster
    * soaks up the probe budget while holding vectors that belong in
    * many). The reference never mutates its index (insert/update/delete
    * unchecked, `/root/reference/README.md:18`) so it never needs this;
    * every production IVF store does — this is the vector-index analog
    * of a lakehouse OPTIMIZE/compaction pass.
    *
    * Shape (the one that holds at 100 TB): per-cluster sizes are a
    * numClusters-row aggregate; only clusters with
    * size > maxSizeFactor × mean are touched. Each oversized cluster is
    * re-fit with the deterministic local Lloyd in ROTATED space
    * (orthogonal rotation preserves L2, and the model stores rotated
    * centroids, so the fit output slots in directly) — ONE task per
    * cluster ([[buildHierarchical]]'s second-level shape) over a
    * deterministic hash-capped fit sample. The split cluster's id is
    * REUSED for its first sub-centroid and the rest append at fresh
    * ids, so untouched partitions stay bit-valid (their rows reference
    * unchanged centroid ids). Only the oversized clusters' members are
    * re-encoded (globally nearest over the grown centroid set — they
    * may land in untouched clusters) into a new generation that carries
    * every untouched file by reference ([[rebalanceGenerationSwap]]).
    * IO ∝ oversized mass, never corpus size. Exactness is untouched by construction:
    * rebalance is a pure LAYOUT op — every vector remains present
    * exactly once with a valid (cluster_id, residual) encoding, so
    * full-probe search still equals brute force (the q116 gate) while
    * fixed-nprobe recall improves (the smoke's number).
    *
    * `base` supplies the raw embeddings for re-encoding (codes are
    * lossy — same reason rerank reads the base). Respects a
    * `VecsStream.maintainIndex` tombstone log if present (tombstoned
    * rows of split clusters are dropped here rather than rewritten;
    * the log itself is left for the scheduled compaction — the
    * anti-join is idempotent). Metadata columns riding in the layout
    * beyond the index schema (the filtered-search tier's `label`,
    * `RabitqQuery.filteredTopKFromDisk`) are preserved through the
    * rewrite — carried by an id join over the split members only, so
    * IO stays ∝ skew (the q118 gate).
    *
    * CONTRACT for writers: a rebalance INVALIDATES frozen models —
    * split-cluster ids are re-used with NEW centroids, so a stale
    * [[appendVectors]] caller would encode residuals against a
    * centroid the layout no longer has. Run rebalance between ingest
    * windows and have writers re-[[load]] the model after (the q117
    * lifecycle gate drives exactly this sequence).
    */
  def rebalanceIndex(spark: SparkSession, layout: Layout, base: DataFrame,
                     maxSizeFactor: Double = 1.5,
                     fitSampleCap: Long = 100000L): RebalanceReport =
    withLayoutLock(layout)(Overlap.labelled(spark, s"rebalance: ${layout.dir}")(
      rebalanceUnlocked(spark, layout, base, maxSizeFactor, fitSampleCap)))

  private[graft] def rebalanceUnlocked(
      spark: SparkSession, layout: Layout, base: DataFrame,
      maxSizeFactor: Double, fitSampleCap: Long,
      known: Option[(RabitqModel, Map[Int, Long])] = None,
      recovered: Boolean = false): RebalanceReport = {
    import spark.implicits._
    if (!recovered)
      // settle crashed uncommitted appends BEFORE resolving the layout:
      // the snapshot already leaves a promoted-but-unmarked batch out of
      // the rewrite and the listing, and the settle also sweeps its files
      // out of the generation being retired, so nothing of it outlives
      // the replay that re-appends it. `recovered = true` is the
      // maintenanceLoop's contract: the pass already settled appends
      // ONCE under the same held lease.
      settle(layout)
    // ONE snapshot for the whole op: sizes, split members, the carry
    // listing and the log carry all read the same generation.
    // `known` threads the maintenance pass's one measurement through
    // (model + LIVE per-cluster sizes — both invariant across the
    // compaction that may have run in between: the rewrite preserves
    // exactly the live rows with their cluster_id and writes the same
    // model into the next generation), replacing this phase's own model
    // load and size count. The data scan below still resolves the
    // CURRENT generation — only the measurement is reused.
    val snap = resolve(layout)
    val model = known.map(_._1).getOrElse(snap.model)
    val live = withoutTombstones(spark, snap, scanOfGen(spark, snap))
    spark.sparkContext.setJobDescription(s"rebalance: sizes ${layout.dir}")
    // footer metadata when exact (no tombstone log — describeIndex's
    // fast path), else the committed live scan
    val sizes = known.map(_._2).getOrElse {
      (if (snap.logFiles.isEmpty) clusterSizesFromFooters(spark, snap)
      else live.groupBy("cluster_id").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1))).toMap
    }
    val total = sizes.values.sum
    val k0 = model.centroids.length
    val mean = total.toDouble / k0
    val maxBefore = if (sizes.isEmpty) 0L else sizes.values.max
    // splitK per oversized cluster: enough sub-centroids to bring its
    // expected size back to the mean
    val splitK = sizes.collect {
      case (c, n) if n > maxSizeFactor * mean && math.ceil(n / mean) >= 2 =>
        c -> math.ceil(n / mean).toInt
    }
    if (splitK.isEmpty)
      return RebalanceReport(k0, k0, Map.empty, 0L, maxBefore, maxBefore)

    val splitIds = splitK.keys.toSeq.sorted
    // LEFT join + coverage check, not inner: an inner join would silently
    // DROP any live split-cluster member whose vec_id is missing from the
    // supplied base (a stale/incomplete base) — quiet data loss in the
    // rewrite. A mismatched base must abort the rebalance loudly instead
    // (the Serve.withLabels discipline). The check scans only the split
    // members, so its cost stays ∝ skew.
    // persisted: the split members are read THREE times below (coverage
    // check, fit sample, re-encode) — without the cache each pass re-runs
    // the index⋈base join; with it the join runs once and the two later
    // passes read ∝-skew cached rows (MEMORY_AND_DISK, so an enormous
    // split spills instead of OOMing)
    val members = live.filter(col("cluster_id").isin(splitIds.map(Int.box): _*))
      .select("vec_id", "cluster_id")
      .join(base.select("vec_id", "embedding"), Seq("vec_id"), "left_outer")
      .persist()
    try {
    spark.sparkContext.setJobDescription(s"rebalance: base coverage ${layout.dir}")
    val missingBase = members.filter(col("embedding").isNull).count()
    require(missingBase == 0L,
      s"$missingBase live index rows in the clusters to split have no vec_id in " +
        "the supplied base — stale base? aborting rebalance instead of dropping them")

    // deterministic per-cluster fit sample: rate_c = cap / size_c as a
    // permille threshold on xxhash64(vec_id) — the buildSampled pattern,
    // but per cluster (sizes are already on the driver)
    val rates = splitK.map { case (c, _) =>
      c -> math.min(1000000L, fitSampleCap * 1000000L / math.max(1L, sizes(c)))
    }
    val rateCol = rates.foldLeft(lit(1000000L)) { case (acc, (c, r)) =>
      when(col("cluster_id") === c, lit(r)).otherwise(acc)
    }
    spark.sparkContext.setJobDescription(s"rebalance: split fit ${layout.dir}")
    val bRot = spark.sparkContext.broadcast(model.rotation)
    val bSplitK = spark.sparkContext.broadcast(splitK)
    // per-cluster Lloyd over the (id-sorted) rotated fit sample — one
    // task per split cluster, deterministic like buildHierarchical
    val subCentroids: Map[Int, Array[Array[Float]]] = members
      .filter(pmod(xxhash64(col("vec_id"), lit(model.params.seed)),
        lit(1000000L)) < rateCol)
      .select(col("cluster_id"), col("vec_id"), col("embedding"))
      .as[(Int, Long, Seq[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (c, it) =>
        val pts = it.toArray.sortBy(_._2)
          .map(t => VectorOps.rotate(bRot.value, VectorOps.pad(t._3.toArray, 64)))
        localLloyd(pts, math.min(bSplitK.value(c), pts.length), iters = 10)
          .zipWithIndex.map { case (cent, i) => (c, i, cent.toSeq) }
      }
      .collect()
      .groupBy(_._1)
      .map { case (c, rows) => c -> rows.sortBy(_._2).map(_._3.toArray) }

    // stable ids: split cluster c keeps its id for sub(0); the remaining
    // sub-centroids append at fresh ids. Untouched centroids unchanged.
    val grown = scala.collection.mutable.ArrayBuffer.from(model.centroids)
    subCentroids.toSeq.sortBy(_._1).foreach { case (c, subs) =>
      grown(c) = subs(0)
      grown ++= subs.drop(1)
    }
    val centroids2 = grown.toArray
    val model2 = model.copy(
      params = model.params.copy(numClusters = centroids2.length),
      centroids = centroids2)
    // record the cluster count the query budgets were TUNED against (the
    // first rebalance of this layout): after a split grows the centroid
    // set, a fixed rerank budget loses recall to shortlist displacement,
    // so the disk query paths and the serving tier scale RERANK by
    // numClusters/BUILT_K ([[scaledRerank]] — the why-rerank-not-nprobe
    // sweep lives there; SCALE probe_scale row). Cumulative across
    // repeated rebalances because the FIRST value is kept; save() resets
    // it with the rest of the layout history.
    if (!layout.fs.exists(s"${layout.dir}/BUILT_K"))
      layout.ops.atomicWriteFile(s"${layout.dir}/BUILT_K", k0.toString)

    // re-encode the members against the grown centroid set. Metadata
    // columns riding in the layout beyond the index schema (e.g. the
    // label the filtered-search tier reads from PushedFilters) must be
    // carried through the rewrite — appendVectors emits only the index
    // schema, so without this join the rewrite would null them on
    // exactly the oversized clusters while untouched partitions keep
    // answering. Joined over the split members only (IO stays ∝ skew).
    val indexSchemaCols =
      Set("vec_id", "cluster_id", "code", "factor_ip", "factor_ppc",
        "error_bound", "cds")
    val extraCols = live.columns.filterNot(indexSchemaCols.contains)
    val reencRaw = appendVectors(spark, model2, members.drop("cluster_id"))
    val reencWide =
      if (extraCols.isEmpty) reencRaw
      else reencRaw.join(
        live.filter(col("cluster_id").isin(splitIds.map(Int.box): _*))
          .select("vec_id", extraCols.toIndexedSeq: _*),
        Seq("vec_id"))
    val reencSizes =
      rebalanceGenerationSwap(spark, snap, model2, reencWide, splitIds)

    // after-sizes without re-reading the layout: untouched sizes +
    // re-encoded destinations
    val after = (sizes -- splitIds) ++
      reencSizes.map { case (c, n) => c -> ((sizes -- splitIds).getOrElse(c, 0L) + n) }
    RebalanceReport(k0, centroids2.length, splitK, reencSizes.values.sum,
      maxBefore, if (after.isEmpty) 0L else after.values.max)
    } finally members.unpersist()
  }

  /** The rebalance publish — compaction's generation-versioned shape on
    * every filesystem: build the ENTIRE next generation unreferenced,
    * publish with ONE atomic MANIFEST write, retire the old generation
    * into the retention window. Nothing reader-visible mutates in place,
    * so the protocol needs only atomic file write (no directory rename)
    * and holds on an object store exactly as on POSIX/HDFS.
    *
    *  1. Re-encoded split members: distributed parquet write straight
    *     into `index-v{N+1}`, hash-partitioned on the destination
    *     cluster first (~one part file per destination instead of
    *     O(tasks × destinations) fragments; IO ∝ skew; `overwrite`
    *     makes a retry idempotent, and a crashed attempt's partial
    *     generation is unreferenced debris vacuum reclaims).
    *  2. Untouched clusters: carried BY REFERENCE — the new
    *     generation's `_CARRY` listing ([[readCarry]]) names their
    *     immutable part files where they already live, one metadata
    *     line per file, written through the handle's `ops` before the
    *     publish. NOTHING corpus-proportional moves: the swap's IO is
    *     the re-encoded split members (∝ skew) plus the listing bytes.
    *     (Rounds ≤18 carried by per-file copy — IO and request volume
    *     ∝ CORPUS per rebalance; the listing is the Iceberg-manifest
    *     shape, and the carry-∝-skew spec pins it.) The old generation
    *     stays intact both for its retention-window readers AND as the
    *     physical home of the carried files; vacuum refcounts them.
    *     The listing is the snapshot's [[GenSnapshot.carryEntries]]:
    *     committed files only, so no promoted-but-unmarked batch is ever
    *     carried by reference beyond the reach of the replay's sweep (it
    *     walks only the new generation's own dirs). Inductively the
    *     INHERITED carry entries are clean.
    *  3. The snapshot's committed tombstone-log files are carried by
    *     copy (delete-volume-sized) — logs are per generation, and the carried
    *     untouched rows still include tombstoned members (the re-encode
    *     dropped them only for split clusters); the anti-join is
    *     idempotent, so split members' ids matching nothing is harmless.
    *  4. The GROWN model is written into the generation's own
    *     `_model.json` ([[writeModel]]; underscore files are invisible to
    *     the data scan), so the MANIFEST write flips data and model
    *     TOGETHER. Every generation carries its model:
    *     `VecsStream.compactRewrite` writes it into every later one.
    *  5. Publish: [[publishGeneration]] — `VecsStream.compactSwap`'s
    *     exact sequence.
    *
    * Steps 2–3 and the per-destination sizes it returns (one pass over
    * the written files; moved rows = Σ sizes) are independent and run
    * under one [[Overlap]]. Crash anywhere before 5: readers keep
    * resolving the old generation; the partial next generation is
    * unreferenced debris. Crash after: done — a replayed rebalance finds
    * balanced sizes and no-ops. Gated end-to-end by the rebalance queries
    * (q116–q118, q120, q123, q124), the crash window by q121; swept by
    * the kill sweep under both commit implementations.
    */
  private[graft] def rebalanceGenerationSwap(
      spark: SparkSession, snap: GenSnapshot, model2: RabitqModel,
      reencWide: DataFrame, splitIds: Seq[Int]): Map[Int, Long] = {
    val layout = snap.layout
    val nextName = snap.nextName
    val nextDir = s"${layout.dir}/$nextName"
    spark.sparkContext.setJobDescription(s"rebalance: reencode+publish ${layout.dir}")
    reencWide.repartition(model2.params.numClusters, col("cluster_id"))
      .write.mode("overwrite").partitionBy("cluster_id")
      .parquet(nextDir)
    writeModel(layout, nextDir, model2)
    // the written schema is known: reading it back with it skips the
    // footer-inference job. The listing files the other leg writes into
    // `nextDir` are underscore-named, invisible to this scan.
    val (_, reencSizes) = Overlap(spark,
      {
        writeCarryListing(layout, nextName, snap.carryEntries(splitIds.toSet))
        copyFiles(layout, snap.logFiles, logDirOfGen(layout.dir, nextName))
      },
      spark.read.schema(reencWide.schema).parquet(nextDir)
        .groupBy("cluster_id").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap)
    publishGeneration(layout, snap.name, nextName)
    reencSizes
  }

  /** Copy `files` into `tgt` (flat), replacing on retry, in parallel —
    * used only for the DELETE-VOLUME-sized tombstone-log carry; the
    * corpus-sized untouched-cluster carry rides in the `_CARRY` listing
    * instead and never copies. Staging, not a commit primitive: nothing
    * resolves the destination until the MANIFEST publish, and on a real
    * object store each copy is a server-side CopyObject. A DEDICATED
    * bounded pool, not the JVM-global common ForkJoinPool — blocking
    * file IO on the common pool from the Spark driver can stall every
    * other parallel-stream user in the JVM.
    */
  private def copyFiles(layout: Layout, files: Seq[FsEntry], tgt: String): Unit = {
    if (files.isEmpty) return
    layout.fs.mkdirs(tgt)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, files.length))
    try {
      val tasks = files.map { f =>
        new java.util.concurrent.Callable[Unit] {
          def call(): Unit = layout.fs.copyFile(f.path, s"$tgt/${f.name}")
        }
      }
      pool.invokeAll(java.util.Arrays.asList(tasks: _*))
        .forEach(_.get()) // surface the first copy failure
    } finally pool.shutdown()
  }

  /** Atomically publish a fully-built generation: retire `curName` (the
    * retention clock starts) and point the MANIFEST at `nextName` — the
    * ONE reader-visible step of every generation swap, shared by
    * compaction (`VecsStream.compactSwap`) and the rebalance so the two
    * publishes can never diverge.
    */
  private[graft] def publishGeneration(layout: Layout, curName: String,
                                       nextName: String): Unit = {
    markRetired(layout, curName)
    layout.ops.atomicWriteFile(s"${layout.dir}/MANIFEST", nextName)
  }

  /** Per-cluster row counts from parquet FOOTER metadata only — no data
    * pages touched — over exactly the snapshot's committed files: its own
    * and the ones its listing carries by reference (named directly, no
    * directory walk of the source generations). Distributed (at corpus
    * scale a partitioned layout holds thousands of files); the driver
    * sees one (cluster, rows) pair per file. The paths shipped to
    * executor tasks are FULLY QUALIFIED (scheme+authority), so they
    * resolve on executors that do not share the driver's filesystem view.
    */
  private[operators] def clusterSizesFromFooters(
      spark: SparkSession, snap: GenSnapshot): Array[(Int, Long)] = {
    val files: Seq[(Int, String)] =
      snap.ownFiles().map { case (c, f) => (c, hpath(spark, f.path).toString) } ++
        snap.carried().map(e => (clusterOfCarryEntry(e),
          hpath(spark, s"${snap.layout.dir}/$e").toString))
    if (files.isEmpty) return Array.empty
    val sc = spark.sparkContext
    // executor tasks must see the DRIVER's hadoop conf (s3a credentials,
    // endpoints), not a bare `new Configuration()` of classpath defaults
    val bConf = org.apache.spark.graft.SerHadoopConf.broadcast(sc, sc.hadoopConfiguration)
    // one stage of at most defaultParallelism tasks, summed on the driver:
    // a footer read is tiny, so a task or a shuffle per file costs more
    // than the read
    sc.parallelize(files, math.max(1, math.min(sc.defaultParallelism, files.length)))
      .map { case (c, p) =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p), bConf.value.conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try (c, r.getRecordCount) finally r.close()
      }
      .collect().groupMapReduce(_._1)(_._2)(_ + _).toArray
  }

  /** Lease file serializing the SCHEDULED maintenance mutators
    * ([[rebalanceIndex]], [[vacuumIndex]], `VecsStream.compactIndex`,
    * and one whole `VecsStream.maintenanceLoop` pass) against a
    * double-fired scheduler: two maintenance ops interleaving on the
    * same layout can be destructive (a rebalance deleting partition
    * dirs a compaction is mid-rewrite on; a vacuum reclaiming a
    * generation a swap is about to reference), and at fleet scale
    * cron/airflow retries DO double-fire. Acquired atomically
    * (`Files.createFile`), released in `finally`; a lease older than
    * `staleMs` is broken (the ops themselves are each crash-safe —
    * versioned rewrite, staged promote, idempotent anti-join — so a
    * crashed holder must not wedge maintenance forever; the lease only
    * serializes CONCURRENT mutators). READERS never take it: the
    * MANIFEST protocol already gives every reader
    * old-or-new-never-partial. Continuous-ingest APPENDS take it only
    * around their metadata-cheap PROMOTE step
    * (`streaming.IdempotentSink.appendBatch` — the staged Spark write
    * stays outside), which makes append-vs-maintenance exclusion
    * MECHANICAL instead of a scheduling convention; running maintenance
    * between ingest windows remains the documented q117 contract for
    * MODEL freshness (a rebalance invalidates frozen writer models
    * regardless of any lock).
    *
    * Crash-safety of the lease itself: the lock body carries a HOLDER
    * TOKEN. A stale lease (older than `staleMs`) is broken by an
    * exclusive-create CLAIM keyed to the measured mtime — exactly one
    * breaker per stale-lock instance is elected, re-confirms the lock is
    * still that instance, and only then renames it aside; the subsequent
    * exclusive-create picks exactly one new holder. (Neither the old
    * delete/re-acquire nor a bare rename-aside is safe: a slow breaker
    * that measured the stale mtime can delete — or rename away — the
    * FRESH lock a faster breaker's successor created, vacating the path
    * for a second concurrent mutator; the racing-breakers spec catches
    * both.) Release verifies the token, so a holder whose lease was
    * broken mid-run (a pass outliving `staleMs`) cannot remove the new
    * holder's lock on its way out. `waitMs` > 0 polls the acquire
    * (100ms) before giving up — the appenders' promote uses it to ride
    * out a maintenance pass instead of failing the batch.
    *
    * A layout holding a committed `_rebalance_staging` is refused before
    * the lease is taken: builds before the generation-versioned
    * rebalance swapped cluster dirs in place behind that marker, and its
    * staging holds the only copy of the re-encoded rows — no mutator of
    * this build may sweep, append into, or rewrite around it.
    */
  private[graft] def withLayoutLock[A](
      layout: Layout, staleMs: Long = 60L * 60 * 1000,
      waitMs: Long = 0L)(body: => A): A = {
    require(!layout.fs.exists(s"${layout.dir}/_rebalance_staging/_COMMIT"),
      s"${layout.dir} holds a committed in-place rebalance swap " +
        "(_rebalance_staging/_COMMIT) left by an older build: finish it " +
        "with the build that wrote it before maintaining this layout")
    val lock = s"${layout.dir}/_maintenance.lock"
    val token = java.util.UUID.randomUUID().toString
    def acquire(): Boolean = layout.ops.exclusiveCreate(lock, token)
    def tryBreakStale(): Unit = {
      // lastModified() == 0 means the lock vanished (holder released or a
      // racing breaker won) — nothing to break, just retry the acquire
      val lm = layout.fs.lastModified(lock)
      if (lm == 0L || System.currentTimeMillis() - lm < staleMs) return
      // ELECT exactly one breaker per stale-lock INSTANCE via an
      // exclusive-create claim keyed to the measured mtime: a naive
      // rename-aside race lets a slow breaker (which measured the OLD
      // stale mtime) rename away the FRESH lock a faster breaker's
      // successor just created — a second mutator then acquires the
      // vacated path (caught by the racing-breakers spec). With the
      // claim, only the winner renames, and only after re-confirming the
      // lock is still the instance it measured (same mtime — fresh and
      // stale differ by ≥ staleMs, so the compare is unambiguous).
      // GC claims a crashed breaker stranded. The age must sit WELL
      // above plausible JVM pause lengths (GC/VM stalls), not just above
      // the break's own microseconds: reclaiming a LIVE breaker's claim
      // re-elects a second breaker for the same stale instance, and the
      // resumed first could then rename away the fresh lock the second's
      // successor created. A stranded claim only DELAYS breaking (this
      // instance stays wedged until the GC age passes) — it can never
      // corrupt — so err long: 5 minutes.
      val claimGcMs = 5L * 60 * 1000
      layout.fs.list(layout.dir)
        .filter(f => f.name.startsWith("_maintenance.lock.break-") &&
          System.currentTimeMillis() - f.mtime > claimGcMs)
        .foreach(f => layout.fs.delete(f.path))
      val claim = s"${layout.dir}/_maintenance.lock.break-$lm"
      if (!layout.ops.exclusiveCreate(claim, token)) return // not elected
      try {
        if (layout.fs.lastModified(lock) == lm) {
          // belt to the GC age's suspenders: re-verify the claim still
          // exists AND still carries OUR token immediately before the
          // rename — a breaker paused past the GC age between election
          // and here has lost its claim to a newer breaker and must
          // stand down (renaming now could vacate a fresh lock)
          val claimIsOurs = try {
            layout.fs.readString(claim) == token
          } catch { case _: java.io.IOException => false }
          if (claimIsOurs) {
            val aside = s"${layout.dir}/_maintenance.lock.broken-$token"
            try {
              layout.ops.atomicRenameDir(lock, aside)
              layout.fs.delete(aside)
            } catch { case _: java.nio.file.NoSuchFileException => () }
          }
        }
      } finally layout.fs.delete(claim)
    }
    val deadline = System.currentTimeMillis() + waitMs
    var held = acquire()
    while (!held && System.currentTimeMillis() < deadline) {
      tryBreakStale()
      held = acquire()
      if (!held) Thread.sleep(100)
    }
    if (!held) { tryBreakStale(); held = acquire() }
    if (!held)
      throw new IllegalStateException(
        s"maintenance already in flight on ${layout.dir} (_maintenance.lock held; " +
          s"a lease breaks after ${staleMs / 1000}s)")
    try body finally {
      // release ONLY our own lease: if a breaker replaced it while we ran
      // (we outlived staleMs), the lock now carries the new holder's token
      try {
        if (layout.fs.readString(lock) == token) layout.fs.delete(lock)
      } catch { case _: java.io.IOException => () }
    }
  }

  /** What [[vacuumIndex]] removed. */
  case class VacuumReport(removed: Seq[String], reclaimedBytes: Long)

  /** Default retention window for superseded generations and their
    * folded logs: long enough that no in-flight scan straddles it.
    */
  val DefaultRetainMs: Long = 24L * 60 * 60 * 1000

  /** Garbage-collect a saved layout: remove what the crash-safe
    * lifecycle protocols leave behind, split into two classes.
    *
    * '''Retention-windowed''' (the Delta VACUUM pattern): a compaction
    * swap RETIRES the old generation instead of deleting it inline
    * (`VecsStream.compactSwap` — an in-flight reader that resolved the
    * old generation pre-swap keeps scanning it to completion), so a
    * retired generation and its folded tombstone log are reclaimed only
    * once their `_retired/<gen>` marker is older than `retainMs`. Batch
    * staging under `_staging` is age-gated the same way (FS state alone
    * cannot distinguish a crashed batch's staging from a LIVE batch
    * mid-write — the promote takes the lease, the staging write
    * deliberately does not).
    *
    * '''Immediate debris''' (never reader-visible): an UNRETIRED
    * non-active generation (a compaction or rebalance that wrote its
    * generation but never published it — no reader ever resolved it), a
    * torn `MANIFEST.tmp`, stranded lease-break asides, and `.inprogress`
    * sentinels whose commit marker exists (the batch committed; the
    * sentinel just makes every later inspection read as a crashed
    * attempt).
    *
    * Never touches the ACTIVE generation or its log (folding is
    * compaction's job), its `_model.json`, or the `_commits` markers (a
    * restarted stream needs its replay evidence), or the
    * `_maintenance.lock` lease (held by the caller — [[withLayoutLock]]
    * breaks stale ones itself). Mutual exclusion with the other
    * scheduled maintenance ops is ENFORCED by the lease, not left to
    * the scheduler. Pure filesystem metadata — no jobs.
    */
  def vacuumIndex(layout: Layout, retainMs: Long = DefaultRetainMs): VacuumReport =
    withLayoutLock(layout)(vacuumUnlocked(layout, retainMs))

  private[graft] def vacuumUnlocked(
      layout: Layout, retainMs: Long = DefaultRetainMs): VacuumReport = {
    val now = System.currentTimeMillis()
    val active = activeName(layout)
    val markers = layout.fs.list(s"${layout.dir}/_retired")
      .filter(!_.isDir).map(f => f.name -> f).toMap
    def expired(gen: String): Boolean =
      markers.get(gen).exists(m => now - m.mtime >= retainMs)
    val genDirs = layout.fs.list(layout.dir).filter(f => f.isDir &&
      (f.name == "index" || f.name.matches("index-v\\d+")))
    // REFCOUNT across generations (the carry-listing shape): a file a
    // RETAINED generation's `_CARRY` still references — the active one,
    // or a retired one inside its retention window (its in-flight
    // readers resolved that listing) — physically lives in an OLDER
    // generation dir and must survive that dir's retirement. File-level
    // refcount replaces dir-granularity reclamation: an expired retired
    // generation keeps exactly its referenced files (reclaimed the pass
    // after a compaction rewrites them into a self-contained
    // generation); everything else in it goes now.
    val retainedGens: Seq[String] = active +: genDirs.map(_.name)
      .filter(g => g != active && markers.contains(g) && !expired(g))
    val referenced: Set[String] =
      retainedGens.flatMap(g => readCarry(layout, g)).toSet
    def referencedUnder(gen: String): Boolean =
      referenced.exists(_.startsWith(gen + "/"))
    // superseded generations: reclaim (with their folded log + marker)
    // only past the retention window; unretired non-active generations
    // are unswapped rewrite debris — no reader ever resolved them (and
    // no listing can reference a never-published generation's files,
    // but guard anyway)
    val retiredExpired = genDirs.filter(g => g.name != active &&
      markers.contains(g.name) && expired(g.name))
    val (partialKeep, retiredVictims) =
      retiredExpired.partition(g => referencedUnder(g.name))
    val debrisGens = genDirs.filter(g => g.name != active &&
      !markers.contains(g.name) && !referencedUnder(g.name))
    // expired retired generations lose their LOG either way: readers of
    // that generation-as-a-generation are gone past the window, and any
    // successor carried the log by copy at swap time
    val logVictims = (retiredExpired ++ debrisGens)
      .map(g => logDirOfGen(layout.dir, g.name)).filter(layout.fs.isDirectory)
    // orphan markers (their generation already reclaimed — e.g. a crash
    // mid-vacuum between the gen delete and the marker delete): reclaim
    // the log once expired, then the marker
    val orphanMarkers = markers.filter { case (gen, _) =>
      !genDirs.exists(_.name == gen) && gen != active }
    val orphanLogVictims = orphanMarkers.keys.filter(expired).toSeq
      .map(g => logDirOfGen(layout.dir, g)).filter(layout.fs.isDirectory)
    val markerVictims = (retiredVictims.map(_.name) ++
      orphanMarkers.keys.filter(expired)).toSeq.distinct
      .flatMap(g => markers.get(g).map(_.path))
    // age-gated batch staging (live batches never straddle the window)
    val stagingVictims = layout.fs.list(s"${layout.dir}/_staging")
      .filter(f => f.isDir && now - f.mtime >= retainMs).map(_.path)
    val dirVictims = retiredVictims.map(_.path) ++ debrisGens.map(_.path) ++
      logVictims ++ orphanLogVictims ++ stagingVictims
    // committed batches' stranded in-progress sentinels
    val staleSentinels = graft.streaming.IdempotentSink.sentinels(layout)
      .filter(_.committed).map(_.path)
    val fileVictims = layout.fs.list(layout.dir).filter(f => !f.isDir &&
      (f.name == "MANIFEST.tmp" ||
        f.name.startsWith("_maintenance.lock.broken-") ||
        f.name.startsWith("_maintenance.lock.break-"))).map(_.path) ++
      layout.fs.list(s"${layout.dir}/_retired")
        .filter(f => !f.isDir && f.name.endsWith(".tmp")).map(_.path) ++
      staleSentinels ++ markerVictims
    val sized = dirVictims.map(v => v -> layout.fs.sizeOfDirectory(v)) ++
      fileVictims.map(v => v -> layout.fs.length(v))
    dirVictims.foreach(layout.fs.deleteRecursively)
    fileVictims.foreach(layout.fs.delete)
    // PARTIAL reclaim of expired retired generations that still back a
    // retained listing: every file NOT referenced goes now (stale split
    // clusters, `_model.json`, the generation's own `_CARRY` — it stopped
    // being load-bearing when its last in-window reader left; the
    // retained successors' listings reference the survivors DIRECTLY,
    // flattened at swap time). The `_retired` marker stays so later
    // passes revisit the dir and finish it once a compaction drops the
    // last reference.
    val partialSized = partialKeep.map { g =>
      var bytes = 0L; var n = 0
      // file identity is judged by the CONSTRUCTED root-relative path
      // (gen/cluster_id=N/file), the exact form the `_CARRY` entries
      // use — never by stripping a prefix off the listing's returned
      // path, whose qualification (scheme/authority) the filesystem
      // impl is free to canonicalize differently from the caller's dir
      // string (on HDFS that mismatch would read every carried file as
      // unreferenced and delete live data)
      def walk(f: String, rel: String): Boolean = { // true ⇒ subtree empty
        var empty = true
        layout.fs.list(f).foreach { k =>
          if (k.isDir) {
            if (walk(k.path, s"$rel/${k.name}")) layout.fs.delete(k.path)
            else empty = false
          } else if (referenced.contains(s"$rel/${k.name}") ||
              k.name == "_RECLAIMED")
            empty = false
          else { bytes += k.length; n += 1; layout.fs.delete(k.path) }
        }
        empty
      }
      walk(g.path, g.name)
      // the generation is no longer resolvable AS a generation (its own
      // listing and model file are gone) — mark it so [[loadAt]] refuses
      // it instead of serving a partial snapshot; written AFTER the walk
      // (idempotent under crash-retry: the re-walk skips the marker)
      if (!layout.fs.isFile(s"${g.path}/_RECLAIMED"))
        layout.ops.atomicWriteFile(s"${g.path}/_RECLAIMED",
          System.currentTimeMillis().toString)
      s"${g.path} (partial: $n unreferenced files — " +
        "carry-listed survivors retained)" -> bytes
    }
    VacuumReport((sized ++ partialSized).map(_._1).toIndexedSeq,
      (sized ++ partialSized).map(_._2).sum)
  }

  /** Scale a RERANK budget tuned against the ORIGINAL cluster count to a
    * layout whose centroid set has GROWN under [[rebalanceIndex]]:
    * rerank′ = ceil(rerank · (k′/k0)²), with k0 from the `BUILT_K`
    * sidecar the first rebalance writes (a never-rebalanced layout
    * scales by 1). Every query entry point applies this automatically
    * (the factor rides in `RabitqModel.rerankScale` from [[load]]).
    *
    * Why RERANK and not nprobe — measured at 1M across a 256→368 split
    * (SCALE probe_scale row): the post-rebalance recall loss at a fixed
    * budget is SHORTLIST DISPLACEMENT, not probe coverage. At rerank
    * 1000 recall is flat in nprobe (0.916/0.908/0.906 at 16/23/46
    * probes — the 16 nearest clusters already hold the true neighbors),
    * while at any fixed rerank MORE probes LOWER recall (0.761→0.664 at
    * rerank 200) by adding far candidates whose estimate noise displaces
    * true neighbors from the truncated shortlist.
    *
    * Why QUADRATIC — the SCALE_r18 frontier row (1M, 256→368, np16):
    * the linear k′/k0 point (rr288) recovers only 0.816 of the 0.883
    * pre-skew recall, while query cost is probe-scan-dominated and
    * nearly FLAT in rerank — 0.841 @ rr360, 0.864 @ rr432 (= the
    * quadratic point, +5% query_sec), 0.878 @ rr504, 0.889 @ rr576
    * (+21%). (k′/k0)² lands within 0.02 of parity at single-digit cost
    * and stays a closed form that is exactly 1 for an unsplit layout;
    * callers wanting full parity pass ~2.5× the tuned budget (the
    * frontier is in SCALE_r18.json).
    */
  def scaledRerank(layout: Layout, numClusters: Int, rerank: Int): Int = {
    val s = probeScale(layout, numClusters)
    math.ceil(rerank * s * s).toInt
  }

  /** numClusters / BUILT_K — 1.0 for a never-rebalanced layout. Read
    * ONCE per [[load]] (the value rides in `RabitqModel.rerankScale`
    * from there on — never a per-query file read); an unreadable or
    * corrupt sidecar degrades to 1.0 with a warning instead of throwing
    * from a query path (the pre-rebalance budget is always a safe,
    * merely less-recall-accurate, fallback).
    */
  def probeScale(layout: Layout, numClusters: Int): Double = {
    val f = s"${layout.dir}/BUILT_K"
    if (!layout.fs.exists(f)) 1.0
    else
      try numClusters.toDouble /
        math.max(1, layout.fs.readString(f).trim.toInt)
      catch {
        case e @ (_: java.io.IOException | _: NumberFormatException) =>
          System.err.println(
            s"[graft] WARN: unreadable BUILT_K sidecar at ${layout.dir} (${e.getMessage}) " +
              "— rerank scaling degrades to 1.0 (pre-rebalance budgets)")
          1.0
      }
  }

  def load(spark: SparkSession, layout: Layout): (RabitqModel, DataFrame) = {
    // ONE snapshot per load — the model file and the data scan must come
    // from the SAME generation even when a concurrent maintenance pass
    // publishes a new one mid-call
    val snap = resolve(layout)
    (snap.model, scanOfGen(spark, snap))
  }

  /** The file a generation's model lives in, inside the generation dir.
    * The MANIFEST write that publishes a generation therefore flips data
    * and model together, and a retired generation keeps the model its
    * rows were encoded against. Underscore-named: the data scan never
    * sees it.
    */
  private[graft] val ModelFile = "_model.json"

  /** Write `model` as `genDir`'s [[ModelFile]] through the handle's
    * atomic write. S8 analog of the reference's whole-model serde JSON
    * (its `src/rabitq.rs:72-81`), one line:
    * `{"dim":D,"pad_dim":P,"num_clusters":K,"seed":S,"bias":"…",
    * "centroids":"…","rotation":"…"}`. Each float array is base64 of
    * little-endian f32, shaped by the params (bias P, centroids K×P,
    * rotation P×P): bit-exact by construction, and a dim-960 rotation
    * encodes and decodes in tens of ms where a decimal-text codec takes
    * hundreds.
    */
  private[graft] def writeModel(layout: Layout, genDir: String,
                                model: RabitqModel): Unit = {
    val p = model.params
    require(model.bias.length == p.padDim &&
      model.centroids.length == p.numClusters && model.rotation.length == p.padDim &&
      (model.centroids ++ model.rotation).forall(_.length == p.padDim),
      s"model shape does not match its params $p")
    def blob(a: Array[Float]): String = {
      val b = java.nio.ByteBuffer.allocate(4 * a.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.asFloatBuffer().put(a)
      java.util.Base64.getEncoder.encodeToString(b.array())
    }
    layout.ops.atomicWriteFile(s"$genDir/$ModelFile",
      s"""{"dim":${p.dim},"pad_dim":${p.padDim},"num_clusters":${p.numClusters},""" +
        s""""seed":${p.seed},"bias":"${blob(model.bias)}",""" +
        s""""centroids":"${blob(model.centroids.flatten)}",""" +
        s""""rotation":"${blob(model.rotation.flatten)}"}""")
  }

  /** The model HALF of [[load]]'s single-resolution read: the
    * generation's [[ModelFile]], decoded on the driver — no Spark job.
    * Also for callers that must know the model (to enumerate probed
    * clusters) BEFORE constructing the data scan ([[loadLiveProbed]]).
    * The file is outside input, so every blob's length is checked
    * against its shape. A generation without one (a layout an older
    * build wrote) is refused.
    */
  private[graft] def modelOfGen(layout: Layout, gen: String): RabitqModel = {
    val path = s"$gen/$ModelFile"
    if (!layout.fs.isFile(path))
      throw new IllegalStateException(s"$path is missing: this generation " +
        "carries no model file (a layout an older build wrote) — re-save the " +
        "layout with RabitqIndex.save")
    val json = layout.fs.readString(path)
    def field(key: String): String = {
      val k = "\"" + key + "\":"
      val at = json.indexOf(k)
      require(at >= 0, s"$path: no \"$key\" field")
      val from = at + k.length
      val quoted = from < json.length && json.charAt(from) == '"'
      val to =
        if (quoted) json.indexOf('"', from + 1)
        else json.indexWhere(c => c == ',' || c == '}', from)
      require(to > from, s"$path: unterminated \"$key\" field")
      if (quoted) json.substring(from + 1, to) else json.substring(from, to)
    }
    def floats(key: String, n: Long): Array[Float] = {
      val bytes = java.util.Base64.getDecoder.decode(field(key))
      require(bytes.length == 4L * n,
        s"$path: \"$key\" holds ${bytes.length} bytes, its shape needs ${4L * n}")
      val a = new Array[Float](n.toInt)
      java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .asFloatBuffer().get(a)
      a
    }
    val params = RabitqParams(field("dim").toInt, field("pad_dim").toInt,
      field("num_clusters").toInt, field("seed").toLong)
    val (p, k) = (params.padDim, params.numClusters)
    require(p > 0 && k > 0, s"$path: non-positive shape in $params")
    // quadratic in the cluster growth — see scaledRerank's frontier note
    val ps = probeScale(layout, k)
    RabitqModel(params,
      floats("rotation", p.toLong * p).grouped(p).toArray,
      floats("centroids", k.toLong * p).grouped(p).toArray,
      floats("bias", p), rerankScale = ps * ps)
  }

  /** Single-snapshot PROBE-PRUNED live read — the disk query paths'
    * read: resolve the generation ONCE, load its model, let the caller
    * derive the probed cluster ids from it, and return the live scan
    * restricted to them. Only the probed own cluster dirs are listed
    * and carried files come from only the manifest shards overlapping
    * the probed clusters ([[Carry.forClusters]]), so the planner's
    * file index is ∝ probed data, not ∝ corpus file count; the
    * `cluster_id ∈ probed` filter is already applied (it lands in the
    * scan's PartitionFilters — the plan the pruning gates assert), and
    * the generation's tombstone log is
    * anti-joined out ([[loadLive]]'s contract). Result-identical to
    * `loadLive` + the same filter: shards cover every cluster, and
    * restriction + filter commute.
    */
  private[graft] def loadLiveProbed(
      spark: SparkSession, layout: Layout,
      probeOf: (RabitqModel, () => DataFrame) => Seq[Int])
      : (RabitqModel, Seq[Int], DataFrame) = {
    val snap = resolve(layout)
    // the FULL live scan of the SAME snapshot, built only if the probe
    // derivation asks for it (the measured-selectivity fallback) — never
    // a second MANIFEST resolution or model load
    val probed = probeOf(snap.model, () => liveOf(spark, snap)._2)
    val scan = scanOfGen(spark, snap, Some(probed.toSet))
      .filter(org.apache.spark.sql.functions.col("cluster_id")
        .isin(probed: _*))
    (snap.model, probed, withoutTombstones(spark, snap, scan))
  }

  /** [[load]] with the maintained-layout READ CONTRACT applied: if the
    * dir carries an uncompacted `VecsStream.maintainIndex` tombstone log,
    * anti-join it out (id-only — broadcast at any realistic delete rate);
    * a no-op, plan-identical to [[load]], when no log exists. Every
    * consumer that ANSWERS QUERIES from a saved layout must read through
    * this (the disk query paths, the serving tier) — raw [[load]] is for
    * layout-level ops that handle the log themselves ([[rebalanceIndex]],
    * `VecsStream.compactIndex`) and for gates that assert physical
    * layout state.
    */
  def loadLive(spark: SparkSession, layout: Layout): (RabitqModel, DataFrame) =
    // same single-snapshot discipline as load: the tombstone log is PER
    // GENERATION, so it must be the log of the generation the data scan
    // resolved, not a re-read of a possibly-republished MANIFEST
    liveOf(spark, resolve(layout))

  /** The model and live scan of a snapshot: its data scan minus its own
    * tombstone log.
    */
  private[graft] def liveOf(spark: SparkSession,
                            snap: GenSnapshot): (RabitqModel, DataFrame) =
    (snap.model, withoutTombstones(spark, snap, scanOfGen(spark, snap)))

  /** TIME TRAVEL: [[loadLive]] pinned to a NAMED generation — the
    * active one, or a RETIRED generation still inside its retention
    * window. The generation manifest makes this nearly free: a retired
    * generation keeps its own `_CARRY` listing (or flat directory), its
    * own `_model.json`, and its own tombstone log, and
    * the refcounted vacuum keeps every file a RETAINED listing
    * references alive — so the snapshot resolves exactly as it did
    * while active, row for row, even after later rebalances rewrote
    * the clusters it carries. Refused (IllegalStateException) when the
    * generation was never published, has left the retention window
    * (vacuum reclaimed it — fully, or partially with a `_RECLAIMED`
    * marker), or does not exist; refusal is the contract, a partial
    * snapshot is never served. Snapshot validity is bounded by the
    * deployment's `retainMs` policy, exactly like Delta/Iceberg time
    * travel.
    */
  def loadAt(spark: SparkSession, layout: Layout,
             gen: String): (RabitqModel, DataFrame) = {
    val genDir = s"${layout.dir}/$gen"
    def refuse(why: String) =
      throw new IllegalStateException(
        s"generation $gen is not resolvable under ${layout.dir}: $why")
    if (gen != activeName(layout)) {
      if (!layout.fs.isFile(s"${layout.dir}/_retired/$gen"))
        refuse("neither active nor retired-retained (never published, " +
          "or reclaimed past the retention window)")
      if (!layout.fs.isDirectory(genDir))
        refuse("retired and already reclaimed")
      if (layout.fs.isFile(s"$genDir/_RECLAIMED"))
        refuse("retired and partially reclaimed past the retention " +
          "window — only its still-referenced files survive")
    }
    liveOf(spark, resolveGen(layout, gen))
  }

  /** The health snapshot [[describeIndex]] renders, kept structured so a
    * maintenance pass can consume the SAME measurement the report was
    * built from: `VecsStream.maintenanceLoop` previously re-derived the
    * model and the per-cluster live sizes inside each phase (describe →
    * compact → rebalance each re-resolved the generation and re-scanned
    * the layout under the one held lease); threading this through runs
    * the measurement once per pass (guide §1.2 run fewer passes — and at
    * corpus scale, one set of object-store LIST calls instead of three).
    */
  private[graft] final case class IndexHealth(
      model: RabitqModel, nRows: Long, nTomb: Long, sizes: Array[(Int, Long)]) {
    def nLive: Long = sizes.map(_._2).sum
    def maxSize: Long = if (sizes.isEmpty) 0L else sizes.map(_._2).max
    def meanSize: Double = nLive.toDouble / model.params.numClusters
    def debt: Double = if (nRows == 0) 0.0 else nTomb.toDouble / nRows
    def skew: Double = if (meanSize == 0) 0.0 else maxSize / meanSize
    def oversized(maxSizeFactor: Double): Int = {
      val mean = meanSize
      sizes.count { case (_, s) =>
        s > maxSizeFactor * mean && math.ceil(s / mean) >= 2 }
    }
  }

  private[graft] def indexHealth(spark: SparkSession, snap: GenSnapshot,
                                 footerFastPath: Boolean = true): IndexHealth = {
    // ONE snapshot (the load() discipline): model, data scan, log, and
    // footer files all from one MANIFEST read and one `_commits` walk.
    // The physical row count is the footer sum over the snapshot's
    // committed files (zero data pages); with no tombstone log the live
    // sizes are footer sums too, else they come from the slim two-column
    // live scan (vec_id, cluster_id — [[loadLive]]'s view).
    // `footerFastPath = false` counts everything from the scans instead.
    val tomb = logScanOfGen(spark, snap).map(_.select("vec_id").distinct())
    if (footerFastPath && tomb.isEmpty) {
      val sizes = clusterSizesFromFooters(spark, snap)
      IndexHealth(snap.model, sizes.map(_._2).sum, 0L, sizes)
    } else {
      val index = scanOfGen(spark, snap)
      val live = tomb.fold(index)(t => index.join(t, Seq("vec_id"), "left_anti"))
      // three INDEPENDENT actions — physical row count, tombstone count,
      // live per-cluster sizes — overlapped (guide §2.6)
      val (nRows, nTomb, sizes) = Overlap(spark,
        if (footerFastPath) clusterSizesFromFooters(spark, snap).map(_._2).sum
        else index.count(),
        tomb.fold(0L)(_.count()),
        live.groupBy("cluster_id").count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)))
      IndexHealth(snap.model, nRows, nTomb, sizes)
    }
  }

  /** Layout/health statistics for a saved index dir — the one-row report
    * an operator reads to SCHEDULE the maintenance the lifecycle ops
    * perform: `tombstone debt` (n_tombstones/n_rows) decides when
    * `VecsStream.compactIndex` is worth the rewrite, `skew` and
    * `clusters_oversized` decide when [[rebalanceIndex]] is (the emitted
    * `needs_rebalance` applies rebalanceIndex's own split criterion at
    * the same `maxSizeFactor`, so the report and the op can never
    * disagree). Cost shape: with no tombstone log the WHOLE report is
    * parquet FOOTER metadata ([[clusterSizesFromFooters]] — zero data
    * pages, sub-second at 1M where the scan took 10.9s); with a log the
    * live sizes need the anti-join, so it falls back to ONE slim
    * two-column scan (vec_id, cluster_id — column-pruned, never the
    * codes) into a numClusters-row aggregate. Either way the collected
    * frame is the cluster count, never the corpus. The serving tier's
    * /describe reads its hot tier's cluster sizes instead (no job).
    */
  def describeIndex(spark: SparkSession, layout: Layout,
                    maxSizeFactor: Double = 1.5,
                    footerFastPath: Boolean = true): DataFrame = {
    import spark.implicits._
    val h = indexHealth(spark, resolve(layout), footerFastPath)
    val oversized = h.oversized(maxSizeFactor)
    Seq((h.model.params.numClusters, h.nRows, h.nLive, h.nTomb, h.debt,
        h.maxSize, h.meanSize, h.skew, oversized, oversized > 0))
      .toDF("num_clusters", "n_rows", "n_live", "n_tombstones",
        "tombstone_debt", "max_cluster_size", "mean_cluster_size",
        "skew", "clusters_oversized", "needs_rebalance")
  }
}
