package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators._

/** The file-reference generation MANIFEST (`_CARRY` listing — the
  * Iceberg-manifest shape) executed end to end:
  *
  *  1. CARRY ∝ SKEW — a generation-versioned rebalance of a
  *     mostly-untouched layout physically writes only the re-encoded
  *     split members; every untouched cluster's immutable files are
  *     carried as listing lines, byte-for-byte identical to the source
  *     generation's, with NOTHING corpus-proportional copied.
  *  2. REFCOUNTED VACUUM — an expired retired generation keeps exactly
  *     the files a retained listing still references (file-level
  *     refcount replacing dir-granularity retirement) and is finished
  *     off the pass after a compaction rewrites them away.
  *  3. CONCURRENT-READER HAMMER — M readers continuously resolve and
  *     scan the layout while publish/retire/vacuum cycles churn
  *     generations under `CondPutCommit`; every read must be a complete
  *     generation (no duplicates, the untouched core always whole, no
  *     invented rows, no resurrections of settled tombstones).
  *  4. RERANK-SCALE OVERRIDE — the per-call `rerankScale` on the disk
  *     entry points demonstrably replaces the loaded model's default
  *     (the operating-point frontier is documented at the API).
  *  5. MODEL PER GENERATION — every generation carries its model in one
  *     `_model.json`, read on the driver without a Spark job: after
  *     save → maintain → compact → rebalance the active and both
  *     retained retired generations load bit-identical models with no
  *     job, and a generation whose model file is gone is refused even
  *     with the parquet model tables an older build wrote in its place.
  */
class GenerationManifestSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  val sf = "/root/testdata/sf0.001"
  private def emb: DataFrame = spark.read.parquet(s"$sf/embeddings.parquet")

  /** (root-relative path → byte size) of every parquet data file under
    * the generation's own cluster dirs.
    */
  private def ownDataFiles(dir: String, gen: String): Map[String, Long] = {
    val g = new java.io.File(s"$dir/$gen")
    Option(g.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("cluster_id="))
      .flatMap(cd => Option(cd.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(f => s"$gen/${cd.getName}/${f.getName}" -> f.length()))
      .toMap
  }

  /** Skewed saved layout: model fit on the lower halfspace, layout
    * holding everything — the upper half piles into boundary clusters
    * (the q120 recipe), so a rebalance really splits while most
    * clusters stay untouched.
    */
  private def skewedLayout(): (String, RabitqModel) = {
    val idxDir = java.nio.file.Files.createTempDirectory("carry_skew").toString
    val lowerHalf = emb.filter(element_at(col("embedding"), 1) < 0f)
    val (model, _) = RabitqIndex.build(spark, lowerHalf, numClusters = 8, seed = 7L)
    RabitqIndex.save(spark, model,
      RabitqIndex.appendVectors(spark, model, emb), idxDir)
    (idxDir, model)
  }

  test("carry ∝ skew: the generation-versioned rebalance carries every " +
      "untouched cluster BY REFERENCE — zero untouched bytes copied, " +
      "listing = exactly the source generation's untouched files") {
    val (idxDir, _) = skewedLayout()
    val beforeFiles = ownDataFiles(idxDir, "index")
    val liveBefore = RabitqIndex.loadLive(spark, idxDir)._2
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val layout = Layout(idxDir, CondPutCommit)
    val rep = RabitqIndex.rebalanceIndex(spark, layout, emb, maxSizeFactor = 1.4)
    val (m2, live) = RabitqIndex.loadLive(spark, layout)
    assert(rep.numClustersAfter > rep.numClustersBefore,
      "gate is vacuous: the skewed layout did not split")
    assert(RabitqIndex.indexDataDir(idxDir) == s"$idxDir/index-v2")
    val splitIds = rep.split.keySet
    assert(splitIds.nonEmpty && splitIds.size < rep.numClustersBefore,
      "gate is vacuous: need both split and untouched clusters")
    val untouchedFiles = beforeFiles.filter { case (p, _) =>
      !splitIds.contains(RabitqIndex.clusterOfCarryEntry(p)) }
    assert(untouchedFiles.nonEmpty)

    // 1. the listing is EXACTLY the untouched files, in place, unmoved
    val carry = RabitqIndex.readCarry(idxDir, "index-v2").toSet
    assert(carry == untouchedFiles.keySet,
      s"carry listing must reference exactly the untouched files " +
        s"(missing=${(untouchedFiles.keySet -- carry).take(3)}, " +
        s"extra=${(carry -- untouchedFiles.keySet).take(3)})")
    carry.foreach { e =>
      assert(new java.io.File(s"$idxDir/$e").isFile,
        s"carried file vanished from its source generation: $e")
    }

    // 2. nothing corpus-proportional was copied: no carried file exists
    // physically under index-v2, and the rows physically written there
    // are EXACTLY the split members (∝ skew) — at fixture scale parquet
    // per-file overhead swamps byte ratios, so the ∝-skew BYTES are
    // measured in the scale smoke; structure is pinned here
    val v2Files = ownDataFiles(idxDir, "index-v2")
    val carriedNames = carry.map(_.split('/').last)
    assert(v2Files.keySet.forall(p => !carriedNames.contains(p.split('/').last)),
      "an untouched file was physically copied into the new generation")
    val splitMemberRows = spark.read.parquet(s"$idxDir/index")
      .filter(col("cluster_id").isin(splitIds.toSeq.map(Int.box): _*)).count()
    val v2OwnRows = spark.read.parquet(s"$idxDir/index-v2").count()
    assert(v2OwnRows == splitMemberRows,
      s"the new generation physically holds $v2OwnRows rows — expected " +
        s"exactly the $splitMemberRows split members (∝ skew), nothing more")
    assert(splitMemberRows < liveBefore.size,
      "gate is vacuous: the whole corpus was in the split clusters")

    // 3. the reader resolves the listing: identical live set, brute-force
    // exactness at full probe through the carried generation
    val ids = live.select("vec_id").collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length, "union scan duplicated rows")
    assert(ids.toSet == liveBefore, "rebalance changed the live row set")
    val qs = ExactKnn.queriesFromEmbeddings(emb, 5)
    val truth = ExactKnn.l2TopK(emb, qs, 10)
    val res = RabitqQuery.topK(spark, m2, live, emb, qs,
      m2.params.numClusters, 10, 100000)
    assert(ExactKnn.recall(res, truth, 10).head().getDouble(0) == 1.0,
      "full-probe search through the carry-listed generation must equal " +
        "brute force")

    // 4. the footer fast path counts carried files like its own
    val d = RabitqIndex.describeIndex(spark, idxDir).head()
    assert(d.getAs[Long]("n_rows") == liveBefore.size.toLong,
      "describeIndex footer fast path must count carried files")

    // 5. partition PRUNING survives the carry: the generation is ONE
    // scan, a cluster_id filter lands in its PartitionFilters, and the
    // files it selects are exactly that cluster's own and carried files
    // — the disk query path's static prune depends on it
    import org.apache.spark.sql.execution.FileSourceScanExec
    val carriedCluster = carry.map(RabitqIndex.clusterOfCarryEntry).head
    val scans = live.filter(col("cluster_id") === carriedCluster)
      .queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1,
      s"expected one scan of the generation, found ${scans.size}")
    val scan = scans.head
    assert(scan.metadata.getOrElse("PartitionFilters", "").contains("cluster_id"),
      s"the cluster_id filter must reach PartitionFilters:\n${scan.metadata}")
    val selected = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters)
      .flatMap(_.files.map(_.getPath.toUri.getPath.stripPrefix(s"$idxDir/")))
    val expected = (v2Files.keySet ++ carry)
      .filter(e => RabitqIndex.clusterOfCarryEntry(e) == carriedCluster)
    assert(expected.exists(carry.contains),
      "gate is vacuous: the filtered cluster has no carried file")
    assert(selected.length == selected.distinct.length && selected.toSet == expected,
      s"the pruned scan must select exactly cluster $carriedCluster's own " +
        s"and carried files (selected=$selected, expected=$expected)")
  }

  test("one relation per generation: opening a carry-listed generation " +
      "past 32 cluster dirs runs no Spark job, reads the rows of the plain " +
      "per-source reads, and a refresh re-lists only its own dirs") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val idxDir = java.nio.file.Files.createTempDirectory("seeded_open").toString
    // 40 lower-halfspace centroids (no k-means fit): the upper half piles
    // into boundary clusters, so the rebalance splits a few and carries
    // the rest — more cluster dirs than Spark's parallel-listing threshold
    val lowerHalf = emb.filter(element_at(col("embedding"), 1) < 0f)
    val cents = lowerHalf.orderBy("vec_id").limit(40).select("embedding")
      .collect().map(_.getSeq[Float](0).toArray)
    val (model, _) = RabitqIndex.buildWithCentroids(spark, lowerHalf, cents, 7L)
    RabitqIndex.save(spark, model, RabitqIndex.appendVectors(spark, model, emb), idxDir)
    val rep = RabitqIndex.rebalanceIndex(spark, idxDir, emb, maxSizeFactor = 1.4)
    assert(rep.numClustersAfter > rep.numClustersBefore,
      "gate is vacuous: the skewed layout did not split")
    val gen = RabitqIndex.indexDataDir(idxDir)
    assert(gen == s"$idxDir/index-v2")
    val carry = RabitqIndex.readCarry(idxDir, "index-v2")
    val ownClusters = ownDataFiles(idxDir, "index-v2").keySet
      .map(RabitqIndex.clusterOfCarryEntry)
    assert(carry.size > 32 && ownClusters.nonEmpty,
      s"gate is vacuous: ${carry.size} carried files, ${ownClusters.size} own dirs")
    val delId = emb.agg(min("vec_id")).head().getLong(0)
    graft.streaming.IdempotentSink.appendBatch(Seq(delId).toDF("vec_id"),
      RabitqIndex.tombstoneLogDir(idxDir), idxDir, "open-del", 0L)
    val probed = Set(ownClusters.min, RabitqIndex.clusterOfCarryEntry(carry.last))

    // jobs submitted under one job group (overlap legs inherit it); a
    // marker job in its own group closes each window, so every earlier
    // job start has reached the listener when the count is read
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(started.add)
    }
    var window = 0
    def jobsOf(body: => Any): Int = {
      window += 1
      val g = s"seeded-open-$window"
      def inGroup(id: String)(f: => Any): Unit = {
        sc.setJobGroup(id, id)
        try f finally sc.clearJobGroup()
      }
      inGroup(g)(body)
      inGroup(s"$g-end")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.currentTimeMillis() + 30000
      while (!started.contains(s"$g-end") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(started.contains(s"$g-end"), "the marker job never reached the listener")
      started.toArray.count(_ == g)
    }
    sc.addSparkListener(listener)
    try {
      assert(jobsOf(RabitqIndex.scanOfGen(spark, RabitqIndex.resolve(idxDir))) == 0,
        "opening the generation's data scan must run no job")
      assert(jobsOf(RabitqIndex.scanOfGen(spark, RabitqIndex.resolve(idxDir), Some(probed))) == 0,
        "opening the probe-restricted scan must run no job")
      assert(jobsOf(RabitqIndex.logScanOfGen(spark, RabitqIndex.resolve(idxDir))) == 0,
        "opening the tombstone log must run no job")
      assert(jobsOf(RabitqIndex.modelOfGen(idxDir, gen)) == 0,
        "reading the generation's model must run no job")
      // the full opens: model and frames together run no job
      assert(jobsOf(RabitqIndex.loadLive(spark, idxDir)) == 0,
        "loadLive must run no job")
      assert(jobsOf(RabitqIndex.loadLiveProbed(spark, idxDir,
          (_, _) => probed.toSeq)) == 0,
        "loadLiveProbed must run no job")
    } finally sc.removeSparkListener(listener)

    // the rows are those of the plain per-source reads
    val cols = Seq("vec_id", "cluster_id", "code", "factor_ip", "factor_ppc",
      "error_bound", "cds").map(col)
    def rows(df: DataFrame): Seq[Seq[Any]] = df.select(cols: _*).collect()
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    val plain = (spark.read.parquet(gen) +:
        carry.groupBy(_.takeWhile(_ != '/')).toSeq.map { case (src, es) =>
          spark.read.option("basePath", s"$idxDir/$src")
            .parquet(es.map(e => s"$idxDir/$e"): _*)
        })
      .reduce(_.unionByName(_))
      .join(Seq(delId).toDF("vec_id"), Seq("vec_id"), "left_anti")
    val live = RabitqIndex.loadLive(spark, idxDir)._2
    assert(rows(live) == rows(plain), "the one relation diverged from the plain reads")
    assert(rows(RabitqIndex.loadLiveProbed(spark, idxDir, (_, _) => probed.toSeq)._3) ==
      rows(plain.filter(col("cluster_id").isin(probed.toSeq: _*))),
      "the probe-restricted relation diverged from the filtered plain reads")

    // refresh: the appended own file appears, the carry set is kept, and
    // the source generation's other files (the split clusters' pre-split
    // files) stay out
    def rel(f: String) = new org.apache.hadoop.fs.Path(f).toUri.getPath.stripPrefix(s"$idxDir/")
    val sourceOnly = ownDataFiles(idxDir, "index").keySet -- carry
    assert(sourceOnly.nonEmpty, "gate is vacuous: the source generation holds no uncarried file")
    val cached = RabitqIndex.scanOfGen(spark, RabitqIndex.resolve(idxDir)).cache()
    try {
      val n0 = cached.count()
      val extra = emb.limit(20)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      graft.streaming.IdempotentSink.appendBatch(
        RabitqIndex.appendVectors(spark, RabitqIndex.modelOfGen(idxDir, gen), extra),
        gen, idxDir, "open-add", 0L, partitionCols = Seq("cluster_id"))
      spark.catalog.refreshByPath(gen)
      assert(cached.count() == n0 + 20, "the refreshed relation must read the appended rows")
      // the relation's own file list (the frame's inputFiles would read
      // the cache's plan, which hides the relation)
      val files = cached.queryExecution.analyzed.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation }
        .collect { case f: org.apache.spark.sql.execution.FileRelation => f.inputFiles }
        .flatten.map(rel).toSet
      assert(files.exists(_.contains("/open-add-0-")),
        s"the refreshed relation must list the appended own file: $files")
      assert(files.filterNot(_.startsWith("index-v2/")) == carry.toSet,
        "a refresh must keep exactly the carried files of the source generation")
    } finally cached.unpersist()
  }

  test("refcounted vacuum: an expired retired generation keeps exactly " +
      "the files a retained listing references, and is finished off " +
      "once a compaction drops the last reference") {
    import spark.implicits._
    val (idxDir, _) = skewedLayout()
    val beforeFiles = ownDataFiles(idxDir, "index")
    val layout = Layout(idxDir, CondPutCommit)
    val rep = RabitqIndex.rebalanceIndex(spark, layout, emb, maxSizeFactor = 1.4)
    val splitIds = rep.split.keySet
    val carry = RabitqIndex.readCarry(layout, "index-v2").toSet
    // vacuum at retain 0: `index` is retired AND expired, but its
    // carried files back the active listing — partial reclaim
    val report = RabitqIndex.vacuumIndex(layout, retainMs = 0L)
    assert(report.removed.exists(_.contains("partial")),
      s"expected a partial reclaim of the referenced generation, got " +
        s"${report.removed.mkString("; ")}")
    carry.foreach { e =>
      assert(new java.io.File(s"$idxDir/$e").isFile,
        s"vacuum reclaimed a file the active listing references: $e")
    }
    val staleSplit = beforeFiles.keySet.filter(p =>
      splitIds.contains(RabitqIndex.clusterOfCarryEntry(p)))
    staleSplit.foreach { e =>
      assert(!new java.io.File(s"$idxDir/$e").exists,
        s"vacuum kept an unreferenced stale split file: $e")
    }
    assert(new java.io.File(s"$idxDir/_retired/index").isFile,
      "the partially reclaimed generation must stay marked for later passes")
    // the reader is untouched by the partial reclaim
    val (m2, live) = RabitqIndex.loadLive(spark, layout)
    val ids = live.select("vec_id").collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length)
    assert(ids.toSet == emb.select("vec_id").collect().map(_.getLong(0)).toSet)

    // appends land in the carry-listed generation's OWN cluster dirs
    // and union with the carried files — the live-generation contract
    // survives the manifest shape (writers re-load post-rebalance,
    // the q117 contract: the grown model from the generation-local
    // sidecars)
    val extra = emb.limit(50)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    graft.streaming.IdempotentSink.appendBatch(
      RabitqIndex.appendVectors(spark, m2, extra),
      RabitqIndex.indexDataDir(layout), layout, "cv-add", 0L,
      partitionCols = Seq("cluster_id"))
    val (_, liveApp) = RabitqIndex.loadLive(spark, layout)
    val appIds = liveApp.select("vec_id").collect().map(_.getLong(0))
    assert(appIds.length == appIds.distinct.length,
      "append into a carry-listed generation duplicated rows")
    assert(appIds.toSet == ids.toSet ++ extra.select("vec_id")
      .collect().map(_.getLong(0)),
      "append into a carry-listed generation lost or invented rows")
    assert(RabitqIndex.describeIndex(spark, layout).head()
      .getAs[Long]("n_rows") == appIds.length.toLong,
      "footer fast path must count own appends beside carried files")

    // a compaction rewrites the carried rows into a self-contained
    // generation; the next vacuum finishes both predecessors
    val delId = ids.min
    graft.streaming.IdempotentSink.appendBatch(
      Seq(delId).toDF("vec_id"),
      RabitqIndex.tombstoneLogDir(layout), layout, "cv-del", 0L)
    graft.streaming.VecsStream.compactIndex(spark, layout)
    assert(RabitqIndex.indexDataDir(layout) == s"$idxDir/index-v3")
    assert(RabitqIndex.readCarry(layout, "index-v3").isEmpty,
      "compaction must produce a self-contained generation")
    RabitqIndex.vacuumIndex(layout, retainMs = 0L)
    assert(!new java.io.File(s"$idxDir/index").exists,
      "with the last reference gone, the generation must be reclaimed")
    assert(!new java.io.File(s"$idxDir/index-v2").exists)
    assert(!new java.io.File(s"$idxDir/_retired/index").exists)
    val (_, live3) = RabitqIndex.loadLive(spark, layout)
    assert(live3.select("vec_id").collect().map(_.getLong(0)).toSet ==
      appIds.toSet - delId)
  }

  test("concurrent-reader hammer: M readers resolving and scanning " +
      "across N publish/retire/vacuum cycles under CondPutCommit always " +
      "see a complete generation — never torn, duplicated, or resurrected") {
    import spark.implicits._
    val idxDir = java.nio.file.Files.createTempDirectory("hammer").toString
    val lowerHalf = emb.filter(element_at(col("embedding"), 1) < 0f)
    val (model, _) = RabitqIndex.build(spark, lowerHalf, numClusters = 8, seed = 7L)
    val s0 = emb.filter(col("vec_id") < 300)
    RabitqIndex.save(spark, model,
      RabitqIndex.appendVectors(spark, model, s0), idxDir)
    val s0Ids = s0.select("vec_id").collect().map(_.getLong(0)).toSet
    val allIds = emb.select("vec_id").collect().map(_.getLong(0)).toSet

    // three cycles: append a slice, tombstone two ids, compact (a
    // generation publish), rebalance on the last cycle (a carry-listed
    // publish), vacuum with a retention window longer than the test (an
    // in-flight reader must never lose the generation it resolved)
    val batches = Seq(
      emb.filter(col("vec_id") >= 300 && col("vec_id") < 400),
      emb.filter(col("vec_id") >= 400 && col("vec_id") < 500),
      emb.filter(col("vec_id") >= 500))
    val dels = Seq(Seq(3L, 310L), Seq(7L, 410L), Seq(11L, 510L))
    // the STABLE CORE: initial rows never deleted — a torn generation
    // resolve (half-populated carry, lost untouched cluster) drops some
    // of these; every complete generation contains all of them
    val stableCore = s0Ids -- dels.flatten.toSet
    @volatile var settledDels: Set[Long] = Set.empty // cycles fully done
    @volatile var mutatorDone = false
    @volatile var mutatorErr: Option[Throwable] = None
    val readerErrs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val nReads = new java.util.concurrent.atomic.AtomicInteger(0)

    val layout = Layout(idxDir, CondPutCommit)
    val readers = (1 to 3).map { rid =>
      new Thread(() => {
        try {
          while (!mutatorDone) {
            val snapshot = settledDels // BEFORE the resolve
            val (_, live) = RabitqIndex.loadLive(spark, layout)
            val ids = live.select("vec_id").collect().map(_.getLong(0))
            nReads.incrementAndGet()
            if (ids.length != ids.distinct.length)
              readerErrs.add(s"r$rid: duplicated vec_ids in one read")
            val set = ids.toSet
            if (!stableCore.subsetOf(set))
              readerErrs.add(s"r$rid: torn generation — stable core " +
                s"missing ${(stableCore -- set).take(5)}")
            if (!set.subsetOf(allIds))
              readerErrs.add(s"r$rid: invented rows ${(set -- allIds).take(5)}")
            val res = set.intersect(snapshot)
            if (res.nonEmpty)
              readerErrs.add(s"r$rid: resurrected settled tombstones " +
                s"${res.take(5)}")
          }
        } catch {
          case t: Throwable => readerErrs.add(s"r$rid: ${t.getMessage}")
        }
      }, s"hammer-reader-$rid")
    }
    readers.foreach(_.start())
    try {
      batches.zip(dels).zipWithIndex.foreach { case ((b, d), i) =>
        graft.streaming.IdempotentSink.appendBatch(
          RabitqIndex.appendVectors(spark, model, b),
          RabitqIndex.indexDataDir(layout), layout, "hm", i.toLong,
          partitionCols = Seq("cluster_id"))
        graft.streaming.IdempotentSink.appendBatch(
          d.toDF("vec_id"),
          RabitqIndex.tombstoneLogDir(layout), layout, "hm-del", i.toLong)
        graft.streaming.VecsStream.compactIndex(spark, layout)
        if (i == batches.length - 1)
          RabitqIndex.rebalanceIndex(spark, layout, emb, maxSizeFactor = 1.4)
        RabitqIndex.vacuumIndex(layout, retainMs = 10L * 60 * 1000)
        settledDels = settledDels ++ d
      }
    } catch { case t: Throwable => mutatorErr = Some(t) }
    finally mutatorDone = true
    readers.foreach(_.join(120000))
    mutatorErr.foreach(t => fail(s"mutator failed: $t"))
    assert(nReads.get() >= 10,
      s"hammer is vacuous: only ${nReads.get()} reads completed")
    assert(readerErrs.isEmpty,
      s"${readerErrs.size} torn reads:\n  " +
        readerErrs.toArray.take(8).mkString("\n  "))
    // final state sanity: every row exactly once, all dels terminal
    val (_, fin) = RabitqIndex.loadLive(spark, idxDir)
    val finIds = fin.select("vec_id").collect().map(_.getLong(0))
    assert(finIds.length == finIds.distinct.length)
    assert(finIds.toSet == allIds -- dels.flatten.toSet)
    info(s"hammer: ${nReads.get()} clean concurrent reads across 3 " +
      "publish/retire/vacuum cycles + 1 carry-listed rebalance")
  }

  test("crash × race: kills injected at the swept commit points WHILE " +
      "the 3-reader hammer runs — every concurrent read is a complete " +
      "generation, and recovery is the replay") {
    // the kill sweep crashes single-threaded schedules; the hammer races
    // readers against CLEAN churn. This is the product: a mutation cycle
    // is crashed at a commit primitive (stride-sampled — exhaustiveness
    // is the sweep's job, the RACE composition is this spec's), the dead
    // holder's stale lease is re-manufactured, and the replay recovers —
    // all while 3 readers continuously resolve and scan. Any torn read
    // here is a real protocol bug the sweep alone cannot see.
    import spark.implicits._
    final class InjectedCrash extends RuntimeException("injected")
    final class CrashingOps(inner: CommitOps, killAt: Int) extends CommitOps {
      val calls = new java.util.concurrent.atomic.AtomicInteger(0)
      private def tick(): Unit =
        if (calls.incrementAndGet() == killAt) throw new InjectedCrash
      def atomicWriteFile(t: String, c: String): Unit = {
        tick(); inner.atomicWriteFile(t, c) }
      def atomicMoveFile(s: String, d: String): Unit = {
        tick(); inner.atomicMoveFile(s, d) }
      def atomicRenameDir(s: String, d: String): Unit = {
        tick(); inner.atomicRenameDir(s, d) }
      override def exclusiveCreate(p: String, c: String = ""): Boolean = {
        tick(); inner.exclusiveCreate(p, c) }
    }
    val idxDir = java.nio.file.Files.createTempDirectory("crash_race").toString
    val lowerHalf = emb.filter(element_at(col("embedding"), 1) < 0f)
    val (model, _) = RabitqIndex.build(spark, lowerHalf, numClusters = 8, seed = 7L)
    val s0 = emb.filter(col("vec_id") < 200)
    RabitqIndex.save(spark, model,
      RabitqIndex.appendVectors(spark, model, s0), idxDir)
    val s0Ids = s0.select("vec_id").collect().map(_.getLong(0)).sorted
    val embIds = emb.select("vec_id").collect().map(_.getLong(0)).sorted

    // cycle i: append 30 fresh-id rows, tombstone 2 settled s0 ids,
    // compact, rebalance every 3rd cycle, vacuum (long retention)
    def cycleBatch(i: Int) =
      emb.filter(col("vec_id") >= (200 + 30 * i) && col("vec_id") < (230 + 30 * i))
        .select((col("vec_id") + 10000L * (i + 1)).as("vec_id"), col("embedding"))
    def cycleDels(i: Int) = Seq(s0Ids(2 * i), s0Ids(2 * i + 1))
    // every id ANY cycle may tombstone, fixed upfront: a del commits
    // MID-cycle, so the reader's stable-core check must exclude all of
    // them (the settled-del snapshot is only for the resurrection check,
    // where lagging is conservative)
    val maxCycles = 12
    val allPossibleDels = (0 until maxCycles).flatMap(cycleDels).toSet
    def cycle(i: Int, ops: CommitOps): Unit = {
      val layout = Layout(idxDir, ops)
      graft.streaming.IdempotentSink.appendBatch(
        RabitqIndex.appendVectors(spark, model, cycleBatch(i)),
        RabitqIndex.indexDataDir(layout), layout, "cx", i.toLong,
        partitionCols = Seq("cluster_id"))
      graft.streaming.IdempotentSink.appendBatch(
        cycleDels(i).toDF("vec_id"),
        RabitqIndex.tombstoneLogDir(layout), layout, "cx-del", i.toLong)
      graft.streaming.VecsStream.compactIndex(spark, layout)
      if (i % 3 == 2) {
        val baseAll = emb.select("vec_id", "embedding")
          .unionByName((0 to i).map(cycleBatch).reduce(_.unionByName(_)))
        RabitqIndex.rebalanceIndex(spark, layout, baseAll, maxSizeFactor = 1.4)
      }
      RabitqIndex.vacuumIndex(layout, retainMs = 10L * 60 * 1000)
      ()
    }

    @volatile var settled: (Set[Long], Set[Long]) = (s0Ids.toSet, Set.empty)
    @volatile var mutatorDone = false
    @volatile var mutatorErr: Option[Throwable] = None
    val readerErrs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val nReads = new java.util.concurrent.atomic.AtomicInteger(0)
    val readers = (1 to 3).map { rid =>
      new Thread(() => {
        try {
          while (!mutatorDone) {
            val (core, dels) = settled // BEFORE the resolve
            val (_, live) = RabitqIndex.loadLive(spark, idxDir)
            val ids = live.select("vec_id").collect().map(_.getLong(0))
            nReads.incrementAndGet()
            if (ids.length != ids.distinct.length)
              readerErrs.add(s"r$rid: duplicated vec_ids in one read")
            val set = ids.toSet
            val missing = (core -- allPossibleDels) -- set
            if (missing.nonEmpty)
              readerErrs.add(s"r$rid: torn generation — settled core " +
                s"missing ${missing.take(5)}")
            val res = set.intersect(dels)
            if (res.nonEmpty)
              readerErrs.add(s"r$rid: resurrected settled tombstones " +
                s"${res.take(5)}")
          }
        } catch {
          case t: Throwable => readerErrs.add(s"r$rid: ${t.getMessage}")
        }
      }, s"crash-race-reader-$rid")
    }
    readers.foreach(_.start())
    try {
      // cycle 0 clean — counts the primitives of a representative cycle
      val counter = new CrashingOps(CondPutCommit, killAt = 0)
      cycle(0, counter)
      settled = (settled._1 ++ cycleBatch(0).select("vec_id").collect()
        .map(_.getLong(0)), settled._2 ++ cycleDels(0))
      val n = counter.calls.get()
      assert(n >= 10, s"cycle made only $n primitive calls — vacuous")
      // stride-sampled kill points, one crashed-and-replayed cycle each
      val stride = math.max(1, n / 8)
      var i = 1
      (1 to n by stride).take(maxCycles - 1).foreach { killAt =>
        val ops = new CrashingOps(CondPutCommit, killAt)
        val crashed =
          try { cycle(i, ops); false }
          catch { case _: InjectedCrash => true }
        if (crashed) {
          // a real crash leaves the dead holder's lease held — put it
          // back, stale, so recovery crosses the claim-elected break
          // WHILE readers race it
          val lock = new java.io.File(idxDir, "_maintenance.lock")
          if (!lock.exists) {
            java.nio.file.Files.writeString(lock.toPath, "dead-holder")
            assert(lock.setLastModified(
              System.currentTimeMillis() - 2L * 60 * 60 * 1000))
          }
          cycle(i, CondPutCommit) // recovery = the replay (next maintenance pass)
        }
        settled = (settled._1 ++ cycleBatch(i).select("vec_id").collect()
          .map(_.getLong(0)), settled._2 ++ cycleDels(i))
        i += 1
      }
    } catch { case t: Throwable => mutatorErr = Some(t) }
    finally mutatorDone = true
    readers.foreach(_.join(120000))
    mutatorErr.foreach(t => fail(s"mutator failed: $t"))
    assert(nReads.get() >= 10,
      s"hammer is vacuous: only ${nReads.get()} reads completed")
    assert(readerErrs.isEmpty,
      s"${readerErrs.size} torn reads under crash+race:\n  " +
        readerErrs.toArray.take(8).mkString("\n  "))
    // final integrity: every settled row exactly once, dels terminal
    val (_, fin) = RabitqIndex.loadLive(spark, idxDir)
    val finIds = fin.select("vec_id").collect().map(_.getLong(0))
    assert(finIds.length == finIds.distinct.length,
      "final layout duplicated rows")
    assert(finIds.toSet == settled._1 -- settled._2,
      s"final live set wrong (missing=" +
        s"${((settled._1 -- settled._2) -- finIds.toSet).take(5)}, " +
        s"extra=${(finIds.toSet -- (settled._1 -- settled._2)).take(5)})")
    info(s"crash×race: ${nReads.get()} clean concurrent reads across " +
      s"the stride-sampled kill points")
  }

  test("chained generations: a SECOND rebalance on a carry-listed " +
      "layout takes the generation shape even under POSIX (the in-place " +
      "guard) and flattens inherited entries across two source generations") {
    import spark.implicits._
    val (idxDir, _) = skewedLayout()
    val condPut = Layout(idxDir, CondPutCommit)
    val rep1 = RabitqIndex.rebalanceIndex(spark, condPut, emb, maxSizeFactor = 1.4)
    assert(rep1.numClustersAfter > rep1.numClustersBefore)
    assert(RabitqIndex.indexDataDir(idxDir) == s"$idxDir/index-v2")
    // back under the DEFAULT PosixCommit: the second rebalance takes the
    // same generation shape (the only one) over a carry-listed active
    // generation, so its listing must inherit and flatten index-v2's
    val (m1, _) = RabitqIndex.load(spark, idxDir) // writers reload (q117)
    assert(m1.params.numClusters > 8)
    // re-skew: a second pile of upper-halfspace vectors (fresh ids) into
    // the sub-clusters the first split created
    val extra = emb.filter(element_at(col("embedding"), 1) >= 0f)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    graft.streaming.IdempotentSink.appendBatch(
      RabitqIndex.appendVectors(spark, m1, extra),
      RabitqIndex.indexDataDir(idxDir), idxDir, "cg", 0L,
      partitionCols = Seq("cluster_id"))
    val base2 = emb.select("vec_id", "embedding").unionByName(extra)
    val rep2 = RabitqIndex.rebalanceIndex(spark, idxDir, base2,
      maxSizeFactor = 1.4)
    assert(rep2.numClustersAfter > rep2.numClustersBefore,
      s"gate is vacuous: the re-skewed layout did not split again ($rep2)")
    assert(RabitqIndex.indexDataDir(idxDir) == s"$idxDir/index-v3",
      "the second rebalance must publish the next generation")
    val carry3 = RabitqIndex.readCarry(idxDir, "index-v3")
    val srcGens = carry3.map(_.takeWhile(_ != '/')).toSet
    assert(srcGens.size >= 2,
      s"expected the flattened listing to reference BOTH source " +
        s"generations (got $srcGens) — chained carries must not collapse")
    carry3.foreach(e => assert(new java.io.File(s"$idxDir/$e").isFile,
      s"flattened carry entry vanished: $e"))
    // correctness through the 3-branch union (own v3 + carried v2 +
    // carried index): every row exactly once, full probe ≡ brute force
    val (m3, live3) = RabitqIndex.loadLive(spark, idxDir)
    val ids = live3.select("vec_id").collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length, "chained union duplicated rows")
    assert(ids.toSet == base2.select("vec_id").collect().map(_.getLong(0)).toSet)
    val qs = ExactKnn.queriesFromEmbeddings(emb, 5)
    val truth = ExactKnn.l2TopK(base2, qs, 10)
    val res = RabitqQuery.topK(spark, m3, live3, base2, qs,
      m3.params.numClusters, 10, 1000000)
    assert(ExactKnn.recall(res, truth, 10).head().getDouble(0) == 1.0,
      "full-probe search through chained carry generations must equal " +
        "brute force")
  }

  /** LayoutFs delegate recording every readString and list path — the
    * probe for "a pruned read touches only the manifest shards it needs"
    * and for the metadata calls of one operation. `onIsFile` runs after
    * each `isFile` probe returns (a hook to act between two reads).
    */
  private final class RecordingFs(inner: LayoutFs,
                                  onIsFile: String => Unit = _ => ()) extends LayoutFs {
    val reads = scala.collection.mutable.ArrayBuffer.empty[String]
    val lists = scala.collection.mutable.ArrayBuffer.empty[String]
    def exists(p: String) = inner.exists(p)
    def isFile(p: String) = { val r = inner.isFile(p); onIsFile(p); r }
    def isDirectory(p: String) = inner.isDirectory(p)
    def list(p: String) = { lists.synchronized(lists += p); inner.list(p) }
    def readString(p: String) = { reads.synchronized(reads += p); inner.readString(p) }
    def lastModified(p: String) = inner.lastModified(p)
    def setLastModified(p: String, ms: Long) = inner.setLastModified(p, ms)
    def length(p: String) = inner.length(p)
    def mkdirs(p: String) = inner.mkdirs(p)
    def delete(p: String) = inner.delete(p)
    def deleteRecursively(p: String) = inner.deleteRecursively(p)
    def sizeOfDirectory(p: String) = inner.sizeOfDirectory(p)
    def copyFile(s: String, d: String) = inner.copyFile(s, d)
  }

  test("sharded manifest: past carryShardTarget the listing splits into " +
      "cluster-aligned size-bounded shards + a manifest list — full " +
      "resolution unchanged, probe-pruned reads touch ONLY overlapping " +
      "shards, the distributed builder equals the driver walk, and a " +
      "retain-0 refcount vacuum keeps every listed file") {
    val (idxDir, _) = skewedLayout()
    // a low shard target forces the sharded shape at spec scale
    val posix = Layout(idxDir, carryShardTarget = 2)
    val beforeFiles = ownDataFiles(idxDir, "index")
    val liveBefore = RabitqIndex.loadLive(spark, idxDir)._2
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val rep = RabitqIndex.rebalanceIndex(spark, posix.copy(ops = CondPutCommit),
      emb, maxSizeFactor = 1.4)
    assert(rep.numClustersAfter > rep.numClustersBefore,
      "gate is vacuous: the skewed layout did not split")
    val splitIds = rep.split.keySet
    val untouched = beforeFiles.keySet.filterNot(p =>
      splitIds.contains(RabitqIndex.clusterOfCarryEntry(p)))
    assert(untouched.size > posix.carryShardTarget,
      "gate is vacuous: not enough carry entries to force sharding")

    // 1. SHAPE: no flat file; ordered, disjoint, cluster-aligned,
    // size-bounded shards whose counts match their files
    assert(!new java.io.File(s"$idxDir/index-v2/_CARRY").exists,
      "the sharded shape must not also write a flat _CARRY")
    val shards = RabitqIndex.readCarryShards(idxDir, "index-v2")
    assert(shards.size >= 3, s"expected >2 shards at target 2: $shards")
    shards.sliding(2).foreach {
      case Seq(a, b) => assert(a.hi < b.lo,
        s"shard ranges must be ordered and disjoint: $a then $b")
      case _ => ()
    }
    val clustersWithManyFiles = untouched
      .groupBy(RabitqIndex.clusterOfCarryEntry).values.map(_.size).max
    val byShardEntries = shards.map { s =>
      val es = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$idxDir/index-v2/_carry/${s.name}")))
        .split('\n').map(_.trim).filter(_.nonEmpty).toSeq
      assert(es.length == s.count, s"shard ${s.name} count lies")
      assert(es.length <= math.max(posix.carryShardTarget,
        clustersWithManyFiles),
        s"shard ${s.name} exceeds the size bound without an " +
          s"oversized-cluster excuse: ${es.length}")
      es.foreach { e =>
        val c = RabitqIndex.clusterOfCarryEntry(e)
        assert(c >= s.lo && c <= s.hi,
          s"entry $e outside its shard's range [${s.lo},${s.hi}]")
      }
      es
    }
    // a cluster's entries never straddle shards
    val shardOfCluster = scala.collection.mutable.Map.empty[Int, Int]
    byShardEntries.zipWithIndex.foreach { case (es, i) =>
      es.map(RabitqIndex.clusterOfCarryEntry).distinct.foreach { c =>
        assert(!shardOfCluster.contains(c),
          s"cluster $c straddles shards " +
            s"${shardOfCluster.getOrElse(c, -1)} and $i")
        shardOfCluster(c) = i
      }
    }

    // 2. full resolution identical to the flat shape's contract
    assert(RabitqIndex.readCarry(idxDir, "index-v2").toSet == untouched,
      "sharded readCarry must resolve exactly the untouched files")

    // 3. the carry entries a snapshot of the source generation builds
    // equal a walk of its cluster dirs: every file of a non-split cluster
    assert(RabitqIndex.resolveGen(idxDir, "index").carryEntries(splitIds).toSet ==
      ownDataFiles(idxDir, "index").keySet.filterNot(p =>
        splitIds.contains(RabitqIndex.clusterOfCarryEntry(p))),
      "the snapshot's carry entries diverged from the walk of the fixture dirs")

    // 4. LAZY RESOLUTION: a single-cluster restriction reads only the
    // one shard covering it; the disk query path goes through the
    // same restricted read and its result matches the in-memory path
    // over the full live scan (restriction + filter commute)
    val probeCluster = byShardEntries.head
      .map(RabitqIndex.clusterOfCarryEntry).head
    val rec = new RecordingFs(PosixFs)
    val restricted = RabitqIndex.readCarryForClusters(
      Layout(idxDir, fs = rec), "index-v2", Set(probeCluster))
    assert(restricted.toSet ==
      untouched.filter(e =>
        RabitqIndex.clusterOfCarryEntry(e) == probeCluster),
      "restricted resolution returned the wrong entries")
    val shardReads = rec.reads.filter(_.contains("/_carry/"))
    assert(shardReads.size == 1 &&
      shardReads.head.endsWith(shards.head.name),
      s"a one-cluster restriction must read exactly its one " +
        s"overlapping shard (read: $shardReads)")
    val qs = ExactKnn.queriesFromEmbeddings(emb, 5)
    val qsNarrow = ExactKnn.queriesFromEmbeddings(emb, 2)
    val rec2 = new RecordingFs(PosixFs)
    val disk = RabitqQuery.topKFromDisk(spark, Layout(idxDir, fs = rec2), emb,
        qsNarrow, nprobe = 1, topk = 5, rerank = 64)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val diskShardReads = rec2.reads.filter(_.contains("/_carry/")).distinct
    assert(diskShardReads.size < shards.size,
      s"the probe-pruned disk read touched every shard " +
        s"(${diskShardReads.size} of ${shards.size}) — resolution is " +
        "not lazy")
    val (m2, live) = RabitqIndex.loadLive(spark, idxDir)
    val mem = RabitqQuery.topK(spark, m2, live, emb, qsNarrow,
      nprobe = 1, topk = 5, rerank = 64)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(disk == mem,
      "probe-pruned disk read diverged from the in-memory path")

    // 5. refcount vacuum on the sharded shape: retain-0 keeps every
    // listed file, the live set survives intact
    RabitqIndex.vacuumIndex(idxDir, retainMs = 0L)
    RabitqIndex.readCarry(idxDir, "index-v2").foreach(e =>
      assert(new java.io.File(s"$idxDir/$e").isFile,
        s"retain-0 vacuum reclaimed a listed file: $e"))
    val idsAfter = RabitqIndex.loadLive(spark, idxDir)._2
      .select("vec_id").collect().map(_.getLong(0))
    assert(idsAfter.length == idsAfter.distinct.length)
    assert(idsAfter.toSet == liveBefore, "vacuum changed the live set")

    // 6. CHAINED inheritance from a sharded listing: a second
    // rebalance flattens surviving sharded entries into ITS listing
    val (m2b, _) = RabitqIndex.load(spark, idxDir)
    val extra = emb.filter(element_at(col("embedding"), 1) >= 0f)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    graft.streaming.IdempotentSink.appendBatch(
      RabitqIndex.appendVectors(spark, m2b, extra),
      RabitqIndex.indexDataDir(idxDir), posix, "shard_cg", 0L,
      partitionCols = Seq("cluster_id"))
    val base2 = emb.select("vec_id", "embedding").unionByName(extra)
    val rep2 = RabitqIndex.rebalanceIndex(spark, posix, base2,
      maxSizeFactor = 1.4)
    assert(rep2.numClustersAfter > rep2.numClustersBefore,
      "gate is vacuous: the re-skewed layout did not split again")
    assert(RabitqIndex.indexDataDir(idxDir) == s"$idxDir/index-v3")
    val carry3 = RabitqIndex.readCarry(idxDir, "index-v3")
    assert(carry3.map(_.takeWhile(_ != '/')).toSet.size >= 2,
      "chained sharded listing must reference both source generations")
    carry3.foreach(e => assert(new java.io.File(s"$idxDir/$e").isFile,
      s"chained carry entry vanished: $e"))
    val (m3, live3) = RabitqIndex.loadLive(spark, idxDir)
    val ids3 = live3.select("vec_id").collect().map(_.getLong(0))
    assert(ids3.length == ids3.distinct.length, "chained union duplicated rows")
    assert(ids3.toSet == base2.select("vec_id").collect()
      .map(_.getLong(0)).toSet)
    val truth3 = ExactKnn.l2TopK(base2, qs, 10)
    val res3 = RabitqQuery.topK(spark, m3, live3, base2, qs,
      m3.params.numClusters, 10, 1000000)
    assert(ExactKnn.recall(res3, truth3, 10).head().getDouble(0) == 1.0,
      "full-probe search through chained sharded generations must " +
        "equal brute force")
  }

  test("time travel: loadAt resolves a retired generation inside its " +
      "retention window row-for-row equal to its pre-swap content — " +
      "isolated from later appends — and refuses it once vacuum " +
      "reclaims past the window") {
    val (idxDir, _) = skewedLayout()
    val pre = spark.read.parquet(s"$idxDir/index")
      .select("vec_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val condPut = Layout(idxDir, CondPutCommit)
    val rep = RabitqIndex.rebalanceIndex(spark, condPut, emb, maxSizeFactor = 1.4)
    assert(rep.numClustersAfter > rep.numClustersBefore)
    // a maintenance pass INSIDE the window must not disturb the snapshot
    RabitqIndex.vacuumIndex(condPut)
    assert(RabitqIndex.indexDataDir(idxDir) == s"$idxDir/index-v2")
    // content churn AFTER the retirement: an append into the active
    // generation must be invisible to the snapshot
    val (mLive, _) = RabitqIndex.load(spark, idxDir)
    val extra = emb.limit(20)
      .select((col("vec_id") + 3000000L).as("vec_id"), col("embedding"))
    graft.streaming.IdempotentSink.appendBatch(
      RabitqIndex.appendVectors(spark, mLive, extra),
      RabitqIndex.indexDataDir(idxDir), idxDir, "tt", 0L,
      partitionCols = Seq("cluster_id"))
    val (m0, snap) = RabitqIndex.loadAt(spark, idxDir, "index")
    assert(m0.params.numClusters == 8,
      "the snapshot must carry the RETIRED generation's model, not the " +
        "grown one")
    val got = snap.select("vec_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == pre,
      s"retired-generation snapshot diverged from its pre-swap content " +
        s"(missing=${(pre -- got).take(3)}, extra=${(got -- pre).take(3)})")
    // the active generation resolves through the same entry point and
    // sees the append
    val (_, liveAt) = RabitqIndex.loadAt(spark, idxDir, "index-v2")
    assert(liveAt.filter(col("vec_id") >= 3000000L).count() == 20)
    // never-published generations are refused
    intercept[IllegalStateException](
      RabitqIndex.loadAt(spark, idxDir, "index-v9"))
    // past the window: vacuum partially reclaims the expired retired
    // generation (its files stay while referenced) and the snapshot is
    // REFUSED, never partially served
    RabitqIndex.vacuumIndex(idxDir, retainMs = 0L)
    assert(new java.io.File(s"$idxDir/index").isDirectory,
      "gate is vacuous: expected a partial reclaim (referenced files " +
        "must survive)")
    intercept[IllegalStateException](
      RabitqIndex.loadAt(spark, idxDir, "index"))
    // and the live read is untouched by all of it
    val ids = RabitqIndex.loadLive(spark, idxDir)._2
      .select("vec_id").collect().map(_.getLong(0))
    assert(ids.length == ids.distinct.length)
    assert(ids.toSet == pre.map(_._1) ++ extra.select("vec_id")
      .collect().map(_.getLong(0)))
  }

  test("per-call rerankScale override: the disk entry point's override " +
      "replaces the loaded model's grown-layout default") {
    val (idxDir, _) = skewedLayout()
    val condPut = Layout(idxDir, CondPutCommit)
    RabitqIndex.rebalanceIndex(spark, condPut, emb, maxSizeFactor = 1.4)
    val (m2, live) = RabitqIndex.loadLive(spark, idxDir)
    assert(m2.rerankScale > 1.0,
      "gate is vacuous: the rebalance did not grow the layout")
    val qs = ExactKnn.queriesFromEmbeddings(emb, 5)
    // override 1.0 ≡ the in-memory path with the model's scale reset —
    // row-for-row, proving the override reaches the executed budget
    val disk = RabitqQuery.topKFromDisk(spark, idxDir, emb, qs,
      nprobe = 4, topk = 5, rerank = 12, rerankScale = Some(1.0))
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val mem = RabitqQuery.topK(spark, m2.withRerankScale(1.0), live, emb, qs,
      nprobe = 4, topk = 5, rerank = 12)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(disk == mem, "the override did not flow to the executed rerank")
    // and the default really differs at this budget (the grown layout
    // scales 12 → ceil(12·scale²) — a larger shortlist changes ranks on
    // a skewed layout; equality here would mean the default is dead)
    val diskDefault = RabitqQuery.topKFromDisk(spark, idxDir, emb, qs,
      nprobe = 4, topk = 5, rerank = 12)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(diskDefault != disk,
      "expected the scaled default to differ from the 1.0 override at a " +
        "tight budget — the model default appears to be ignored")
  }

  private def bits(m: Array[Array[Float]]): Seq[Int] =
    m.flatten.map(java.lang.Float.floatToRawIntBits).toSeq

  private def assertSameModel(got: RabitqModel, want: RabitqModel, tag: String): Unit = {
    assert(got.params == want.params, s"$tag: params")
    assert(bits(got.rotation) == bits(want.rotation), s"$tag: rotation bits")
    assert(bits(got.centroids) == bits(want.centroids), s"$tag: centroid bits")
    assert(bits(Array(got.bias)) == bits(Array(want.bias)), s"$tag: bias bits")
  }

  test("model per generation: save → maintain → compact → rebalance leaves " +
      "every retained generation's model loadable with 0 Spark jobs and " +
      "bit-identical, and a generation without `_model.json` is refused") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val idxDir = java.nio.file.Files.createTempDirectory("gen_model").toString
    // skew: model fit on the lower halfspace, layout holding everything
    // (the q120 recipe), so the rebalance really splits
    val lowerHalf = emb.filter(element_at(col("embedding"), 1) < 0f)
    val (m0, _) = RabitqIndex.build(spark, lowerHalf, numClusters = 8, seed = 7L)
    RabitqIndex.save(spark, m0,
      RabitqIndex.appendVectors(spark, m0, emb.filter(col("vec_id") % 10 =!= 0)), idxDir)

    // maintain: stream in the held-out tenth, tombstone a few saved rows
    val ops = java.nio.file.Files.createTempDirectory("gen_model_ops").toString
    emb.filter(col("vec_id") % 10 === 0)
      .select(lit("add").as("op"), col("vec_id"), col("embedding"))
      .unionByName(emb.filter(col("vec_id") % 17 === 3 && col("vec_id") % 10 =!= 0)
        .select(lit("del").as("op"), col("vec_id"),
          lit(null).cast("array<float>").as("embedding")))
      .coalesce(1).write.parquet(s"$ops/in")
    graft.streaming.VecsStream.maintainIndex(spark, s"$ops/in", idxDir,
      s"$ops/ckpt", m0, "gen_model_maint")
    assert(RabitqIndex.resolve(idxDir).logFiles.nonEmpty,
      "gate is vacuous: the maintain stream wrote no tombstone")

    graft.streaming.VecsStream.compactIndex(spark, idxDir)
    assert(RabitqIndex.indexDataDir(idxDir) == s"$idxDir/index-v2")
    val rep = RabitqIndex.rebalanceIndex(spark, idxDir, emb, maxSizeFactor = 1.4)
    assert(rep.numClustersAfter > rep.numClustersBefore,
      s"gate is vacuous: the skewed layout did not split ($rep)")
    assert(RabitqIndex.indexDataDir(idxDir) == s"$idxDir/index-v3")
    val gens = Seq("index", "index-v2", "index-v3")
    gens.foreach(g => assert(new java.io.File(s"$idxDir/$g/_model.json").isFile,
      s"$g carries no model file"))

    // jobs submitted under one job group; a marker job in its own group
    // closes each window, so every earlier job start has reached the
    // listener when the count is read
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(started.add)
    }
    var window = 0
    def jobsOf[A](body: => A): (Int, A) = {
      window += 1
      val g = s"model-load-$window"
      sc.setJobGroup(g, g)
      val a = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$g-end", s"$g-end")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!started.contains(s"$g-end") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(started.contains(s"$g-end"), "the marker job never reached the listener")
      (started.toArray.count(_ == g), a)
    }
    val loaded: Map[String, RabitqModel] = {
      sc.addSparkListener(listener)
      try {
        val (liveJobs, (liveModel, _)) = jobsOf(RabitqIndex.loadLive(spark, idxDir))
        assert(liveJobs == 0, s"loadLive ran $liveJobs Spark jobs")
        val byGen = gens.map { g =>
          val (modelJobs, m) = jobsOf(RabitqIndex.modelOfGen(idxDir, s"$idxDir/$g"))
          assert(modelJobs == 0, s"modelOfGen($g) ran $modelJobs Spark jobs")
          val (atJobs, (atModel, _)) = jobsOf(RabitqIndex.loadAt(spark, idxDir, g))
          assert(atJobs == 0, s"loadAt($g) ran $atJobs Spark jobs")
          assertSameModel(atModel, m, s"loadAt($g) vs modelOfGen($g)")
          g -> m
        }.toMap
        assertSameModel(liveModel, byGen("index-v3"), "loadLive vs the active generation")
        byGen
      } finally sc.removeSparkListener(listener)
    }

    // the saved and the compacted generation hold the saved model
    assertSameModel(loaded("index"), m0, "index")
    assertSameModel(loaded("index-v2"), m0, "index-v2")
    // the rebalanced generation holds the grown model: the saved one
    // with the split clusters' centroids replaced and the new ones
    // appended ...
    val m3 = loaded("index-v3")
    val k0 = m0.params.numClusters
    assert(m3.params == m0.params.copy(numClusters = rep.numClustersAfter))
    assert(bits(m3.rotation) == bits(m0.rotation) &&
      bits(Array(m3.bias)) == bits(Array(m0.bias)))
    val untouched = (0 until k0).filterNot(rep.split.contains)
    assert(untouched.nonEmpty, "gate is vacuous: every cluster split")
    assert(bits(untouched.map(m3.centroids).toArray) == bits(untouched.map(m0.centroids).toArray),
      "untouched centroids must be the saved model's, bit for bit")
    // ... and exactly the model its re-encoded rows were encoded with:
    // re-encoding them with the loaded model reproduces every stored bit
    val cols = Seq("vec_id", "cluster_id", "code", "factor_ip", "factor_ppc",
      "error_bound", "cds").map(col)
    def rows(df: DataFrame): Seq[Seq[Any]] = df.select(cols: _*).collect()
      .map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    val own = spark.read.parquet(s"$idxDir/index-v3")
    val stored = rows(own)
    assert(stored.map(_(1).asInstanceOf[Int]).toSet.exists(_ >= k0),
      "gate is vacuous: no re-encoded row landed in a new cluster")
    assert(rows(RabitqIndex.appendVectors(spark, m3,
        emb.join(own.select("vec_id"), Seq("vec_id")))) == stored,
      "the rebalanced generation's model is not the one its rows were encoded with")

    // refusal: the active generation's model file replaced by the parquet
    // model tables an older build wrote, at the root and in the generation
    val active = s"$idxDir/index-v3"
    assert(new java.io.File(s"$active/_model.json").delete())
    val p = m3.params
    m3.rotation.zipWithIndex.map { case (r, i) => (i, r.toSeq) }.toSeq
      .toDF("row_id", "row").coalesce(1).write.parquet(s"$idxDir/rotation")
    for (d <- Seq(s"$idxDir/centroids", s"$active/_centroids"))
      m3.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cluster_id", "centroid").coalesce(1).write.parquet(d)
    for (d <- Seq(s"$idxDir/params", s"$active/_params"))
      Seq((p.dim, p.padDim, p.numClusters, p.seed, m3.bias.toSeq))
        .toDF("dim", "pad_dim", "num_clusters", "seed", "bias").coalesce(1).write.parquet(d)
    val e = intercept[IllegalStateException](RabitqIndex.loadLive(spark, idxDir))
    assert(e.getMessage.contains(s"$active/_model.json") && e.getMessage.contains("re-save"),
      e.getMessage)
    // a retained retired generation still loads from its own model file
    assertSameModel(RabitqIndex.loadAt(spark, idxDir, "index-v2")._1, m0,
      "index-v2 after the active generation lost its model")
  }

  test("one snapshot per operation: every read and lifecycle op reads the " +
      "MANIFEST once and lists _commits once after its settle, and every " +
      "scan listing goes through the handle") {
    import spark.implicits._
    // a rebalanced, carry-listed index-v2 with a committed tombstone log
    val (idxDir, _) = skewedLayout()
    RabitqIndex.rebalanceIndex(spark, idxDir, emb, maxSizeFactor = 1.4)
    assert(RabitqIndex.indexDataDir(idxDir) == s"$idxDir/index-v2")
    val carry = RabitqIndex.readCarry(idxDir, "index-v2")
    assert(carry.nonEmpty, "gate is vacuous: index-v2 carries nothing")
    graft.streaming.IdempotentSink.appendBatch(
      emb.select("vec_id").orderBy("vec_id").limit(20),
      RabitqIndex.tombstoneLogDir(idxDir), idxDir, "count-del", 0L)

    // (MANIFEST reads, `_commits` listings, every listed path) of one op
    // run through a counting handle
    def counted(op: Layout => Any): (Int, Int, Seq[String]) = {
      val rec = new RecordingFs(PosixFs)
      op(Layout(idxDir, fs = rec))
      (rec.reads.count(_ == s"$idxDir/MANIFEST"),
        rec.lists.count(_ == s"$idxDir/_commits"), rec.lists.toSeq)
    }
    val qs = ExactKnn.queriesFromEmbeddings(emb, 5)
    val reads: Seq[(String, Layout => Any)] = Seq(
      "loadLive" -> (l => RabitqIndex.loadLive(spark, l)._2.count()),
      "loadAt" -> (l => RabitqIndex.loadAt(spark, l, "index")._2.count()),
      "topKFromDisk" -> (l => RabitqQuery.topKFromDisk(spark, l, emb, qs,
        nprobe = 2, topk = 5, rerank = 32).count()),
      "layoutStats" -> (l => RabitqIndex.layoutStats(spark, l)),
      "describeIndex" -> (l => RabitqIndex.describeIndex(spark, l).collect()),
      "Serve engine build" -> (l =>
        graft.Serve.loadEngine(spark, l, s"$sf/embeddings.parquet")))
    reads.foreach { case (op, run) =>
      val (m, c, _) = counted(run)
      info(s"$op: $m MANIFEST reads, $c _commits listings")
      assert((m, c) == ((1, 1)),
        s"$op read the MANIFEST $m times and listed _commits $c times")
    }

    // the scan's cluster-dir and log-dir listings are the handle's
    val (_, _, listed) = counted(l => RabitqIndex.loadLive(spark, l)._2.count())
    val ownDirs = new java.io.File(s"$idxDir/index-v2").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cluster_id="))
      .map(f => s"$idxDir/index-v2/${f.getName}").toSet
    val carriedDirs = carry.map(e => s"$idxDir/${e.substring(0, e.lastIndexOf('/'))}").toSet
    assert(ownDirs.nonEmpty && carriedDirs.nonEmpty, "gate is vacuous")
    val expected = ownDirs ++ carriedDirs + s"$idxDir/deletes-v2"
    assert(expected.subsetOf(listed.toSet),
      s"scan listings the handle never saw: ${(expected -- listed).take(5)}")

    // lifecycle ops settle, then resolve one snapshot: the settle reads
    // the MANIFEST once and walks `_commits` once, the rest of the op
    // once more each
    val settle = counted(l => RabitqIndex.settle(l))
    assert((settle._1, settle._2) == ((1, 1)), s"the settle alone: $settle")
    for ((op, run) <- Seq[(String, Layout => Any)](
        "rebalanceIndex" -> (l =>
          RabitqIndex.rebalanceIndex(spark, l, emb, maxSizeFactor = 1.1)),
        "compactIndex" -> (l => graft.streaming.VecsStream.compactIndex(spark, l)))) {
      val (m, c, _) = counted(run)
      info(s"$op: $m MANIFEST reads, $c _commits listings (settle included)")
      assert((m - 1, c - 1) == ((1, 1)),
        s"$op after its settle read the MANIFEST ${m - 1} times and listed " +
          s"_commits ${c - 1} times")
    }
    assert(RabitqIndex.resolve(idxDir).logFiles.isEmpty,
      "gate is vacuous: the compaction folded no log")
  }

  test("mixed generations: an engine built while a compaction publishes " +
      "reports the stats of the generation its hot tier holds") {
    import spark.implicits._
    val idxDir = java.nio.file.Files.createTempDirectory("mixed_gen").toString
    val (model, index) = RabitqIndex.build(spark, emb, numClusters = 8, seed = 3L)
    RabitqIndex.save(spark, model, index, idxDir)
    val nRows = emb.count()
    val dels = Seq(0L, 7L, 11L)
    graft.streaming.IdempotentSink.appendBatch(dels.toDF("vec_id"),
      RabitqIndex.tombstoneLogDir(idxDir), idxDir, "mixed-del", 0L)
    assert(RabitqIndex.layoutStats(spark, idxDir) == ((nRows, dels.size.toLong)))
    // the engine's handle publishes a compacted generation, through a
    // separate plain handle, right after the build's first MANIFEST probe
    val published = new java.util.concurrent.atomic.AtomicBoolean(false)
    val racing = new RecordingFs(PosixFs, onIsFile = p =>
      if (p == s"$idxDir/MANIFEST" && published.compareAndSet(false, true))
        graft.streaming.VecsStream.compactIndex(spark, Layout(idxDir)))
    val eng = graft.Serve.loadEngine(spark, Layout(idxDir, fs = racing),
      s"$sf/embeddings.parquet")
    assert(published.get() && RabitqIndex.indexDataDir(idxDir) == s"$idxDir/index-v2",
      "gate is vacuous: no generation was published mid-build")
    assert(RabitqIndex.layoutStats(spark, idxDir) == ((nRows - dels.size, 0L)),
      "gate is vacuous: the published generation has the old one's stats")
    // the hot tier holds the live rows of the generation resolved first
    // (`index`: nRows rows, three of them tombstoned)
    assert(eng.hot.nIndexed == nRows - dels.size)
    assert((eng.nRows, eng.nTombstones) == ((nRows, dels.size.toLong)),
      s"the engine reports (${eng.nRows}, ${eng.nTombstones}): the stats of " +
        s"another generation than the one its hot tier holds ($nRows rows, " +
        s"${dels.size} tombstones)")
  }
}
