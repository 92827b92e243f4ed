package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.Serve
import graft.operators.{RabitqIndex, RabitqModel, RabitqQuery}
import graft.streaming.VecsStream

/** lifecycle: writes beside reads on a saved dim-64 layout small enough for
  * driver time to dominate. Each write cycle streams small add+delete op
  * files through `VecsStream.maintainIndex` (one file per micro-batch),
  * compacts, appends a skewed batch and rebalances, vacuums, and reloads a
  * live `Serve` after the compaction and after the rebalance, while a
  * fixed low rate of `/query` runs throughout. This is the driver-time
  * regime (planning, job scheduling, file operations), and the reads show
  * any write that stalls serving.
  */
object Lifecycle {
  val Dim = 64
  val TopK = 10
  val Centers = 30
  /** Reads/s offered during the writes, from two senders. */
  val ReadRate = 100.0

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val n = if (ctx.tiny) 2000L else 3000L
    val corpus = Corpus(n, Dim, Centers, sigma = 0.25f, seed = ctx.seed)
    val k = Centers
    val nprobe = 8
    val filesPerCycle = 1
    val addsPerFile = if (ctx.tiny) 80 else 160
    val delsPerFile = addsPerFile / 4
    val skewAdds = (n / Centers * 3).toInt
    val sfDir = s"${ctx.work}/sf"
    val baseDir = s"$sfDir/embeddings.parquet"
    val idxDir = s"${ctx.work}/idx"
    val opsDir = s"${ctx.work}/ops"
    val ckpt = s"${ctx.work}/ckpt"
    val rnd = new scala.util.Random(ctx.seed)

    corpus.frame(spark, 0L, n, ctx.cpus).write.parquet(baseDir)
    val pool = Array.tabulate(64)(i => corpus.vector(10000000L + i))
    val bodies = pool.map(Load.queryBody(_, TopK, nprobe))
    ctx.info("corpus") = corpus.params
    ctx.info("index") = Seq("num_clusters" -> k, "nprobe" -> nprobe, "top_k" -> TopK,
      "files_per_cycle" -> filesPerCycle, "adds_per_file" -> addsPerFile,
      "dels_per_file" -> delsPerFile, "skew_adds" -> skewAdds)
    ctx.host.mark("generated")

    def base: DataFrame = spark.read.parquet(baseDir)
    var built: (RabitqModel, DataFrame) = null
    val (_, buildS) = ctx.timed("RabitqIndex.build+save") {
      built = ctx.tracer.span("RabitqIndex.build")(RabitqIndex.build(spark, base, k, ctx.seed))
      ctx.tracer.span("RabitqIndex.save")(RabitqIndex.save(spark, built._1, built._2, idxDir))
    }
    ctx.attempted += 1
    val port = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }
    val (server, _) = ctx.timed("Serve.start")(Serve.start(spark, sfDir, port, Some(idxDir)))
    val load = new Load(port, 2, ctx.tracer)
    val live = mutable.LinkedHashSet.empty[Long] ++ (0L until n)
    var nextId = n
    var userOps = 0L
    val reloadS = mutable.ArrayBuffer.empty[Double]
    val stageS = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    // Serve caches the frames it serves, and Spark answers a later read of
    // the same path from that cache, so without a refresh after files
    // under a cached path change, compactIndex would rewrite a stale view
    // of the layout (dropping streamed adds) and /reload would serve one.
    // This is Spark's documented step after files under a cached path change.
    def refresh(): Unit = Seq(idxDir, baseDir).foreach(spark.catalog.refreshByPath)
    def stage[T](name: String)(body: => T): T = {
      val (r, s) = ctx.timed(name)(body)
      stageS.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s
      ctx.attempted += 1
      refresh()
      r
    }
    def reload(): Unit = {
      val (code, _) = stage("Serve./reload")(load.post("/reload",
        s"""{"index_dir": "$idxDir", "base": "$baseDir"}"""))
      reloadS += stageS("Serve./reload").last
      if (code != 200) ctx.failed += 1
    }
    try {
      load.warm(200, i => bodies(i % bodies.length))
      // reads in back-to-back 1-s open-loop steps, so the quieter half can
      // be told from the half a steal burst hit (Step.quiet)
      val reads = new java.util.concurrent.ConcurrentLinkedQueue[Step]()
      @volatile var writing = true
      val reader = new Thread(() => {
        while (writing) reads.add(load.openLoop(ReadRate, 1.0, i => bodies(i % bodies.length)))
      }, "perfbench-reader")
      var model: RabitqModel = RabitqIndex.load(spark, idxDir)._1
      var cycles = 0
      // per cycle: user ops, seconds of write stages and reloads, steal/s
      val cycleStats = mutable.ArrayBuffer.empty[(Long, Double, Double)]
      System.gc()
      ctx.info("quiet_wait_s") = Host.awaitQuiet(if (ctx.tiny) 1.0 else 45.0)
      ctx.timed("measure") {
        reader.start()
        val end = System.nanoTime() + (ctx.seconds * 1e9).toLong
        while (cycles < 2 || System.nanoTime() < end) {
          val stageS0 = stageS.values.map(_.sum).sum
          val ops0 = userOps
          val steal0 = Host.steal()
          // the cycle's op files: the user's input, written before the clock
          val adds = mutable.ArrayBuffer.empty[Long]
          (0 until filesPerCycle).foreach { _ =>
            val a = (0 until addsPerFile).map { _ => nextId += 1; nextId }
            val d = rnd.shuffle(live.toSeq).take(delsPerFile)
            d.foreach(live -= _)
            a.foreach(live += _); adds ++= a
            val rows = a.map(id => Row("add", id, corpus.vector(id).toSeq)) ++ d.map(id => Row("del", id, null))
            spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), VecsStream.opsSchema)
              .write.mode("append").parquet(opsDir)
            // file order follows mtime: keep the files apart
            Thread.sleep(20)
          }
          spark.createDataFrame(adds.map(id => (id, corpus.vector(id).toSeq)).toSeq)
            .toDF("vec_id", "embedding").write.mode("append").parquet(baseDir)
          refresh()
          userOps += filesPerCycle * (addsPerFile + delsPerFile)
          val m = model
          stage("VecsStream.maintainIndex")(VecsStream.maintainIndex(spark, opsDir, idxDir, ckpt, m,
            "perfbench_maintain", Some(1)))
          // the compaction's reload serves the maintained rows: one reload
          // for the two stages keeps the cycle short
          stage("VecsStream.compactIndex")(VecsStream.compactIndex(spark, idxDir))
          reload()
          // a skewed append into one generative centre, then the rebalance
          val c = rnd.nextInt(Centers)
          val skew = (0 until skewAdds).map { _ =>
            nextId += Centers - (nextId % Centers) + c; nextId
          }
          skew.foreach(live += _)
          val skewDf = spark.createDataFrame(skew.map(id => (id, corpus.vector(id).toSeq))).toDF("vec_id", "embedding")
          skewDf.write.mode("append").parquet(baseDir)
          refresh()
          userOps += skewAdds
          stage("RabitqIndex.appendVectors")(RabitqIndex.appendVectors(spark, m, skewDf)
            .write.mode("append").partitionBy("cluster_id").parquet(RabitqIndex.indexDataDir(idxDir)))
          stage("RabitqIndex.rebalanceIndex")(RabitqIndex.rebalanceIndex(spark, idxDir, base))
          model = RabitqIndex.load(spark, idxDir)._1
          reload()
          // vacuum reclaims retired files only; what is served is unchanged
          stage("RabitqIndex.vacuumIndex")(RabitqIndex.vacuumIndex(idxDir, retainMs = 0L))
          val cycleS = stageS.values.map(_.sum).sum - stageS0
          cycleStats += ((userOps - ops0, cycleS, (Host.steal() - steal0) / cycleS))
          cycles += 1
        }
        writing = false
        reader.join()
      }
      ctx.host.mark("writes")
      val readSteps = { import scala.jdk.CollectionConverters._; reads.asScala.toSeq }
      val readsSent = readSteps.map(_.sent).sum
      val readsFailed = readSteps.map(_.failed).sum
      ctx.attempted += readsSent
      ctx.failed += readsFailed
      val writeStages = stageS.keys.filter(_ != "Serve./reload").toSeq

      // the final state: disk engine, recall of the live server, the oracle
      val (m, liveDf) = RabitqIndex.loadLive(spark, idxDir)
      val liveIds = liveDf.select("vec_id").collect().map(_.getLong(0))
      ctx.check("live ids equal (initial + adds) - dels",
        liveIds.length == live.size && liveIds.toSet == live.toSet,
        s"${liveIds.length} live, expected ${live.size}")
      val ids = live.toArray
      val exact = new Exact(ids, ids.map(corpus.vector))
      val truth = exact.topKAll(pool, TopK)
      val http = pool.indices.map(i => Load.ids(load.post("/query", bodies(i))._2))
      val recall = Stats.recall(http, truth.toSeq)
      ctx.check("lifecycle recall floor", recall >= 0.9, f"recall@10 $recall%.4f")
      val sample = new scala.util.Random(ctx.seed).shuffle(pool.indices.toList).take(8)
      val qDf = spark.createDataFrame(pool.indices.map(i => (i.toLong, pool(i).toSeq))).toDF("query_id", "qvec")
      val full = RabitqQuery.topK(spark, m, liveDf, base, qDf.filter(col("query_id").isin(sample: _*)),
        nprobe = m.params.numClusters, topk = TopK, rerank = ids.length)
        .collect().groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q.toInt -> rs.sortBy(_.getAs[Number]("rank").longValue).map(_.getAs[Long]("neighbor_id")) }
      ctx.check("full-probe full-rerank search equals exact kNN",
        sample.forall(i => full(i).sameElements(truth(i))))
      ctx.check("no failed operation", ctx.failed == 0, s"${ctx.failed} failed")

      ctx.metric("setup_s", ctx.setupS, "s")
      ctx.metric("success_ratio", 1.0 - ctx.failed.toDouble / ctx.attempted, "ratio")
      ctx.metric("recall_at_10", recall, "ratio")
      ctx.metric("build_s", buildS, "s")
      ctx.metric("query_p50_ms", Step.quiet(readSteps, 0.5), "ms")
      // user ops per second of the write sequence's own time (every stage
      // and reload, not the writing of the input files), in the faster
      // cycle: the first pays JIT warm-up, and a steal burst slows one
      val (fastOps, fastS, _) = cycleStats.minBy(c => c._2 / c._1)
      ctx.metric("throughput", fastOps / fastS, "1/s")
      ctx.info("cycles") = cycleStats.map { case (o, t, st) => Seq("ops" -> o, "s" -> t, "steal_per_s" -> st) }
      ctx.info("reads") = readSteps.map(s => Seq("sent" -> s.sent, "failed" -> s.failed,
        "p50_ms" -> s.p(0.5), "p99_ms" -> s.p(0.99), "steal_jiffies" -> s.steal))
      ctx.info("stage_s") = stageS.map { case (k2, v) => k2 -> v.toSeq }
      ctx.info("write_stages") = writeStages

      if (ctx.traced) {
        Probes.blockingPath(ctx, "measure")
        ctx.metric("serve.reload_ms", Stats.median(reloadS.toSeq) * 1e3, "ms")
        // the batch engines once each over the final layout, on the pool
        val (rows, diskS) = ctx.timed("RabitqQuery.topKFromDisk")(RabitqQuery.topKFromDisk(spark,
          idxDir, base, qDf, nprobe, TopK, 64).collect())
        val (memRows, topkS) = ctx.timed("RabitqQuery.topK")(RabitqQuery.topK(spark, m, liveDf, base,
          qDf, nprobe, TopK, 64).collect())
        ctx.check("topKFromDisk and topK answer every query",
          rows.length == pool.length * TopK && memRows.length == pool.length * TopK)
        ctx.metric("query.topk_s", topkS, "s")
        val ops = ctx.opStats(_ => true)
        val sizes = Probes.clusterSizes(liveDf)
        ctx.metric("index.cluster_skew", Probes.skew(m, sizes), "ratio")
        def med(name: String): Double = stageS.get(name).map(v => Stats.median(v.toSeq)).getOrElse(0.0)
        ctx.metric("stream.compact_s", med("VecsStream.compactIndex"), "s")
        ctx.metric("index.rebalance_s", med("RabitqIndex.rebalanceIndex"), "s")
        ctx.metric("index.vacuum_ms", med("RabitqIndex.vacuumIndex") * 1e3, "ms")
        ctx.metric("index.rebalance_jobs", Stats.median(ops.filter(_.name == "RabitqIndex.rebalanceIndex").map(_.jobs.toDouble)), "count")
        val maintainS = stageS("VecsStream.maintainIndex").sum
        ctx.metric("stream.mutate_ops_per_s", cycles * filesPerCycle * (addsPerFile + delsPerFile) / maintainS, "1/s")
        streamCounts(ctx)
        ServeGist.queryCounts(ctx, ops.filter(_.name.startsWith("RabitqQuery")), pool.length)
        ServeGist.indexCounts(ctx, ops, n, Dim)
        val writes = ops.filter(o => writeStages.contains(o.name))
        ctx.metric("layout.write_amp", writes.map(_.bytesWritten).sum.toDouble /
          (userOps * (8L + 4L * Dim)), "ratio")
        Probes.layout(ctx, idxDir, liveIds.length)
        ctx.metric("query.disk_s", diskS, "s")
        val kernelUs = Probes.kernels(ctx, m, liveDf, sizes, pool,
          Array.tabulate(256)(i => corpus.vector(ids(i % ids.length))), nprobe, 64)
        val hotP50 = Probes.hotTier(ctx, idxDir, base, pool, nprobe, TopK, 64, kernelUs,
          ctx.metrics("kernel.codes_per_query")._1)
        ctx.metric("serve.p99_ms", Step.quiet(readSteps, 0.99), "ms")
        ctx.metric("serve.http_self_ms", Step.quiet(readSteps, 0.5) - hotP50 / 1e3, "ms")
        ctx.metric("serve.gen_late_ms", Stats.pct(readSteps.flatMap(_.late).sorted.toArray, 0.99), "ms")
        ctx.metric("serve.backlog_max", readSteps.map(_.backlogMax).max.toDouble, "count")
        Probes.spark(ctx, ops.filter(_.name != "measure"))
        Probes.encode(ctx, built._2)
      }
    } finally {
      load.close()
      server.stop(0)
    }
  }

  /** VecsStream layer: micro-batch durations from the streaming listener. */
  private def streamCounts(ctx: Ctx): Unit = ctx.tap.foreach { tap =>
    import scala.jdk.CollectionConverters._
    val ps = tap.progress.asScala.toSeq.map(_.progress).filter(_.numInputRows > 0)
    def d(key: String): Seq[Double] = ps.map(p => Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0))
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    ctx.metric("stream.batches", ps.size.toDouble, "count")
    ctx.metric("stream.batch_ms.p50", Stats.median(d("triggerExecution")), "ms")
    ctx.metric("stream.plan_ms", mean(d("queryPlanning")), "ms")
    ctx.metric("stream.add_batch_ms", mean(d("addBatch")), "ms")
    ctx.metric("stream.wal_commit_ms", mean(d("walCommit")), "ms")
  }
}
