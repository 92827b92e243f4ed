package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators._

class OperatorsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  val sf = "/root/testdata/sf0.001"

  private def emb: DataFrame = spark.read.parquet(s"$sf/embeddings.parquet")

  // ---------------- bucketed co-located join ----------------------------
  test("bucketed tables join with ZERO exchanges and match the plain join") {
    // the corpus-vs-corpus join strategy: both sides bucketed on the join
    // key at ingest, so every subsequent join satisfies its distribution
    // requirement at read time — no shuffle of either side, ever again
    import graft.sources.Bucketed
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val lineitem = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    Bucketed.writeBucketed(orders, "orders_b", "o_orderkey", 8)
    Bucketed.writeBucketed(lineitem, "lineitem_b", "l_orderkey", 8)
    // at sf0.001 the planner would (correctly) broadcast the small side
    // and skip the bucketed scan; disable auto-broadcast to pin the
    // corpus-vs-corpus shape where neither side fits in a broadcast —
    // the regime bucketing exists for
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketed.bucketedJoin(spark, "orders_b", "lineitem_b",
        "o_orderkey", "l_orderkey")
      // plan: no Exchange anywhere — bucket i joins bucket i task-locally
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"both scans must be bucketed scans:\n$plan")
      // and the result is the plain join's result
      val expect = orders.join(lineitem, col("o_orderkey") === col("l_orderkey"))
        .agg(count(lit(1)), sum(col("l_quantity").cast("long"))).head()
      val got = joined
        .agg(count(lit(1)), sum(col("l_quantity").cast("long"))).head()
      assert(got == expect)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  test("bucketedJoin fails fast on bucket mismatch instead of silently shuffling") {
    import graft.sources.Bucketed
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    // mismatched count: joining would silently plan an Exchange — the
    // helper must refuse with a diagnosable message instead
    Bucketed.writeBucketed(orders, "orders_b8", "o_orderkey", 8)
    Bucketed.writeBucketed(orders, "orders_b4", "o_orderkey", 4)
    val eCount = intercept[IllegalArgumentException] {
      Bucketed.bucketedJoin(spark, "orders_b8", "orders_b4", "o_orderkey", "o_orderkey")
    }
    assert(eCount.getMessage.contains("bucket count mismatch"))
    // unbucketed table: same contract
    orders.write.mode("overwrite").format("parquet").saveAsTable("orders_plain")
    val ePlain = intercept[IllegalArgumentException] {
      Bucketed.bucketedJoin(spark, "orders_b8", "orders_plain", "o_orderkey", "o_orderkey")
    }
    assert(ePlain.getMessage.contains("not bucketed"))
    // bucketed on a different column than the join key: refused too
    Bucketed.writeBucketed(orders, "orders_bwrong", "o_totalprice", 8)
    val eKey = intercept[IllegalArgumentException] {
      Bucketed.bucketedJoin(spark, "orders_b8", "orders_bwrong", "o_orderkey", "o_orderkey")
    }
    assert(eKey.getMessage.contains("not the join key"))
  }

  // ---------------- top-k aggregator -----------------------------------
  test("TopKAgg matches sort-based top-k on random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val rows = (1 to 2000).map(i => (i % 7L, rnd.nextDouble(), i.toLong))
    val df = rows.toDF("g", "score", "id")
    val got = TopK.perGroup(df, "g", "id", "score", 5)
      .select("g", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expect = rows.groupBy(_._1).flatMap { case (g, rs) =>
      rs.sortBy(r => (r._2, r._3)).take(5).zipWithIndex
        .map { case (r, i) => (g, r._3, i + 1L) }
    }.toSet
    assert(got == expect)
  }

  test("custom PerGroupTopK plan node matches the Aggregator top-k") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val rows = (1 to 5000).map(i => (i % 11L, rnd.nextDouble(), i.toLong))
    val df = rows.toDF("g", "score", "id")
    val viaNode = graft.plans.GraftTopK.perGroup(df, "g", "id", "score", 7)
      .select(col("g"), col("id"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaAgg = TopK.perGroup(df, "g", "id", "score", 7)
      .select(col("g"), col("id"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaNode == viaAgg)
    // strategy fired (custom exec present) and Spark inserted the
    // group-key exchange demanded by requiredChildDistribution
    val plan = graft.plans.GraftTopK.perGroup(df, "g", "id", "score", 7)
      .queryExecution.executedPlan.toString
    // exec node prints without its Exec suffix
    assert(plan.contains("PerGroupTopK"), plan)
    assert(plan.contains("Exchange hashpartitioning(g"), plan)
    // two-phase: the map-side partial heap must sit BELOW the exchange
    // (plan prints top-down, so the partial's offset is after it)
    assert(plan.contains("PerGroupTopKPartial"), plan)
    assert(plan.indexOf("PerGroupTopKPartial") > plan.indexOf("Exchange hashpartitioning(g"), plan)
  }

  test("PerGroupTopK shuffles at most k rows per (group x partition)") {
    import spark.implicits._
    val nGroups = 5L; val k = 3; val nPart = 4
    val df = spark.range(0, 40000, 1, nPart)
      .select((col("id") % nGroups).as("g"),
        ((col("id") * 37 % 1009).cast("double")).as("score"), col("id").as("id"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val qdf = graft.plans.GraftTopK.perGroup(df, "g", "id", "score", k)
      qdf.collect()
      val ex = qdf.queryExecution.executedPlan.collectFirst {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.getOrElse(fail("no exchange in plan"))
      val written = ex.metrics("shuffleRecordsWritten").value
      // partial heap caps the exchange input; without it all 40000 scored
      // rows would cross the wire
      assert(written <= k * nGroups * nPart, s"shuffled $written rows")
      assert(written > 0)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  // ---------------- exact knn ------------------------------------------
  test("exact kNN: rank 1 is self with distance 0") {
    val q = ExactKnn.queriesFromEmbeddings(emb, 5)
    val res = ExactKnn.l2TopK(emb, q, 3).collect()
    val rank1 = res.filter(_.getAs[Long]("rank") == 1L)
    assert(rank1.length == 5)
    rank1.foreach { r =>
      assert(r.getAs[Long]("query_id") == r.getAs[Long]("neighbor_id"))
      assert(r.getAs[Double]("dist") == 0.0)
    }
  }

  // ---------------- rabitq e2e -----------------------------------------
  test("RaBitQ full-probe full-rerank equals brute force; partial probe recall >= 0.9") {
    val (model, index) = RabitqIndex.build(spark, emb, numClusters = 16, seed = 42L)
    index.persist()
    val q = ExactKnn.queriesFromEmbeddings(emb, 20)
    val truth = ExactKnn.l2TopK(emb, q, 10)

    val full = RabitqQuery.topK(spark, model, index, emb, q,
      nprobe = 16, topk = 10, rerank = 4096)
    val rFull = ExactKnn.recall(full, truth, 10).head().getDouble(0)
    assert(rFull == 1.0, s"full-probe recall $rFull != 1.0")

    // tiny-scale caveat: with 500 points in 16 clusters a query's true
    // 10-NN spans many clusters, so probe 12/16 (the reference's own
    // defaults probe≥k at this scale — probe=100, cli/main.rs:27-31)
    val part = RabitqQuery.topK(spark, model, index, emb, q,
      nprobe = 12, topk = 10, rerank = 100)
    val rPart = ExactKnn.recall(part, truth, 10).head().getDouble(0)
    assert(rPart >= 0.9, s"partial-probe recall $rPart < 0.9")
    index.unpersist()
  }

  test("fastscan estimator path returns EXACTLY the plane-popcount path's rows") {
    // the LUT estimator is bit-identical per candidate (kernel property
    // spec), so the whole pipeline — shortlist, rerank, final top-k —
    // must agree row-for-row at any nprobe/rerank, including the
    // approximate regime where a differing rough score would reorder the
    // shortlist and change the output
    val (model, index) = RabitqIndex.build(spark, emb, numClusters = 16, seed = 42L)
    index.persist()
    val q = ExactKnn.queriesFromEmbeddings(emb, 20)
    for ((np, rr) <- Seq((16, 4096), (4, 30))) {
      val plain = RabitqQuery.topK(spark, model, index, emb, q,
        nprobe = np, topk = 10, rerank = rr).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
          (r.getAs[Long]("neighbor_id"), r.getAs[Double]("dist"))).toMap
      val fast = RabitqQuery.topK(spark, model, index, emb, q,
        nprobe = np, topk = 10, rerank = rr, fastscan = true).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
          (r.getAs[Long]("neighbor_id"), r.getAs[Double]("dist"))).toMap
      assert(fast == plain, s"fastscan != planes at nprobe=$np rerank=$rr")
    }
    index.unpersist()
  }

  test("model JSON sidecar roundtrips") {
    val (model, _) = RabitqIndex.build(spark, emb, numClusters = 4, seed = 2L)
    val dir = java.nio.file.Files.createTempDirectory("mj").toString
    RabitqIndex.writeModel(dir, dir, model)
    assert(new java.io.File(s"$dir/_model.json").isFile)
    val back = RabitqIndex.modelOfGen(dir, dir)
    def bits(m: Array[Array[Float]]) = m.flatten.map(java.lang.Float.floatToRawIntBits).toSeq
    assert(back.params == model.params)
    assert(bits(back.rotation) == bits(model.rotation))
    assert(bits(back.centroids) == bits(model.centroids))
    assert(bits(Array(back.bias)) == bits(Array(model.bias)))
    // a file whose params disagree with its blobs is refused, not decoded
    val f = java.nio.file.Paths.get(dir, "_model.json")
    val k = model.params.numClusters
    java.nio.file.Files.writeString(f, java.nio.file.Files.readString(f)
      .replace(s""""num_clusters":$k,""", s""""num_clusters":${k + 1},"""))
    val e = intercept[IllegalArgumentException](RabitqIndex.modelOfGen(dir, dir))
    assert(e.getMessage.contains("\"centroids\""), e.getMessage)
  }

  test("BASELINE.md e2e recall gate: sf0.1, recall@10 >= 0.9 at nprobe >= k/4") {
    val emb01 = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val (model, index) = RabitqIndex.build(spark, emb01, numClusters = 16, seed = 42L)
    index.persist()
    val q = ExactKnn.queriesFromEmbeddings(emb01, 20)
    val truth = ExactKnn.l2TopK(emb01, q, 10)
    val approx = RabitqQuery.topK(spark, model, index, emb01, q,
      nprobe = 12, topk = 10, rerank = 150)
    val r = ExactKnn.recall(approx, truth, 10).head().getDouble(0)
    index.unpersist()
    assert(r >= 0.9, s"sf0.1 recall@10 = $r < 0.9")
  }

  test("heuristicTopK: unbounded window equals brute force; tight window prunes") {
    // reference heuristic reranker semantics (rerank.rs:117-177): with a
    // window no candidate stream can fill, the threshold never tightens,
    // every candidate is scored exactly, and full-probe heuristic IS
    // brute force; with the reference's window=12 the threshold must
    // actually prune (fewer exact scores than candidates) at bounded
    // recall cost
    val (model, index) = RabitqIndex.build(spark, emb, numClusters = 8, seed = 5L)
    index.persist()
    val q = ExactKnn.queriesFromEmbeddings(emb, 8)
    val truth = ExactKnn.l2TopK(emb, q, 10)
    val unbounded = RabitqQuery.heuristicTopK(spark, model, index, emb, q,
      nprobe = 8, topk = 10, window = Int.MaxValue)
    assert(ExactKnn.recall(unbounded, truth, 10).head().getDouble(0) == 1.0)
    // unbounded heuristic scores every candidate exactly once
    val ub = unbounded.groupBy("query_id")
      .agg(max("n_precise").as("p"), max("n_candidates").as("c"))
      .filter(col("p") =!= col("c")).count()
    assert(ub == 0L)
    // reported distances are true L2 distances
    val checked = emb
      .join(unbounded, col("vec_id") === col("neighbor_id"))
      .join(q, Seq("query_id"))
      .select(col("dist"),
        sqrt(graft.functions.VectorExpressions.l2sq(col("qvec"), col("embedding")))
          .as("true_dist"))
      .agg(max(abs(col("dist") - col("true_dist")))).head().getDouble(0)
    assert(checked < 1e-6)
    val pruned = RabitqQuery.heuristicTopK(spark, model, index, emb, q,
      nprobe = 8, topk = 10, window = 12)
    val stats = pruned.groupBy("query_id")
      .agg(max("n_precise").as("p"), max("n_candidates").as("c"))
      .agg(sum(col("p")).as("p"), sum(col("c")).as("c")).head()
    assert(stats.getLong(0) > 0L && stats.getLong(0) < stats.getLong(1),
      s"window=12 must prune: precise=${stats.getLong(0)} of ${stats.getLong(1)}")
    assert(ExactKnn.recall(pruned, truth, 10).head().getDouble(0) >= 0.8)
    index.unpersist()
  }

  test("incremental append: encode new vectors against the frozen model, stays exact") {
    val first = emb.filter(col("vec_id") < 250)
    val rest = emb.filter(col("vec_id") >= 250)
    val (model, index1) = RabitqIndex.build(spark, first, numClusters = 8, seed = 4L)
    val appended = RabitqIndex.appendVectors(spark, model, rest)
    val full = index1.unionByName(appended)
    assert(full.count() == emb.count())
    // appended rows follow the same schema and land in existing clusters
    assert(appended.select("cluster_id").distinct().collect()
      .forall(_.getInt(0) < 8))
    val q = ExactKnn.queriesFromEmbeddings(emb, 10)
    val truth = ExactKnn.l2TopK(emb, q, 10)
    val res = RabitqQuery.topK(spark, model, full, emb, q, 8, 10, 4096)
    assert(ExactKnn.recall(res, truth, 10).head().getDouble(0) == 1.0)
  }

  test("mutation: insert + delete keeps full-probe search exact over the final set") {
    val initial = emb.filter(col("vec_id") % 10 < 8)
    val inserts = emb.filter(col("vec_id") % 10 >= 8)
    val (model, index0) = RabitqIndex.build(spark, initial, numClusters = 8, seed = 4L)
    val deleted = emb.filter(col("vec_id") % 7 === 3).select("vec_id")
    val mutated = RabitqIndex.deleteVectors(
      index0.unionByName(RabitqIndex.appendVectors(spark, model, inserts)), deleted)
    val baseFinal = emb.filter(col("vec_id") % 7 =!= 3)
    assert(mutated.count() == baseFinal.count())
    // no deleted id survives in the index
    assert(mutated.join(deleted, Seq("vec_id")).count() == 0)
    val q = ExactKnn.queriesFromEmbeddings(emb, 10)
    val truth = ExactKnn.l2TopK(baseFinal, q, 10)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    val n = baseFinal.count().toInt
    val res = RabitqQuery.topK(spark, model, mutated, baseFinal, q, 8, 10, n)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(res == truth, "full probe + full rerank over the mutated index must equal brute force")
    // delete semantics at PARTIAL probe too: a deleted vector must never
    // surface even when it would have been its own nearest neighbor
    val partial = RabitqQuery.topK(spark, model, mutated, baseFinal, q, 4, 10, 64)
    assert(partial.join(deleted, partial("neighbor_id") === deleted("vec_id")).count() == 0)
  }

  test("mutation: upsert re-encodes changed vectors and search follows the new values") {
    import spark.implicits._
    val (model, index0) = RabitqIndex.build(spark, emb, numClusters = 8, seed = 4L)
    // shift every 5th vector by a constant offset — ids unchanged, values new
    val changed = emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), transform(col("embedding"), v => v + lit(3.0f)).as("embedding"))
    val updatedBase = emb.filter(col("vec_id") % 5 =!= 0)
      .select("vec_id", "embedding").unionByName(changed)
    val upserted = RabitqIndex.upsertVectors(spark, model, index0, changed)
    assert(upserted.count() == emb.count(), "upsert of existing ids must not grow the index")
    assert(upserted.select("vec_id").distinct().count() == emb.count())
    val q = ExactKnn.queriesFromEmbeddings(updatedBase, 10)
    val n = updatedBase.count().toInt
    val res = RabitqQuery.topK(spark, model, upserted, updatedBase, q, 8, 10, n)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    val truth = ExactKnn.l2TopK(updatedBase, q, 10)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(res == truth, "search over the upserted index must equal brute force on the new values")
  }

  test("ball-pruned exact search equals brute force and actually prunes") {
    // clustered synthetic data: pruning bites when clusters are separated
    // (the fixture's uniform blob keeps most balls overlapping — also
    // covered below as the adversarial no-separation case)
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextGaussian().toFloat * 10f))
    val pts = (0L until 2000L).map { i =>
      val c = centers((i % 8).toInt)
      (i, c.zipWithIndex.map { case (v, d) => v + rnd.nextGaussian().toFloat * 0.3f }.toSeq)
    }.toDF("vec_id", "embedding")
    val (model, index) = RabitqIndex.build(spark, pts, numClusters = 8, seed = 11L)
    val stats = RabitqQuery.clusterStats(index)
    val assigned = pts.join(index.select("vec_id", "cluster_id"), Seq("vec_id"))
    val q = ExactKnn.queriesFromEmbeddings(pts, 10)
    val pairs = RabitqQuery.prunedPairs(spark, model, stats, q, 10)
    val nPairs = pairs.count()
    assert(nPairs < 10L * 8 / 2,
      s"separated clusters must prune most balls, kept $nPairs of 80 (query, cluster) pairs")
    val res = RabitqQuery.ballPrunedTopK(spark, model, stats, assigned, q, 10)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    val truth = ExactKnn.l2TopK(pts, q, 10)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(res == truth, "pruned search must equal brute force exactly")
    // adversarial shape: the fixture's single uniform blob — balls overlap,
    // pruning keeps nearly everything, the answer must STILL be exact
    val (model2, index2) = RabitqIndex.build(spark, emb, numClusters = 8, seed = 4L)
    val stats2 = RabitqQuery.clusterStats(index2)
    val assigned2 = emb.join(index2.select("vec_id", "cluster_id"), Seq("vec_id"))
    val q2 = ExactKnn.queriesFromEmbeddings(emb, 10)
    val res2 = RabitqQuery.ballPrunedTopK(spark, model2, stats2, assigned2, q2, 10)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    val truth2 = ExactKnn.l2TopK(emb, q2, 10)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(res2 == truth2)
  }

  test("RaBitQ index save/load roundtrip preserves results") {
    val (model, index) = RabitqIndex.build(spark, emb, numClusters = 8, seed = 1L)
    val dir = java.nio.file.Files.createTempDirectory("rabitq_idx").toString
    RabitqIndex.save(spark, model, index, dir)
    val (model2, index2) = RabitqIndex.load(spark, dir)
    assert(model2.params == model.params)
    assert(model2.rotation.flatMap(_.toList).sameElements(model.rotation.flatMap(_.toList)))
    assert(model2.centroids.flatMap(_.toList).sameElements(model.centroids.flatMap(_.toList)))
    val q = ExactKnn.queriesFromEmbeddings(emb, 5)
    val a = RabitqQuery.topK(spark, model, index, emb, q, 8, 5, 50)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    val b = RabitqQuery.topK(spark, model2, index2, emb, q, 8, 5, 50)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(a == b)
    // cluster_id partition layout on disk (reference CSR analog — pruning)
    val parts = new java.io.File(s"$dir/index").listFiles()
      .filter(_.getName.startsWith("cluster_id="))
    assert(parts.length == 8)
  }

  test("filtered ANN (q97): label predicate pushes to the saved index scan and " +
      "composes with partition pruning; filtered search equals filtered brute force") {
    val (model, index) = RabitqIndex.build(spark, emb, numClusters = 8, seed = 42L)
    // the q97 layout: metadata rides in the index rows, so it persists
    // into the cluster_id-partitioned parquet
    val labeled = index.join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
    val dir = java.nio.file.Files.createTempDirectory("rabitq_filt").toString
    RabitqIndex.save(spark, model, labeled, dir)
    val scan = spark.read.parquet(s"$dir/index")
      .filter(col("label") % 4 === 1 && col("cluster_id") === 3)
    val plan = scan.queryExecution.executedPlan.toString
    // data filter reaches PushedFilters, cluster predicate stays a
    // partition filter — predicate AND layout pruning compose
    assert(plan.contains("PushedFilters") && plan.contains("label"), plan.take(3000))
    assert(plan.contains("PartitionFilters: [") && plan.contains("cluster_id"), plan.take(3000))

    // exactness through the filtered path on the LOADED index — the label
    // column came back from the parquet, no re-join
    val (m2, idx2) = RabitqIndex.load(spark, dir)
    val pred = col("label") % 4 === 1
    val q = ExactKnn.queriesFromEmbeddings(emb, 5)
    val n = emb.count().toInt
    val got = RabitqQuery.topK(spark, m2, idx2.filter(pred), emb.filter(pred), q,
        nprobe = 8, topk = 5, rerank = n)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    val want = ExactKnn.l2TopK(emb.filter(pred), q, 5)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)

    // topKFromDisk(pred) — the q99 gate's disk leg: the label predicate
    // reaches PushedFilters on the PRUNED scan inside the QUERY plan (not
    // just a hand-built scan), and results match the in-memory leg at the
    // same partial-probe parameters
    val diskDf = RabitqQuery.topKFromDisk(spark, dir, emb.filter(pred), q,
      nprobe = 4, topk = 5, rerank = 50, pred = pred)
    val dplan = diskDf.queryExecution.executedPlan.toString
    assert(dplan.contains("PushedFilters") && dplan.contains("label"), dplan.take(3000))
    assert(dplan.contains("PartitionFilters: [") && dplan.contains("cluster_id"),
      dplan.take(3000))
    val memDf = RabitqQuery.topK(spark, m2, idx2.filter(pred), emb.filter(pred), q,
      nprobe = 4, topk = 5, rerank = 50)
    assert(diskDf.select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet ==
      memDf.select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet)

    // filteredTopKFromDisk — the q103 composition: KNOWN selectivity (the
    // catalog-statistic contract, no measurement scan) widens the probe,
    // the WIDENED cluster set statically prunes the partitioned scan, and
    // the label predicate rides in PushedFilters beside it; results equal
    // the in-memory widened path at identical parameters
    val sel = Some(0.5) // widens nprobe 2 → 4 of 8: real widening, no saturation
    val fdisk = RabitqQuery.filteredTopKFromDisk(spark, dir, emb.filter(pred), q,
      pred, nprobe = 2, topk = 5, rerank = 50, selectivity = sel)
    val fplan = fdisk.queryExecution.executedPlan.toString
    assert(fplan.contains("PushedFilters") && fplan.contains("label"), fplan.take(3000))
    assert(fplan.contains("PartitionFilters: [") && fplan.contains("cluster_id"),
      fplan.take(3000))
    val fmem = RabitqQuery.filteredTopK(spark, m2, idx2, emb.filter(pred), q,
      pred, nprobe = 2, topk = 5, rerank = 50, selectivity = sel)
    assert(fdisk.select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet ==
      fmem.select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet)
    assert(fdisk.count() > 0)
  }

  test("widenedProbe: ceil(nprobe/sel), never below nprobe, clamped to numClusters, " +
      "zero-selectivity guarded") {
    assert(RabitqQuery.widenedProbe(256, 16, 0.1) == 160)
    assert(RabitqQuery.widenedProbe(16, 4, 0.1) == 16)    // clamps to full probe
    assert(RabitqQuery.widenedProbe(256, 16, 1.0) == 16)  // unfiltered: unchanged
    assert(RabitqQuery.widenedProbe(256, 16, 0.9) == 18)  // ceil, not floor
    assert(RabitqQuery.widenedProbe(8, 2, 0.5) == 4)
    assert(RabitqQuery.widenedProbe(256, 16, 0.0) == 256) // sel floor 1e-6 → clamp
  }

  test("q99 filtered-recall gate holds at sf0.001 (all four invariants green)") {
    val r = SparkEntry.queries("q99_ann_filtered_recall")(spark, sf).head()
    assert((0 until 4).forall(r.getLong(_) == 1L), s"q99 gate failed: $r")
  }

  test("filteredTopK widens the probe by 1/selectivity: saturates to exact at " +
      "fixture scale; explicit selectivity respected") {
    val (model, index) = RabitqIndex.build(spark, emb, numClusters = 8, seed = 42L)
    val labeled = index.join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
    val q = ExactKnn.queriesFromEmbeddings(emb, 5)
    val pred = col("label") === 7 // ~10% of the corpus
    // requested nprobe 1 → widened to ceil(1/0.1) = 10 → clamped to 8 =
    // full probe; with full rerank the result must be EXACTLY filtered
    // brute force, where a naive nprobe-1 query would miss most of it
    val n = emb.count().toInt
    val got = RabitqQuery.filteredTopK(spark, model, labeled, emb, q, pred,
        nprobe = 1, topk = 5, rerank = n)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    val want = ExactKnn.l2TopK(emb.filter(pred), q, 5)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
    val naive = RabitqQuery.topK(spark, model, labeled.filter(pred), emb.filter(pred),
        q, nprobe = 1, topk = 5, rerank = n)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(naive != want, "nprobe-1 naive filtered query should not be exact here")
    // explicit selectivity short-circuits the measuring aggregate and is
    // used verbatim: sel = 1.0 keeps nprobe unwidened
    val unwidened = RabitqQuery.filteredTopK(spark, model, labeled, emb, q, pred,
        nprobe = 1, topk = 5, rerank = n, selectivity = Some(1.0))
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(unwidened == naive)
  }

  test("index parquet scan with cluster filter prunes partitions") {
    val (model, index) = RabitqIndex.build(spark, emb, numClusters = 8, seed = 1L)
    val dir = java.nio.file.Files.createTempDirectory("rabitq_prune").toString
    RabitqIndex.save(spark, model, index, dir)
    val scan = spark.read.parquet(s"$dir/index").filter(col("cluster_id") === 3)
    val plan = scan.queryExecution.executedPlan.toString
    // partition filter must reach the file source (no full-index read)
    assert(plan.contains("PartitionFilters") && plan.contains("cluster_id"), plan)
  }

  test("disk index query path: equals in-memory results, scan is partition-pruned, metrics observed") {
    val (model, index) = RabitqIndex.build(spark, emb, numClusters = 8, seed = 1L)
    val dir = java.nio.file.Files.createTempDirectory("rabitq_disk").toString
    RabitqIndex.save(spark, model, index, dir)
    val q = ExactKnn.queriesFromEmbeddings(emb, 5)

    val disk = RabitqQuery.topKFromDisk(spark, dir, emb, q, nprobe = 4, topk = 5, rerank = 50)
    val plan = disk.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cluster_id"), plan.take(3000))

    @volatile var rough = -1L; @volatile var precise = -1L
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = {
        qe.observedMetrics.collect { case (n, r) if n.startsWith("rabitq_rough") =>
          rough = r.getAs[Long]("n_rough") }
        qe.observedMetrics.collect { case (n, r) if n.startsWith("rabitq_precise") =>
          precise = r.getAs[Long]("n_precise") }
      }
      override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val got = disk.select("query_id", "neighbor_id", "rank")
        .collect().map(_.toSeq).toSet
      val mem = RabitqQuery.topK(spark, model, index, emb, q, nprobe = 4, topk = 5, rerank = 50)
        .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
      assert(got == mem)
      // listener delivery is async
      val deadline = System.currentTimeMillis() + 20000
      while ((rough < 0 || precise < 0) && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(rough > 0, s"rough metric not observed: $rough")
      assert(precise > 0 && precise <= 5 * 50, s"precise metric off: $precise")
    } finally spark.listenerManager.unregister(listener)
  }

  test("odd-dimension vectors (pad path) survive the full index pipeline") {
    import spark.implicits._
    val rnd = new java.util.Random(21)
    val oddDim = 40 // not a multiple of 64 → pad B1 is active everywhere
    val data = (0L until 200L).map(i => (i, Seq.fill(oddDim)(rnd.nextFloat() * 2f - 1f)))
    val df = data.toDF("vec_id", "embedding")
    val (model, index) = RabitqIndex.build(spark, df, numClusters = 4, seed = 11L)
    assert(model.params.dim == 40 && model.params.padDim == 64)
    val q = df.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val truth = ExactKnn.l2TopK(df, q, 5)
    val full = RabitqQuery.topK(spark, model, index, df, q, 4, 5, 4096)
    assert(ExactKnn.recall(full, truth, 5).head().getDouble(0) == 1.0)
  }

  // ---------------- hierarchical kmeans ----------------------------------
  test("hierarchical 2-level kmeans build: sub-clusters present, full probe still exact") {
    val (model, index) = RabitqIndex.buildHierarchical(spark, emb, k1 = 4, k2 = 4, seed = 7L)
    // k1·k2 is an upper bound (tiny top clusters yield fewer sub-centers)
    val k = model.centroids.length
    assert(k > 4 && k <= 16, s"unexpected centroid count $k")
    assert(model.params.numClusters == k)
    val q = ExactKnn.queriesFromEmbeddings(emb, 10)
    val truth = ExactKnn.l2TopK(emb, q, 10)
    val full = RabitqQuery.topK(spark, model, index, emb, q, nprobe = k, topk = 10, rerank = 4096)
    assert(ExactKnn.recall(full, truth, 10).head().getDouble(0) == 1.0)
  }

  // ---------------- fvecs codec ------------------------------------------
  test("fvecs/ivecs/u64vecs roundtrip") {
    import graft.sources.Fvecs
    val tmp = java.nio.file.Files.createTempDirectory("vecs").toString
    val embDf = emb.select(col("vec_id"), col("embedding").as("vec")).limit(100)
    Fvecs.writeFvecs(embDf, s"$tmp/base.fvecs")
    val back = Fvecs.readFvecs(spark, s"$tmp/base.fvecs")
    val orig = embDf.collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toMap
    val got = back.collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toMap
    assert(got == orig)

    import spark.implicits._
    val ints = Seq((0L, Seq(1, 2, 3)), (1L, Seq(7, -4, 0))).toDF("vec_id", "vec")
    Fvecs.writeIvecs(ints, s"$tmp/gt.ivecs")
    assert(Fvecs.readIvecs(spark, s"$tmp/gt.ivecs").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1))).toMap ==
      Map(0L -> Seq(1, 2, 3), 1L -> Seq(7, -4, 0)))

    val longs = Seq((0L, Seq(Long.MaxValue, -1L, 42L))).toDF("vec_id", "vec")
    Fvecs.writeU64vecs(longs, s"$tmp/codes.u64vecs")
    assert(Fvecs.readU64vecs(spark, s"$tmp/codes.u64vecs").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toMap ==
      Map(0L -> Seq(Long.MaxValue, -1L, 42L)))
  }

  // ---------------- dedup ----------------------------------------------
  test("exact dedup keeps min doc_id per text") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val got = Dedup.exact(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (3L, 1L)))
  }

  test("incremental bloom dedup equals the plain anti-join at ANY fpp; history never shuffles") {
    import spark.implicits._
    // 400 history docs; incoming = 100 cross-boundary dups + 200 new.
    // File-backed: over local relations the optimizer folds the bloom
    // predicate away at plan time, which would blind the plan assertions
    val dir = graft.TempDirs.create("graft_incdedup_")
    (0 until 400).map(i => (i.toLong, s"hist doc $i")).toDF("doc_id", "text")
      .write.parquet(s"$dir/h")
    ((0 until 100).map(i => (1000L + i, s"hist doc $i")) ++
      (0 until 200).map(i => (2000L + i, s"new doc $i"))).toDF("doc_id", "text")
      .write.parquet(s"$dir/i")
    val history = spark.read.parquet(s"$dir/h")
    val incoming = spark.read.parquet(s"$dir/i")
    val want = (0 until 200).map(i => 2000L + i).toSet

    def run(fpp: Double) = Dedup.incrementalNew(history, incoming, 400L, fpp)
    val got = run(0.01)
    assert(got.collect().map(_.getLong(0)).toSet == want)
    // exactness must not depend on the sketch: a near-useless filter
    // (fpp 0.9 → nearly everything positive) still yields the same set,
    // because the verification joins are what decide
    assert(run(0.9).collect().map(_.getLong(0)).toSet == want)

    // scale shape: both history-side joins broadcast — no shuffled join
    // anywhere, and the bloom test shows up as the codegen predicate
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"), plan)
    assert(plan.contains("might_contain"), plan)

    // empty history → everything incoming is new (null sketch path)
    assert(Dedup.incrementalNew(history.filter(col("doc_id") < 0), incoming, 400L)
      .count() == 300L)
  }

  test("incremental bloom dedup: NULL text is always new (NOT EXISTS semantics) and " +
      "a caller fp column survives untouched") {
    import spark.implicits._
    // SQL equality never matches NULLs, so a null-text incoming row is NOT
    // a duplicate of a null-text history row — the digest path must agree
    val history = Seq((1L, "shared"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "shared", "keep-a"),             // true dup → dropped
      (11L, null.asInstanceOf[String], "keep-b"), // null text → new
      (12L, "fresh", "keep-c"))              // new
      .toDF("doc_id", "text", "fp")          // fp: caller-owned column
    val out = Dedup.incrementalNew(history, incoming, 10L).collect()
    assert(out.map(_.getLong(0)).toSet == Set(11L, 12L))
    // the caller's fp column is still in the schema with its values
    assert(out.map(r => r.getString(r.fieldIndex("fp"))).toSet == Set("keep-b", "keep-c"))
  }

  test("historyBloomPredicate builds past the silent clamp and restores the session caps") {
    import spark.implicits._
    val history = Seq((1L, "a")).toDF("doc_id", "text").repartition(4)
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    def caps = (spark.conf.getOption(bitsKey), spark.conf.getOption(itemsKey))
    val capsBefore = caps
    def filterBytes(pred: org.apache.spark.sql.Column): Array[Byte] = {
      var bin: Array[Byte] = null
      org.apache.spark.sql.graft.ColumnShim.expression(pred).foreach {
        case lit: org.apache.spark.sql.catalyst.expressions.Literal
            if lit.dataType == org.apache.spark.sql.types.BinaryType =>
          bin = lit.value.asInstanceOf[Array[Byte]]
        case _ => ()
      }
      bin
    }
    // the session caps are read by every concurrent query's injected
    // runtime join filters: a watcher polls them for the whole build and
    // they must never move
    val capsSeen = new java.util.concurrent.ConcurrentLinkedQueue[Any]()
    val building = new java.util.concurrent.atomic.AtomicBoolean(true)
    val watcher = new Thread(() => while (building.get) { capsSeen.add(caps); Thread.sleep(1) })
    // every byte a task returns to the driver counts against
    // spark.driver.maxResultSize: the per-partition bitmaps must merge on
    // the executors, so only ~one bitmap comes back however many
    // partitions history has
    val toDriver = new java.util.concurrent.atomic.AtomicLong(0)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val marker = "bloom spec listener drain"
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => toDriver.addAndGet(m.resultSize))
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          drained.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    watcher.start()
    // 10M expected docs at 1% fpp needs ~96M bits — past the 67M default
    // cap BloomFilterAggregate clamps to without error. The EFFECTIVE
    // size is observable in the serialized filter embedded in the
    // predicate: it must be bitmap-sized for the REQUESTED numBits, not
    // the clamp.
    val pred = try Dedup.historyBloomPredicate(history, 10000000L, 0.01).get
      finally {
        building.set(false); watcher.join()
        // the listener bus is FIFO: once the marker job's start is seen,
        // every task end of the build has been delivered
        Overlap.labelled(spark, marker)(spark.sparkContext.parallelize(1 to 1, 1).count())
        assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
        spark.sparkContext.removeSparkListener(listener)
      }
    val binLen = filterBytes(pred).length.toLong
    val wantBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(10000000L, 0.01)
    assert(binLen >= wantBits / 8, s"filter binary $binLen B < requested ${wantBits / 8} B — clamped")
    assert(toDriver.get < 2 * binLen,
      s"tasks returned ${toDriver.get} B to the driver for one $binLen B filter")
    assert(!capsSeen.isEmpty)
    capsSeen.forEach(c => assert(c == capsBefore, s"session caps moved during the build: $c"))
    assert(caps == capsBefore)
    // the filter is exactly Spark's own bloom over the non-NULL digests
    val small = Seq((1L, "a"), (2L, "b"), (3L, null.asInstanceOf[String]), (4L, "a"))
      .toDF("doc_id", "text").repartition(3)
    val numBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(10L, 0.01)
    val expect = new java.io.ByteArrayOutputStream()
    small.stat.bloomFilter(Dedup.textFp, 10L, numBits).writeTo(expect)
    assert(filterBytes(Dedup.historyBloomPredicate(small, 10L, 0.01).get)
      .sameElements(expect.toByteArray))
  }

  test("ngram jaccard: identical docs get 1.0, disjoint get filtered") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words here nothing shared at all")
    ).toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(docs, 3, 0.5).collect()
    assert(got.length == 1)
    assert(got.head.getLong(0) == 1L && got.head.getLong(1) == 2L)
    assert(got.head.getDouble(2) == 1.0)
  }

  test("jaccard prefix filter is lossless: equals brute-force all-pairs on random docs") {
    import spark.implicits._
    // small vocab forces heavy shingle sharing — the adversarial regime
    // for candidate pruning
    val rnd = new scala.util.Random(11)
    val randomDocs = (0 until 100).map { i =>
      val len = 5 + rnd.nextInt(10)
      (i.toLong, Seq.fill(len)("w" + rnd.nextInt(12)).mkString(" "))
    }
    // planted near-dups: copies of docs 0..9 with one token appended
    val nearDups = (0 until 10).map(i => (100L + i, randomDocs(i)._2 + " w99"))
    val docs = (randomDocs ++ nearDups).toDF("doc_id", "text")
    val threshold = 0.3
    val got = Dedup.ngramJaccardPairs(docs, 3, threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute force from the same shingle definition
    val sets = Dedup.shingleHashes(docs, 3).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val expect = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size
      jac = inter.toDouble / (sets(a).size + sets(b).size - inter)
      if jac >= threshold
    } yield (a, b, jac)).toSet
    assert(got == expect, s"got ${got.size} pairs, expected ${expect.size}")
    assert(expect.size >= 10, s"degenerate test: only ${expect.size} qualifying pairs")

    // positional (PPJoin) candidates: strictly a subset of the size-bound
    // candidates, still a superset of every TRUE pair — pruning is real
    // and lossless at the candidate level too
    val posting = Dedup.shingleHashes(docs, 3)
      .groupBy(col("doc_id"))
      .agg(collect_list(col("shingle")).as("set"), count(lit(1)).as("ns"))
      .select(col("doc_id"), col("ns"), explode(col("set")).as("shingle"))
    val freq = posting.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(col("df").asc, col("shingle").asc)
    val prefix = posting.join(freq, Seq("shingle"))
      .withColumn("rn", row_number().over(wDoc))
      .filter(col("rn") <= Dedup.prefixLen(col("ns"), threshold))
      .select(col("doc_id"), col("ns"), col("rn"), col("shingle"))
    def candSet(positional: Boolean) =
      Dedup.jaccardCandidates(prefix, threshold, positional)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plainCands = candSet(positional = false)
    val posCands = candSet(positional = true)
    assert(posCands.subsetOf(plainCands))
    assert(posCands.size < plainCands.size,
      s"positional filter pruned nothing (${plainCands.size} candidates)")
    val truePairs = expect.map(p => (p._1, p._2))
    assert(truePairs.subsetOf(posCands),
      s"positional filter dropped true pairs: ${(truePairs -- posCands).take(3)}")
  }

  test("jaccard prefix filter: a hot shingle in every doc generates no candidates") {
    import spark.implicits._
    // every doc opens with the same trigram; the rest is unique. A naive
    // inverted index explodes into n(n-1)/2 ≈ 2M candidate pairs from the
    // hot posting alone; frequency-ordered prefix filtering never indexes
    // it (it sorts last), so the join sees only df=1 postings.
    val docs = (0 until 2000).map(i =>
      (i.toLong, s"common hot shingle unique$i word$i token$i end$i")).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val pairs = Dedup.ngramJaccardPairs(docs, 3, 0.5).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(pairs.isEmpty) // true jaccard between distinct docs is 1/9
    assert(secs < 60.0, s"hot-shingle case took ${secs}s")
  }

  test("spanDupStats: shared spans counted across docs only, short docs surface") {
    import spark.implicits._
    // d0/d1 share exactly one 5-word span ("a b c d e"); d2 is too short
    // for any span; d3 repeats its own span INTERNALLY (internal repeats
    // must not count as shared — sharing is a cross-document property)
    val docs = Seq(
      (0L, "a b c d e x1 y1 z1 w1 v1"),
      (1L, "q1 a b c d e r1 s1 t1 u1"),
      (2L, "p p p p"),
      (3L, "m n o p q m n o p q")).toDF("doc_id", "text")
    val out = Dedup.spanDupStats(docs, k = 5).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // 10 tokens → 6 overlapping spans; d3's 6 spans contain one repeat
    // ("m n o p q" at offsets 0 and 5) → 5 DISTINCT spans, none shared
    assert(out == Seq((0L, 6L, 1L), (1L, 6L, 1L), (2L, 0L, 0L), (3L, 5L, 0L)))
    // identical docs: every span shared, frac exactly 1.0
    val dup = Seq((0L, "a b c d e f g h"), (1L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val fr = Dedup.spanDupStats(dup, k = 5).select("shared_frac")
      .collect().map(_.getDouble(0)).toSeq
    assert(fr == Seq(1.0, 1.0))
  }

  test("maskSharedSpans: covered tokens drop, conservation holds, " +
      "untouched docs keep their exact text, internal repeats mask once shared") {
    import spark.implicits._
    // d0/d1 share "a b c d e": those 5 tokens drop from both, the unique
    // tails survive. d2 shares nothing → kept verbatim. d3 repeats a span
    // internally only → NOT shared → kept verbatim.
    val docs = Seq(
      (0L, "a b c d e x1 y1 z1 w1 v1"),
      (1L, "q1 a b c d e r1 s1 t1 u1"),
      (2L, "p p p p"),
      (3L, "m n o p q m n o p q")).toDF("doc_id", "text")
    val out = Dedup.maskSharedSpans(docs, k = 5).orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq((0L, 10L, 5L, 5L), (1L, 10L, 5L, 5L), (2L, 4L, 4L, 0L), (3L, 10L, 10L, 0L)))
    def md5s(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(0).getString(4) == md5s("x1 y1 z1 w1 v1"))
    assert(out(1).getString(4) == md5s("q1 r1 s1 t1 u1"))
    assert(out(2).getString(4) == md5s("p p p p"))
    assert(out(3).getString(4) == md5s("m n o p q m n o p q"))
    // identical docs mask to NOTHING (every token covered) — md5 of ""
    val dup = Seq((0L, "a b c d e f g h"), (1L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val masked = Dedup.maskSharedSpans(dup, k = 5).collect()
    assert(masked.forall(r => r.getLong(2) == 0L && r.getString(4) == md5s("")))
    // real corpus: conservation (n_kept + n_removed = n_tokens) on every
    // row, and the action agrees with q80's report — docs with zero
    // shared spans remove nothing
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
    val real = Dedup.maskSharedSpans(corpus, k = 5)
    assert(real.filter(col("n_kept") + col("n_removed") =!= col("n_tokens")).isEmpty)
    val zeroShared = Dedup.spanDupStats(corpus, k = 5)
      .filter(col("n_shared") === 0).select("doc_id")
    assert(real.join(zeroShared, "doc_id").filter(col("n_removed") =!= 0).isEmpty)
  }

  test("zorderKey: hand-computed Morton curve, grid bijection, identity bounds") {
    import spark.implicits._
    import graft.sources.ZOrder
    // 2-bit grid with identity bounds (floor(v·4/4) = v): the first
    // cells of the canonical Z curve — (0,0)→0 (1,0)→1 (0,1)→2 (1,1)→3
    // (2,0)→4 (3,3)→15
    val cells = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 0L), (3L, 3L))
    val keys = cells.toDF("a", "b").select(
      ZOrder.zorderKey(col("a"), lit(0L), lit(3L),
        col("b"), lit(0L), lit(3L), bits = 2).as("k"))
      .collect().map(_.getLong(0)).toSeq
    assert(keys == Seq(0L, 1L, 2L, 3L, 4L, 15L))
    // bijection on the full 16×16 grid: 256 distinct keys exactly
    // covering [0, 4^bits) — every cell gets its own key, so row-group
    // min/max ranges stay selective in both dimensions
    val grid = (for (a <- 0L until 16L; b <- 0L until 16L) yield (a, b))
      .toDF("a", "b").select(
        ZOrder.zorderKey(col("a"), lit(0L), lit(15L),
          col("b"), lit(0L), lit(15L), bits = 4).as("k"))
    assert(grid.distinct().count() == 256)
    assert(grid.agg(min(col("k")), max(col("k"))).head() ==
      org.apache.spark.sql.Row(0L, 255L))
    // non-identity bounds: normalization maps [100, 107] onto 3 bits
    // order-preservingly; equal inputs collapse to equal keys
    val n = Seq(100L, 103L, 107L).toDF("v").select(
      ZOrder.normalize(col("v"), lit(100L), lit(107L), 3).as("nv"))
      .collect().map(_.getLong(0)).toSeq
    assert(n == Seq(0L, 3L, 7L))
  }

  test("interleaveN: d=3 hand-computed cells, grid bijection, 2-dim equivalence") {
    import spark.implicits._
    import graft.sources.ZOrder
    // hand-computed 3-dim Morton cells (bit i of dim j → position 3i+j):
    // (1,0,0)→1 (0,1,0)→2 (0,0,1)→4 (1,1,1)→7 (2,0,0)→8 (3,3,3)→63
    val cells = Seq((0L, 0L, 0L), (1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L),
      (1L, 1L, 1L), (2L, 0L, 0L), (3L, 3L, 3L))
    val keys = cells.toDF("a", "b", "c").select(
      ZOrder.interleaveN(Seq(col("a"), col("b"), col("c")), bits = 2).as("k"))
      .collect().map(_.getLong(0)).toSeq
    assert(keys == Seq(0L, 1L, 2L, 4L, 7L, 8L, 63L))
    // bijection on the 8×8×8 grid: 512 distinct keys covering [0, 8^bits)
    val grid = (for (a <- 0L until 8L; b <- 0L until 8L; c <- 0L until 8L)
      yield (a, b, c)).toDF("a", "b", "c").select(
        ZOrder.zorderKeyN(Seq(
          (col("a"), lit(0L), lit(7L)),
          (col("b"), lit(0L), lit(7L)),
          (col("c"), lit(0L), lit(7L))), bits = 3).as("k"))
    assert(grid.distinct().count() == 512)
    assert(grid.agg(min(col("k")), max(col("k"))).head() ==
      org.apache.spark.sql.Row(0L, 511L))
    // the d=2 path IS interleaveN's d=2 case (same bit layout)
    val two = Seq((5L, 9L)).toDF("a", "b")
    assert(two.select(ZOrder.interleave(col("a"), col("b"), 4)).head().getLong(0) ==
      two.select(ZOrder.interleaveN(Seq(col("a"), col("b")), 4)).head().getLong(0))
    // bits caps scale with dimension count: 63/d
    assert(ZOrder.maxBits(3) == 21)
    intercept[IllegalArgumentException](
      ZOrder.interleaveN(Seq(col("a"), col("b"), col("a")), bits = 22))
    // SQL generator stays in lockstep for d=3 (spot value: (3,3,3) at 2 bits)
    val sql3 = ZOrder.interleaveSqlN(Seq("3", "3", "3"), 2)
    assert(spark.sql(s"SELECT CAST($sql3 AS BIGINT) AS k").head().getLong(0) == 63L)
  }

  test("zorderWrite: per-file spans shrink in BOTH dims vs a single-column sort") {
    import spark.implicits._
    import graft.sources.ZOrder
    // 64×64 grid → 8 range partitions. A plain sort by `a` makes each
    // file's `b` range the FULL domain (no skipping on b); the Morton
    // sort keeps both per-file spans a fraction of the domain — the
    // measurable property behind q84's data-skipping claim.
    val grid = (for (a <- 0L until 64L; b <- 0L until 64L) yield (a, b))
      .toDF("a", "b")
    val key = ZOrder.zorderKey(col("a"), lit(0L), lit(63L),
      col("b"), lit(0L), lit(63L), bits = 6)
    val zdir = graft.TempDirs.create("graft_zorder_")
    ZOrder.zorderWrite(grid, key, s"$zdir/z", partitions = 8)
    val ndir = s"$zdir/n"
    grid.repartitionByRange(8, col("a")).sortWithinPartitions(col("a"))
      .write.mode("overwrite").parquet(ndir)
    def meanSpan(dir: String, c: String): Double = {
      val spans = new java.io.File(dir).listFiles()
        .filter(f => f.getName.endsWith(".parquet"))
        .map { f =>
          val r = spark.read.parquet(f.getAbsolutePath)
            .agg(max(col(c)) - min(col(c))).head()
          r.getLong(0).toDouble
        }
      spans.sum / spans.length
    }
    // roundtrip: nothing lost, key order preserved within files
    assert(spark.read.parquet(s"$zdir/z").count() == 64L * 64L)
    // single-column sort: b unconstrained per file (span ≈ full 63)
    assert(meanSpan(ndir, "b") > 60.0)
    // z-order: BOTH spans a fraction of the domain (measured ≈ 36/63 —
    // curve runs that cross quadrant boundaries span more than the
    // quadrant itself, so the honest bound is ¾, not ½) where the
    // single-column sort leaves b at the FULL domain
    assert(meanSpan(s"$zdir/z", "a") < 48.0)
    assert(meanSpan(s"$zdir/z", "b") < 48.0)
  }

  test("z-ordered READ: parquet min/max stats prune the scan on both dims " +
      "(the q87 path) where an unclustered layout reads everything") {
    import graft.sources.ZOrder
    import org.apache.spark.sql.execution.FileSourceScanExec
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val b = li.agg(min(col("l_orderkey")), max(col("l_orderkey")),
      min(col("l_partkey")), max(col("l_partkey"))).head()
    val (amin, amax, bmin, bmax) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val dir = graft.TempDirs.create("graft_zread_")
    ZOrder.zorderWrite(li, ZOrder.zorderKey(
      col("l_orderkey"), lit(amin), lit(amax),
      col("l_partkey"), lit(bmin), lit(bmax), bits = 16), s"$dir/z", partitions = 16)
    // control: same 16 files, hash-scattered — every file's min/max spans
    // the full domain, so stats prune nothing
    li.repartition(16).write.mode("overwrite").parquet(s"$dir/n")
    val (aHi, bHi) = (amin + (amax - amin) / 8, bmin + (bmax - bmin) / 8)
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def run(path: String): (Long, Long, String) = {
        val agg = spark.read.parquet(path)
          .filter(col("l_orderkey").between(amin, aHi) &&
            col("l_partkey").between(bmin, bHi))
          .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("long")).as("sq"))
        // collect(), not head(): head() executes a separate limit-1
        // QueryExecution, leaving THIS plan's metrics untouched
        val row = agg.collect()(0)
        val scan = agg.queryExecution.executedPlan.collect {
          case s: FileSourceScanExec => s }.head
        (row.getLong(0), scan.metrics("numOutputRows").value,
          scan.metadata.getOrElse("PushedFilters", ""))
      }
      val (zN, zScanned, zPushed) = run(s"$dir/z")
      val (pN, pScanned, _) = run(s"$dir/n")
      // the ANSWER is layout-independent…
      assert(zN == pN && zN > 0, s"z=$zN plain=$pN")
      // …both range predicates reach the parquet reader…
      assert(zPushed.contains("l_orderkey") && zPushed.contains("l_partkey"),
        s"range predicates must be pushed: $zPushed")
      // …and the z-ordered scan materializes a FRACTION of the rows the
      // scattered layout does: row-group min/max stats skip on BOTH dims
      val total = li.count()
      assert(pScanned >= (total * 9) / 10,
        s"scattered layout should read ~everything, read $pScanned of $total")
      assert(zScanned * 4 <= total,
        s"z-ordered scan must skip most row groups: read $zScanned of $total")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevA)
  }

  test("3-dim z-ordered READ: min/max stats prune the scan on all three dims " +
      "(the q88 path) where an unclustered layout reads everything") {
    import graft.sources.ZOrder
    import org.apache.spark.sql.execution.FileSourceScanExec
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    val b = li.agg(min(col("l_orderkey")), max(col("l_orderkey")),
      min(col("l_partkey")), max(col("l_partkey")),
      min(col("l_suppkey")), max(col("l_suppkey"))).head()
    val (amin, amax, bmin, bmax, cmin, cmax) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3), b.getLong(4), b.getLong(5))
    val dir = graft.TempDirs.create("graft_zread3_")
    ZOrder.zorderWrite(li, ZOrder.zorderKeyN(Seq(
      (col("l_orderkey"), lit(amin), lit(amax)),
      (col("l_partkey"), lit(bmin), lit(bmax)),
      (col("l_suppkey"), lit(cmin), lit(cmax))), bits = 16), s"$dir/z", partitions = 16)
    li.repartition(16).write.mode("overwrite").parquet(s"$dir/n")
    val (aHi, bHi, cHi) = (amin + (amax - amin) / 8,
      bmin + (bmax - bmin) / 8, cmin + (cmax - cmin) / 8)
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def run(path: String): (Long, Long, String) = {
        val agg = spark.read.parquet(path)
          .filter(col("l_orderkey").between(amin, aHi) &&
            col("l_partkey").between(bmin, bHi) &&
            col("l_suppkey").between(cmin, cHi))
          .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("long")).as("sq"))
        val row = agg.collect()(0)
        val scan = agg.queryExecution.executedPlan.collect {
          case s: FileSourceScanExec => s }.head
        (row.getLong(0), scan.metrics("numOutputRows").value,
          scan.metadata.getOrElse("PushedFilters", ""))
      }
      val (zN, zScanned, zPushed) = run(s"$dir/z")
      val (pN, pScanned, _) = run(s"$dir/n")
      assert(zN == pN && zN > 0, s"z=$zN plain=$pN")
      assert(zPushed.contains("l_orderkey") && zPushed.contains("l_partkey") &&
        zPushed.contains("l_suppkey"),
        s"all three range predicates must be pushed: $zPushed")
      val total = li.count()
      assert(pScanned >= (total * 9) / 10,
        s"scattered layout should read ~everything, read $pScanned of $total")
      // 3-dim clustering is weaker per dim than 2-dim (each file spans
      // ~(1/16)^(1/3) of each domain), but three intersecting predicates
      // still prune most groups. Bound is ⅓, not ¼: at this fixture scale
      // pruning is FILE-granular (16 small files, one row group each), so
      // the materialized fraction moves in ~6% steps and file-size
      // unevenness around the 4-of-16-files outcome pushed 25.0% to 25.1%
      // (read 1507/6000) under one round's fixture — the skip behavior was
      // right, the row-exact bound wasn't granularity-aware
      assert(zScanned * 3 <= total,
        s"3-dim z-ordered scan must skip most row groups: read $zScanned of $total")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevA)
  }

  test("prefixLen yields the exact rational bound at fp-boundary thresholds") {
    import spark.implicits._
    // (ns, t, exact |s| - ceil(t*|s|) + 1). The first case is the fp trap:
    // 100 * 0.07 = 7.000000000000001 in doubles, naive ceil = 8 → prefix
    // one short of lossless. 0.29 * 200 = 57.99999999999999 rounds DOWN —
    // ceil already exact; EPS must not break it either.
    val cases = Seq((100L, 0.07, 94L), (200L, 0.29, 143L),
      (10L, 0.3, 8L), (100L, 0.5, 51L), (7L, 1.0, 1L), (9L, 1.0 / 3.0, 7L))
    for ((ns, t, want) <- cases) {
      val got = Seq(ns).toDF("ns").select(Dedup.prefixLen(col("ns"), t)).head().getLong(0)
      assert(got == want, s"prefixLen($ns, $t) = $got, want $want")
    }
  }

  test("polyHash matches the portable polynomial arithmetic") {
    import spark.implicits._
    // reference value computed independently in DuckDB:
    // list_reduce over ascii('hello') with (a*131+c) % 1e9+7
    val got = Seq("hello").toDF("s").select(Dedup.polyHash(col("s"))).head().getLong(0)
    assert(got == 856916412L)
  }

  test("simhash: identical docs collide at hamming 0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark native analytics engine for vectors"),
      (2L, "spark native analytics engine for vectors"),
      (3L, "unrelated text about databases and storage engines")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, 3).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L && r.getInt(2) == 0))
  }

  test("minhash pairs finds the near-dup clusters found by exact jaccard") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val exact = Dedup.ngramJaccardPairs(docs, 3, 0.5)
      .select("doc_a", "doc_b").collect().map(_.toSeq).toSet
    val mh = Dedup.minhashPairs(docs, 3, 0.5)
      .select("doc_a", "doc_b").collect().map(_.toSeq).toSet
    // LSH at the same threshold must recover a large majority of true pairs
    val hit = exact.count(mh.contains)
    assert(exact.isEmpty || hit.toDouble / exact.size >= 0.8,
      s"minhash recovered $hit/${exact.size}")
  }

  // ---------------- http serving tier --------------------------------------
  /** The Spark jobs started while `body` runs, counted by a listener. The
    * suite runs one test at a time, so every job started between the call
    * and a marker job submitted after `body` returns is `body`'s — also
    * the jobs a server thread runs to answer a request sent in `body`.
    */
  private def jobsDuring[A](body: => A): (Int, A) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val marker = "jobs-during-end"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      val a = body
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!started.contains(marker) && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(started.contains(marker), "the marker job never reached the listener")
      (started.toArray.count(_ != marker), a)
    } finally sc.removeSparkListener(listener)
  }

  test("HTTP service cold-starts from a saved index dir; spark engine opt-in agrees") {
    val dir = java.nio.file.Files.createTempDirectory("serve_idx").toString
    val (model, index) = RabitqIndex.build(spark, emb, numClusters = 8, seed = 3L)
    RabitqIndex.save(spark, model, index, dir)
    val port = {
      val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close()
    }
    val server = graft.Serve.start(spark, sf, port, Some(dir))
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      val qvec = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      def post(extra: String) = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"http://localhost:$port/query"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
            s"""{"query": ${qvec.mkString("[", ",", "]")}, "top_k": 5, "probe": 8$extra}"""))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).body()
      // the hot tier answers every request; a leftover "engine" field is
      // ignored. Its ids equal the batch ANN query over the same live
      // layout at the same probe and rerank (max(4·top_k, 64) = 64)
      import spark.implicits._
      val hot = graft.Serve.parseFloatArray(post(""), "ids").map(_.toLong).toSeq
      val withField = graft.Serve.parseFloatArray(post(""", "engine": "spark""""), "ids")
        .map(_.toLong).toSeq
      val (liveModel, live) = RabitqIndex.loadLive(spark, dir)
      val viaSpark = RabitqQuery.topK(spark, liveModel, live, emb,
          Seq((0L, qvec)).toDF("query_id", "qvec"), nprobe = 8, topk = 5, rerank = 64)
        .orderBy(col("rank")).select("neighbor_id").collect().map(_.getLong(0)).toSeq
      assert(hot == viaSpark, s"hot=$hot spark=$viaSpark")
      assert(withField == hot, s"with engine field=$withField hot=$hot")
      assert(hot.head == 0L)
    } finally server.stop(0)
  }

  test("serving under mutation: concurrent queries during /reload see old or new " +
      "index atomically, never a torn mix; swap takes effect") {
    val dirA = java.nio.file.Files.createTempDirectory("serve_mut_a").toString
    val dirB = java.nio.file.Files.createTempDirectory("serve_mut_b").toString
    val (model, index) = RabitqIndex.build(spark, emb, numClusters = 8, seed = 3L)
    RabitqIndex.save(spark, model, index, dirA)
    // mutation: delete vec_id % 7 == 3, upsert 20 new vectors 10000+i
    // whose embeddings copy vecs 0..19 — vec 10003 replaces deleted vec 3
    // exactly, so a query AT vec 3 flips its top-1 from 3 to 10003 on swap
    import spark.implicits._
    val newVecs = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    val kept = RabitqIndex.deleteVectors(index, emb.filter(col("vec_id") % 7 === 3)
      .select("vec_id"))
    val index2 = RabitqIndex.upsertVectors(spark, model, kept, newVecs)
    RabitqIndex.save(spark, model, index2, dirB)
    val base2Path = java.nio.file.Files.createTempDirectory("serve_mut_base").toString + "/b2"
    emb.filter(col("vec_id") % 7 =!= 3).select("vec_id", "embedding")
      .unionByName(newVecs).write.parquet(base2Path)

    val port = {
      val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close()
    }
    val server = graft.Serve.start(spark, sf, port, Some(dirA))
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      val qvec = emb.filter(col("vec_id") === 3)
        .select("embedding").head().getSeq[Float](0)
      val qbody = s"""{"query": ${qvec.mkString("[", ",", "]")}, "top_k": 10, "probe": 8}"""
      def query() = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"http://localhost:$port/query"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(qbody)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())

      val results = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Array[Long], Long)]()
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val threads = (0 until 4).map { _ =>
        val t = new Thread(() => {
          while (!stop.get()) {
            val t0 = System.nanoTime()
            val r = query()
            val dt = System.nanoTime() - t0
            val ids = if (r.statusCode() == 200)
              graft.Serve.parseFloatArray(r.body(), "ids").map(_.toLong) else Array.empty[Long]
            results.add((r.statusCode(), ids, dt))
          }
        })
        t.start(); t
      }
      Thread.sleep(300) // queries against the old engine
      val reload = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"http://localhost:$port/reload"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
            s"""{"index_dir": "$dirB", "base": "$base2Path"}"""))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(reload.statusCode() == 200, s"reload failed: ${reload.body()}")
      Thread.sleep(300) // queries against the new engine
      stop.set(true); threads.foreach(_.join(10000))

      val all = results.toArray(Array.empty[(Int, Array[Long], Long)])
      assert(all.nonEmpty && all.forall(_._1 == 200),
        s"non-200 during mutation: ${all.filter(_._1 != 200).take(3).mkString}")
      // atomicity: vec 3 exists ONLY pre-swap, ids >= 10000 ONLY
      // post-swap — one response containing both = a torn engine
      val torn = all.filter { case (_, ids, _) =>
        ids.contains(3L) && ids.exists(_ >= 10000L) }
      assert(torn.isEmpty, s"torn responses: ${torn.take(3).map(_._2.toSeq).mkString}")
      val preSwap = all.count(_._2.contains(3L))
      val postSwap = all.count(_._2.exists(_ >= 10000L))
      assert(preSwap > 0 && postSwap > 0,
        s"swap not straddled: pre=$preSwap post=$postSwap of ${all.length}")
      // the swap took effect deterministically: a fresh query's top-1 is
      // the upserted twin 10003, and no deleted id survives
      val after = query()
      val afterIds = graft.Serve.parseFloatArray(after.body(), "ids").map(_.toLong)
      assert(afterIds.head == 10003L || afterIds.head == 3L + 10000L, s"after: ${afterIds.toSeq}")
      assert(!afterIds.contains(3L))
      val lat = all.map(_._3).sorted
      info(f"under-mutation latency: n=${lat.length} p50=${lat(lat.length / 2) / 1e6}%.2f ms " +
        f"p99=${lat((lat.length * 99) / 100) / 1e6}%.2f ms")
    } finally server.stop(0)
  }

  test("serving a maintained layout respects the tombstone log on cold start " +
      "and /reload — deleted vectors never surface") {
    import spark.implicits._
    // a maintained dir: saved index + uncompacted deletes log tombstoning
    // vec 0 — the query IS vec 0's embedding, so serving the raw layout
    // would return the deleted id at rank 1
    val dirM = java.nio.file.Files.createTempDirectory("serve_maint").toString
    val (model, index) = RabitqIndex.build(spark, emb, numClusters = 8, seed = 3L)
    RabitqIndex.save(spark, model, index, dirM)
    Seq(0L, 7L).toDF("vec_id").write.parquet(s"$dirM/deletes")
    val port = {
      val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close()
    }
    val server = graft.Serve.start(spark, sf, port, Some(dirM))
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      val qvec = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      def post(path: String, body: String) = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"http://localhost:$port/$path"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      val qbody = s"""{"query": ${qvec.mkString("[", ",", "]")}, "top_k": 5, "probe": 8}"""
      def ids() = {
        val r = post("query", qbody)
        assert(r.statusCode() == 200, s"query failed: ${r.body()}")
        graft.Serve.parseFloatArray(r.body(), "ids").map(_.toLong).toSeq
      }
      // cold start from the maintained dir: tombstones are excluded
      assert(!ids().contains(0L) && !ids().contains(7L), s"hot resurrected: ${ids()}")
      // /reload of the same maintained dir: the reload path must apply the
      // log too (a raw load here would resurrect vec 0 post-swap). Its jobs
      // are pinned: the base read, the hot tier's two collects (which also
      // check the base's dim), the footer row count and the distinct log
      // count — no dim probe, checkpoint, base count or Spark-side label
      // join (22 jobs when the snapshot also kept Spark frames, 10 with the
      // dim probe and a scan row count)
      val (reloadJobs, reload) = jobsDuring(post("reload", s"""{"index_dir": "$dirM"}"""))
      assert(reload.statusCode() == 200, s"reload failed: ${reload.body()}")
      assert(reloadJobs <= 8, s"one /reload ran $reloadJobs Spark jobs")
      val after = ids()
      assert(!after.contains(0L) && !after.contains(7L), s"reload resurrected: $after")
      assert(after.nonEmpty)
      // /describe reports the LIVE engine's health, FIELD-FOR-FIELD equal
      // to RabitqIndex.describeIndex over the same dir — tombstone-debt
      // half included (this dir carries an uncompacted log, so an ops
      // loop polling the serving tier can schedule compaction, not just
      // rebalance): serve report ≡ dir report ≡ (via the rebalance
      // spec) the op's own criterion
      // served from the hot tier's cluster sizes: no Spark job per call
      val (describeJobs, descResp) = jobsDuring(post("describe", ""))
      assert(describeJobs == 0, s"/describe ran $describeJobs Spark jobs")
      val desc = descResp.body()
      def jsonLong(k: String): Long =
        ("\"" + k + "\":(-?\\d+)").r.findFirstMatchIn(desc).get.group(1).toLong
      def jsonDouble(k: String): Double =
        ("\"" + k + "\":([-0-9.eE]+)").r.findFirstMatchIn(desc).get.group(1).toDouble
      def jsonBool(k: String): Boolean =
        ("\"" + k + "\":(true|false)").r.findFirstMatchIn(desc).get.group(1).toBoolean
      val stats = RabitqIndex.describeIndex(spark, dirM).head()
      assert(jsonLong("n_live") == stats.getAs[Long]("n_live"), desc)
      assert(jsonLong("n_live") == emb.count() - 2)
      assert(jsonLong("num_clusters") == stats.getAs[Int]("num_clusters").toLong)
      assert(jsonLong("max_cluster_size") == stats.getAs[Long]("max_cluster_size"))
      assert(jsonLong("clusters_oversized") ==
        stats.getAs[Int]("clusters_oversized").toLong)
      assert(jsonLong("n_rows") == stats.getAs[Long]("n_rows"), desc)
      assert(jsonLong("n_rows") == emb.count())
      assert(jsonLong("n_tombstones") == stats.getAs[Long]("n_tombstones"), desc)
      assert(jsonLong("n_tombstones") == 2L)
      assert(math.abs(jsonDouble("tombstone_debt") -
        stats.getAs[Double]("tombstone_debt")) < 1e-12, desc)
      assert(jsonDouble("tombstone_debt") > 0.0)
      assert(math.abs(jsonDouble("mean_cluster_size") -
        stats.getAs[Double]("mean_cluster_size")) < 1e-9, desc)
      assert(math.abs(jsonDouble("skew") - stats.getAs[Double]("skew")) < 1e-9, desc)
      assert(jsonBool("needs_rebalance") == stats.getAs[Boolean]("needs_rebalance"), desc)
      // an UNLABELED base that lacks one indexed, live vec_id is refused
      // at reload like a labeled one (else every query shortlisting that
      // row would fail), and the old engine keeps serving
      val shortBase = java.nio.file.Files.createTempDirectory("serve_maint_base")
        .toString + "/b"
      emb.filter(col("vec_id") =!= 5L).select("vec_id", "embedding").write.parquet(shortBase)
      val bad = post("reload", s"""{"index_dir": "$dirM", "base": "$shortBase"}""")
      assert(bad.statusCode() == 400, s"short base reloaded: ${bad.body()}")
      assert(bad.body().contains("no vec_id in the base"), bad.body())
      assert(ids() == after, s"old engine lost: ${ids()} vs $after")
    } finally server.stop(0)
  }

  test("Serve: a /reload of a wrong-dim or an empty base answers 400 with " +
      "its message, and the old engine keeps serving") {
    val dir = java.nio.file.Files.createTempDirectory("serve_bad_base").toString
    val (model, index) = RabitqIndex.build(spark, emb, numClusters = 8, seed = 3L)
    RabitqIndex.save(spark, model, index, dir)
    // the wrong dim sits past the first row: the check covers every row
    val wrongDim = s"$dir-bases/wrong_dim"
    emb.select(col("vec_id"), when(col("vec_id") === emb.agg(max("vec_id")).head().getLong(0),
        slice(col("embedding"), 1, model.params.dim - 1))
      .otherwise(col("embedding")).as("embedding"))
      .orderBy("vec_id").write.parquet(wrongDim)
    val empty = s"$dir-bases/empty"
    emb.limit(0).select("vec_id", "embedding").write.parquet(empty)
    val port = {
      val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close()
    }
    val server = graft.Serve.start(spark, sf, port, Some(dir))
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      def post(path: String, body: String) = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"http://localhost:$port/$path"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      val qvec = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
      def ids() = {
        val r = post("query", s"""{"query": ${qvec.mkString("[", ",", "]")}, "top_k": 5}""")
        assert(r.statusCode() == 200, s"query failed: ${r.body()}")
        graft.Serve.parseFloatArray(r.body(), "ids").map(_.toLong).toSeq
      }
      val before = ids()
      assert(before.head == 0L, s"unexpected first answer: $before")
      for ((base, msg) <- Seq(wrongDim -> s"saved index dim ${model.params.dim} != base embedding dim",
          empty -> "are empty — nothing to serve")) {
        val r = post("reload", s"""{"index_dir": "$dir", "base": "$base"}""")
        assert(r.statusCode() == 400 && r.body().contains(msg),
          s"reload over $base: ${r.statusCode()} ${r.body()}")
        assert(ids() == before, "a refused reload must leave the old engine serving")
      }
    } finally server.stop(0)
  }

  test("Serve: compactIndex after maintainIndex in the serving session keeps " +
      "the streamed adds, and /reload serves them — no cache refresh needed") {
    // the serving snapshot must not be a cache entry keyed by the layout
    // path: maintainIndex publishes its files by staging + rename, which
    // no Spark writer recaches, so a path-keyed entry would answer
    // compactIndex's read of the layout with the pre-stream rows
    import org.apache.spark.sql.functions.lit
    val sfDir = java.nio.file.Files.createTempDirectory("serve_stale_sf").toString
    val basePath = s"$sfDir/embeddings.parquet"
    // label-free base: the served index frame is the plain layout scan
    emb.filter(col("vec_id") < 200).select("vec_id", "embedding").write.parquet(basePath)
    val idxDir = java.nio.file.Files.createTempDirectory("serve_stale_idx").toString
    val (model, index) = RabitqIndex.build(spark, spark.read.parquet(basePath),
      numClusters = 4, seed = 11L)
    RabitqIndex.save(spark, model, index, idxDir)
    val port = {
      val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close()
    }
    val server = graft.Serve.start(spark, sfDir, port, Some(idxDir))
    try {
      val opsDir = java.nio.file.Files.createTempDirectory("serve_stale_ops").toString
      val adds = emb.filter(col("vec_id") >= 200 && col("vec_id") < 240)
        .select("vec_id", "embedding")
      adds.select(lit("add").as("op"), col("vec_id"), col("embedding"))
        .coalesce(1).write.parquet(s"$opsDir/in")
      graft.streaming.VecsStream.maintainIndex(spark, s"$opsDir/in", idxDir,
        s"$opsDir/ckpt", model, "serve_stale_spec")
      adds.write.mode("append").parquet(basePath)
      graft.streaming.VecsStream.compactIndex(spark, idxDir)
      val expected = (0L until 240L).toSet
      val (_, live) = RabitqIndex.loadLive(spark, idxDir)
      assert(live.select("vec_id").collect().map(_.getLong(0)).toSet == expected,
        "compaction must keep the streamed adds")

      val client = java.net.http.HttpClient.newHttpClient()
      def post(path: String, body: String) = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"http://localhost:$port/$path"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      val reload = post("reload", s"""{"index_dir": "$idxDir", "base": "$basePath"}""")
      assert(reload.statusCode() == 200, s"reload failed: ${reload.body()}")
      assert(reload.body().contains("\"n_base\":240"), reload.body())
      val desc = post("describe", "").body()
      assert(desc.contains("\"n_live\":240"), desc)
      val qvec = emb.filter(col("vec_id") === 230)
        .select("embedding").head().getSeq[Float](0)
      val resp = post("query",
        s"""{"query": ${qvec.mkString("[", ",", "]")}, "top_k": 5, "probe": 4}""").body()
      assert(graft.Serve.parseFloatArray(resp, "ids").head.toLong == 230L, resp)
    } finally server.stop(0)
  }

  test("HTTP label-filtered queries: hot tier and spark engine agree and equal " +
      "filtered brute force; absent label returns empty") {
    val port = {
      val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close()
    }
    val server = graft.Serve.start(spark, sf, port)
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      val qvec = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      def post(extra: String) = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"http://localhost:$port/query"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
            s"""{"query": ${qvec.mkString("[", ",", "]")}, "top_k": 5, "probe": 4$extra}"""))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).body()
      val hot = graft.Serve.parseFloatArray(post(""", "label": 7"""), "ids").map(_.toLong)
      // the batch filtered query over the index the server trains (its
      // recipe: √n clusters, seed 42) with the base's labels joined in, at
      // the same probe and rerank (max(4·top_k, 64) = 64)
      import spark.implicits._
      val q = Seq((0L, qvec)).toDF("query_id", "qvec")
      val k = math.max(16, math.min(1024, math.sqrt(emb.count().toDouble).toInt))
      val (model, index) = RabitqIndex.build(spark, emb, numClusters = k, seed = 42L)
      val labeled = index.join(emb.select("vec_id", "label"), Seq("vec_id"))
      def viaSpark(label: Long) = RabitqQuery.filteredTopK(spark, model, labeled, emb, q,
          col("label") === label, nprobe = 4, topk = 5, rerank = 64)
        .orderBy(col("rank")).select("neighbor_id").collect().map(_.getLong(0)).toSeq
      assert(hot.toSeq == viaSpark(7L), s"hot=${hot.toSeq} spark=${viaSpark(7L)}")
      // widening saturates to full probe at this scale and the rerank
      // width covers the filtered set ⇒ exactly filtered brute force
      val want = ExactKnn.l2TopK(emb.filter(col("label") === 7), q, 5)
        .orderBy(col("rank")).select("neighbor_id")
        .collect().map(_.getLong(0)).toSeq
      assert(hot.toSeq == want, s"got=${hot.toSeq} want=$want")
      // every returned id actually carries the label
      val lbl7 = emb.filter(col("label") === 7).select("vec_id")
        .collect().map(_.getLong(0)).toSet
      assert(hot.forall(lbl7.contains))
      // a label with no members: empty result, 200, like the batch query
      assert(graft.Serve.parseFloatArray(post(""", "label": 99999"""), "ids").isEmpty)
      assert(viaSpark(99999L).isEmpty)
    } finally server.stop(0)
  }

  test("Serve: a labeled base with duplicate vec_ids is rejected at engine " +
      "build instead of silently multiplying index rows") {
    import spark.implicits._
    val vecs = (0L until 32L).map(i =>
      (i, Array.tabulate(8)(j => (i * 8 + j).toFloat).toSeq, i % 3))
    // labeled and unlabeled alike: an unlabeled duplicate would silently
    // keep one of its two embeddings for the rerank
    for (labeled <- Seq(true, false)) {
      val tmp = java.nio.file.Files.createTempDirectory("serve_dup").toString
      (vecs :+ vecs.head).toDF("vec_id", "embedding", "label")
        .select(Seq(col("vec_id"), col("embedding").cast("array<float>").as("embedding")) ++
          (if (labeled) Seq(col("label")) else Nil): _*)
        .write.parquet(s"$tmp/embeddings.parquet")
      val e = intercept[IllegalArgumentException] {
        graft.Serve.start(spark, tmp, 0)
      }
      assert(e.getMessage.contains("duplicate vec_ids"), s"labeled=$labeled: ${e.getMessage}")
    }
  }

  test("HTTP query service answers /query, /health, /metrics") {
    val port = {
      val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close()
    }
    val server = graft.Serve.start(spark, sf, port)
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      def get(path: String) = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"http://localhost:$port$path")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).body()
      assert(get("/health") == "OK")

      val qvec = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      val body = s"""{"query": ${qvec.mkString("[", ",", "]")}, "top_k": 5, "probe": 16}"""
      val resp = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"http://localhost:$port/query"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).body()
      val ids = graft.Serve.parseFloatArray(resp, "ids").map(_.toLong)
      assert(ids.length == 5 && ids.head == 0L, s"unexpected response: $resp")

      assert(get("/metrics").contains("\"queries_served\":1"))
      // malformed request → 400, service stays up
      val bad = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"http://localhost:$port/query"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString("{}")).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(bad.statusCode() == 400)
      assert(get("/health") == "OK")

      // V4 graceful shutdown: the listener closes (new connections
      // refused) after in-flight exchanges drain — reference parity with
      // axum's with_graceful_shutdown
      graft.Serve.gracefulStop(server, drainSeconds = 2)
      val refused =
        try { get("/health"); false }
        catch { case _: java.io.IOException => true }
      assert(refused, "listener still accepting after graceful stop")
    } finally {
      try server.stop(0) catch { case _: Throwable => () }
    }
  }

  // ---------------- asof join ----------------------------------------------
  test("asof join: latest right row at-or-before, ties broken, unmatched null-filled") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100L, 9.0),
      (2L, ts("2024-01-01 10:05:00"), 100L, 9.5),
      (3L, ts("2024-01-01 10:05:00"), 100L, 9.6), // same ts as id 2 — tiebreak by id
      (4L, ts("2024-01-01 09:00:00"), 200L, 5.0)
    ).toDF("q_id", "q_ts", "q_key", "price")
    val trades = Seq(
      (10L, ts("2024-01-01 10:07:00"), 100L), // → quote 3 (tie winner at 10:05)
      (11L, ts("2024-01-01 10:00:00"), 100L), // → quote 1 (exactly at)
      (12L, ts("2024-01-01 08:00:00"), 200L), // → no quote yet → nulls
      (13L, ts("2024-01-01 12:00:00"), 300L)  // → key never quoted → nulls
    ).toDF("t_id", "t_ts", "t_key")
    val got = AsofJoin.asof(trades, quotes, "t_key", "q_key", "t_ts", "q_ts", "q_id")
      .select("t_id", "q_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got == Map(10L -> 3L, 11L -> 1L, 12L -> -1L, 13L -> -1L))
  }

  test("asof join: null right timestamp never matches") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq((1L, ts("2024-01-01 10:00:00"))).toDF("k", "ts")
    val right = Seq(
      (1L, Option.empty[java.sql.Timestamp], 7L),
      (1L, Some(ts("2024-01-01 09:00:00")), 8L)
    ).toDF("rk", "rts", "rid")
    val got = AsofJoin.asof(left, right, "k", "rk", "ts", "rts", "rid")
      .select("rid").head()
    assert(got.getLong(0) == 8L) // the null-ts row 7 must not win
  }

  test("asof join: null keys never match (NULL = NULL is not a join match)") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (Option.empty[Long], 10L, ts("2024-01-01 10:00:00")),
      (Some(1L), 11L, ts("2024-01-01 10:00:00"))
    ).toDF("k", "lid", "ts")
    val right = Seq(
      (Option.empty[Long], ts("2024-01-01 09:00:00"), 7L), // null key: matches nothing
      (Some(1L), ts("2024-01-01 09:00:00"), 8L)
    ).toDF("rk", "rts", "rid")
    val got = AsofJoin.asof(left, right, "k", "rk", "ts", "rts", "rid")
      .select("lid", "rid").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    // left-outer: the null-key left row survives, unmatched
    assert(got == Map(10L -> -1L, 11L -> 8L))
  }

  test("asof join: null tieBreak loses a timestamp tie (max_by semantics)") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq((1L, ts("2024-01-01 10:00:00"))).toDF("k", "ts")
    val right = Seq(
      (1L, ts("2024-01-01 09:00:00"), Option.empty[Long], 111.0), // null tb at same ts
      (1L, ts("2024-01-01 09:00:00"), Some(5L), 222.0)
    ).toDF("rk", "rts", "rid", "payload")
    val got = AsofJoin.asof(left, right, "k", "rk", "ts", "rts", "rid")
      .select("payload").head()
    assert(got.getDouble(0) == 222.0) // non-null tieBreak must win the tie
  }

  test("asof join preserves fully-duplicate left rows") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-01 10:00:00")), // exact duplicate — must survive
      (1L, ts("2024-01-01 11:00:00"))
    ).toDF("k", "ts")
    val right = Seq((1L, ts("2024-01-01 09:00:00"), 7L)).toDF("rk", "rts", "rid")
    val got = AsofJoin.asof(left, right, "k", "rk", "ts", "rts", "rid")
      .select("k", "ts", "rid").collect()
    assert(got.length == 3)
    assert(got.forall(_.getLong(2) == 7L))
  }

  test("asof join equals reference semantics on randomized data (nulls, dups, ties)") {
    import spark.implicits._
    // brute-force reference: for each left row, the right row with equal
    // non-null key, non-null ts <= left ts, max (ts, tieBreak) with NULL
    // tieBreak ordering smallest — i.e. max_by(struct(ts, tb)) over an
    // equi-join, computed driver-side
    val rnd = new scala.util.Random(42)
    def optKey() = if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(5).toLong)
    val left = (0 until 200).map(i =>
      (i.toLong, optKey(), rnd.nextInt(100).toLong))            // (lid, k, ts)
    val right = (0 until 200).map(i =>
      (optKey(), if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(100).toLong),
        if (rnd.nextInt(8) == 0) None else Some(i.toLong)))     // (rk, rts, tb)
    // duplicate some left rows exactly
    val leftAll = left ++ left.take(20)
    val expect = leftAll.map { case (lid, k, ts) =>
      val matches = right.filter(r => k.isDefined && r._1 == k && r._2.exists(_ <= ts))
      val best = if (matches.isEmpty) None
        else Some(matches.maxBy(r => (r._2.get, r._3.getOrElse(Long.MinValue))))
      (lid, k, ts, best.flatMap(_._3))
    }.groupBy(identity).view.mapValues(_.size).toMap
    val l = leftAll.toDF("lid", "k", "ts")
    val r = right.toDF("rk", "rts", "tb")
    val got = AsofJoin.asof(l, r, "k", "rk", "ts", "rts", "tb")
      .collect().map(row => (
        row.getLong(0),
        if (row.isNullAt(1)) None else Some(row.getLong(1)),
        row.getLong(2),
        if (row.isNullAt(5)) None else Some(row.getLong(5))))
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(got == expect,
      s"diff: ${(got.toSet diff expect.toSet).take(5)} / ${(expect.toSet diff got.toSet).take(5)}")
  }

  test("asof join hot key: O(L+R), no per-key fan-out, no join in the plan") {
    import spark.implicits._
    val n = 10000L
    // one key holds ALL left and right rows — the fan-out shape would
    // materialize 10^8 intermediate pairs here
    val left = spark.range(n).select(lit(1L).as("k"), col("id").as("lts"), col("id").as("event"))
    val right = spark.range(n).select(lit(1L).as("rk"), col("id").as("rts"), (col("id") * 10).as("rid"))
    val res = AsofJoin.asof(left, right, "k", "rk", "lts", "rts", "rid")
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan) // union + window: no join operator at all
    assert(res.count() == n)
    val sample = res.filter(col("event") === 5000L).select("rid").head().getLong(0)
    assert(sample == 50000L) // inclusive: right ts 5000 matches left ts 5000
  }

  // ---------------- frame sampling boundaries ------------------------------
  test("frameSample boundary arithmetic: exact multiple, single frame, remainder") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a" * 100),   // single frame, shorter than frameBytes
      (2L, "b" * 256),   // exactly one full frame
      (3L, "c" * 512),   // exactly two full frames (last len must be 256, not 0)
      (4L, "d" * 300)    // full frame + remainder 44
    ).toDF("doc_id", "text")
    val media = Multimodal.mediaFromDocuments(docs)
    val frames = Multimodal.frameSample(media, 256)
      .select("media_id", "frame_idx", "frame_len").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(frames == Map(
      (1L, 0L) -> 100L,
      (2L, 0L) -> 256L,
      (3L, 0L) -> 256L, (3L, 1L) -> 256L,
      (4L, 0L) -> 256L, (4L, 1L) -> 44L))
    // frames reassemble the payload byte-for-byte
    val re = Multimodal.frameSample(media, 256)
      .groupBy("media_id")
      .agg(sum(length(col("frame"))).as("total"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(re == Map(1L -> 100L, 2L -> 256L, 3L -> 512L, 4L -> 300L))
  }

  // ---------------- text edge cases ----------------------------------------
  test("text operators handle empty / whitespace / single-token docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, ""), (2L, "   "), (3L, "word"), (4L, "two words"),
      (5L, "the the the")
    ).toDF("doc_id", "text")
    val toks = docs.select(col("doc_id"), TextOps.tokenCount(col("text")).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(toks == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 2L, 5L -> 3L))
    // quality features must not NaN/divide-by-zero on empty docs
    val q = TextOps.qualityFeatures(docs).collect()
    q.foreach { r =>
      (1 until r.length).foreach { i =>
        val v = r.get(i)
        v match {
          case d: Double => assert(!d.isNaN && !d.isInfinite, s"row $r col $i")
          case _ =>
        }
      }
    }
    // shingling skips docs below n tokens, keeps the rest
    assert(Dedup.shingles(docs, 3).select("doc_id").distinct().count() == 1) // only doc 5
    // fingerprints defined for empty strings
    val fp = docs.select(col("doc_id"), TextOps.fingerprint(col("text")).as("f"),
      TextOps.rollingHash(col("text")).as("rh")).collect()
    assert(fp.length == 5 && fp.forall(_.get(1) != null))
  }

  // ---------------- bucketed co-located join ------------------------------
  test("bucketed tables join without a shuffle") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val o = spark.read.parquet(s"$sf/orders.parquet")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_bucketed")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("o_bucketed")
    val joined = spark.table("li_bucketed")
      .join(spark.table("o_bucketed").hint("shuffle_merge"),
        col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    // bucket layout satisfies the join's distribution: no Exchange on
    // either side (the co-located-join pattern for repeated big joins)
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(3000))
    assert(joined.count() == li.count())
  }

  // ---------------- approximate distinct ----------------------------------
  test("approx_count_distinct lands within its error bound") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val exact = li.select(countDistinct(col("l_partkey"))).head().getLong(0)
    val approx = li.select(approx_count_distinct(col("l_partkey"), 0.02)).head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.1,
      s"approx $approx vs exact $exact")
  }

  // ---------------- streaming dedup ---------------------------------------
  test("streaming dedup drops duplicate fingerprints within the watermark") {
    import org.apache.spark.sql.streaming.Trigger
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("stream_docs").toString
    // plant exact duplicates: every doc twice
    docs.union(docs).coalesce(1).write.mode("overwrite").parquet(dir)
    val q = spark.readStream
      .schema(docs.schema)
      .parquet(dir)
      .withColumn("fp", md5(col("text")))
      .withColumn("ts", current_timestamp())
      .withWatermark("ts", "1 hour")
      .dropDuplicates("fp")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("dedup_stream").count()
    assert(got == docs.select("text").distinct().count(),
      s"streamed $got distinct docs")
  }

  test("streaming ANN ingest: foreachBatch appends encoded vectors to the saved index") {
    // bootstrap the index from the first 250 vectors, then stream the rest
    // in and append their encodings batch-by-batch (frozen model — the
    // production shape for continuous ingest: encode is a narrow pass,
    // re-clustering happens on a schedule, not per batch). Multi-file
    // write + maxFilesPerTrigger=1 forces real multi-batch appends.
    val first = emb.filter(col("vec_id") < 250)
    val rest = emb.filter(col("vec_id") >= 250)
    val (model, index0) = RabitqIndex.build(spark, first, numClusters = 8, seed = 4L)
    val idxDir = java.nio.file.Files.createTempDirectory("stream_idx").toString
    RabitqIndex.save(spark, model, index0, idxDir)
    val srcDir = java.nio.file.Files.createTempDirectory("stream_vecs").toString
    rest.select("vec_id", "embedding").repartition(3)
      .write.mode("overwrite").parquet(srcDir)
    graft.streaming.VecsStream.appendToIndex(spark, srcDir, idxDir,
      s"$srcDir/ckpt", model, "ann_ingest_spec", maxFilesPerTrigger = Some(1))
    // reload: streamed-in rows are part of the index; full probe + full
    // rerank over the merged index must equal brute force exactly
    val (model2, index2) = RabitqIndex.load(spark, idxDir)
    assert(index2.count() == emb.count())
    val qs = ExactKnn.queriesFromEmbeddings(emb, 10)
    val truth = ExactKnn.l2TopK(emb, qs, 10)
    val res = RabitqQuery.topK(spark, model2, index2, emb, qs, 8, 10, 4096)
    assert(ExactKnn.recall(res, truth, 10).head().getDouble(0) == 1.0)
  }

  test("VecsStream.maintainIndex: streamed adds + tombstoned deletes, del-before-add " +
      "terminal, compaction folds the log without changing the live set") {
    import org.apache.spark.sql.functions.lit
    val initial = emb.filter(col("vec_id") < 200)
    val adds = emb.filter(col("vec_id") >= 200 && col("vec_id") < 260)
    val delIds = Seq(5L, 210L, 255L) // one initial row, two streamed-in rows
    val (model, index0) = RabitqIndex.build(spark, initial, numClusters = 4, seed = 11L)
    val idxDir = java.nio.file.Files.createTempDirectory("maint_idx").toString
    RabitqIndex.save(spark, model, index0, idxDir)
    val srcDir = java.nio.file.Files.createTempDirectory("maint_ops").toString
    // file 0: the deletes (earliest mtime ⇒ FIRST micro-batch — the
    // del-before-add order for 210/255, which tombstone-wins makes
    // equivalent to any other order); files 1-2: the adds
    import spark.implicits._
    delIds.toDF("vec_id")
      .select(lit("del").as("op"), col("vec_id"),
        lit(null).cast("array<float>").as("embedding"))
      .coalesce(1).write.parquet(s"$srcDir/in")
    Thread.sleep(1100)
    adds.select(lit("add").as("op"), col("vec_id"), col("embedding"))
      .repartition(2).write.mode("append").parquet(s"$srcDir/in")
    graft.streaming.VecsStream.maintainIndex(spark, s"$srcDir/in", idxDir,
      s"$srcDir/ckpt", model, "maint_spec", maxFilesPerTrigger = Some(1))
    val expected = ((0L until 200L) ++ (200L until 260L)).toSet -- delIds
    val (m2, live) = RabitqIndex.loadLive(spark, idxDir)
    assert(live.select("vec_id").collect().map(_.getLong(0)).toSet == expected,
      "live set after stream must be (initial ∪ adds) ∖ dels")
    // exactness through the maintained index: full probe + full rerank
    val baseFinal = emb.filter(col("vec_id") < 260 && !col("vec_id").isin(delIds: _*))
    val qs = ExactKnn.queriesFromEmbeddings(emb, 5)
    val truth = ExactKnn.l2TopK(baseFinal, qs, 10)
    val res = RabitqQuery.topK(spark, m2, live, baseFinal, qs, 4, 10, 4096)
    assert(ExactKnn.recall(res, truth, 10).head().getDouble(0) == 1.0)
    // materialize before compaction: res's plan reads the tombstone
    // files compaction is about to fold in and delete
    val resRows = res.collect().map(_.toSeq).toSet
    // the DISK query path reads through loadLive, so the uncompacted
    // tombstone log is respected there too — same rows as the
    // in-memory maintained read (a raw load would resurrect 5/210/255)
    val fromDisk = RabitqQuery.topKFromDisk(spark, idxDir, baseFinal, qs, 4, 10, 4096)
    assert(fromDisk.collect().map(_.toSeq).toSet == resRows,
      "topKFromDisk must apply the tombstone log")
    // compaction folds the tombstones in and the NEW generation starts
    // with no log (the folded log is retired with its generation, not
    // deleted — retention); the live set and search results are unchanged
    graft.streaming.VecsStream.compactIndex(spark, idxDir)
    assert(!new java.io.File(RabitqIndex.tombstoneLogDir(idxDir)).exists,
      "active generation must start with no log")
    val (m3, live2) = RabitqIndex.loadLive(spark, idxDir)
    assert(live2.select("vec_id").collect().map(_.getLong(0)).toSet == expected)
    val res2 = RabitqQuery.topK(spark, m3, live2, baseFinal, qs, 4, 10, 4096)
    assert(res2.collect().map(_.toSeq).toSet == resRows)
    // with the log folded in, loadLive is PLAN-IDENTICAL to the raw load
    // (the documented no-op contract — the disk query paths pay nothing
    // for tombstone support on a compacted layout)
    val (_, rawIdx) = RabitqIndex.load(spark, idxDir)
    assert(live2.queryExecution.analyzed.sameResult(rawIdx.queryExecution.analyzed),
      "loadLive over a log-free layout must be the raw load's plan")
  }

  test("compactIndex: versioned rewrite + atomic MANIFEST swap — readers see " +
      "old-or-new, never partial; a crashed cycle retries to convergence") {
    import spark.implicits._
    val idxDir = java.nio.file.Files.createTempDirectory("compact_v").toString
    val initial = emb.filter(col("vec_id") < 300)
    val (model, index0) = RabitqIndex.build(spark, initial, numClusters = 4, seed = 7L)
    RabitqIndex.save(spark, model, index0, idxDir)
    Seq(3L, 5L, 11L).toDF("vec_id").write.parquet(s"$idxDir/deletes")
    val dels = Set(3L, 5L, 11L)
    val expected = (0L until 300L).toSet -- dels
    def liveIds(): Set[Long] = RabitqIndex.loadLive(spark, idxDir)._2
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // CRASH BEFORE THE SWAP: the distributed rewrite completed but the
    // MANIFEST never moved — readers must resolve the OLD generation +
    // log (correct live set); the new dir is invisible
    val next = graft.streaming.VecsStream.compactRewrite(spark, RabitqIndex.resolve(idxDir))
    assert(next == "index-v2" && new java.io.File(s"$idxDir/$next").exists)
    assert(!new java.io.File(s"$idxDir/MANIFEST").exists)
    assert(RabitqIndex.indexDataDir(idxDir) == s"$idxDir/index",
      "pre-swap readers must still resolve the old generation")
    assert(liveIds() == expected)
    // a RETRY of the rewrite (mode overwrite) is idempotent
    assert(graft.streaming.VecsStream.compactRewrite(spark, RabitqIndex.resolve(idxDir)) == "index-v2")
    // CRASH AFTER THE RETIRE MARKER, BEFORE THE MANIFEST MOVE: the old
    // generation is marked retired but still active — readers resolve it
    // (with its log); the retry converges to v2 (not v3 — the rewrite
    // re-runs and the SAME swap lands)
    RabitqIndex.markRetired(idxDir, "index")
    assert(RabitqIndex.indexDataDir(idxDir) == s"$idxDir/index")
    assert(liveIds() == expected)
    graft.streaming.VecsStream.compactIndex(spark, idxDir)
    assert(RabitqIndex.indexDataDir(idxDir) == s"$idxDir/index-v2")
    assert(liveIds() == expected)
    // RETENTION: the swap deletes NOTHING inline — the old generation and
    // its folded log stay for in-flight readers; the new generation's
    // per-generation log is empty
    assert(new java.io.File(s"$idxDir/index").exists,
      "old generation must be retained for in-flight readers")
    assert(new java.io.File(s"$idxDir/deletes").exists,
      "folded log must be retained with its generation")
    assert(new java.io.File(s"$idxDir/_retired/index").exists)
    assert(RabitqIndex.tombstoneLogDir(idxDir) == s"$idxDir/deletes-v2")
    assert(!new java.io.File(s"$idxDir/deletes-v2").exists)
    // next maintenance cycle stacks generations: new tombstones land in
    // the ACTIVE generation's log → v3
    Seq(20L).toDF("vec_id").write.parquet(RabitqIndex.tombstoneLogDir(idxDir))
    graft.streaming.VecsStream.compactIndex(spark, idxDir)
    assert(RabitqIndex.indexDataDir(idxDir) == s"$idxDir/index-v3")
    assert(liveIds() == expected - 20L)
    // compaction CONSOLIDATES files: ~one part file per cluster in the
    // new generation, regardless of how fragmented appends left the old
    // one (the footer-describe and scan-listing costs are file-count-bound)
    val v3Files = Option(new java.io.File(s"$idxDir/index-v3").listFiles())
      .get.filter(_.getName.startsWith("cluster_id="))
      .map(d => d.listFiles().count(_.getName.endsWith(".parquet")))
    assert(v3Files.nonEmpty && v3Files.forall(_ <= 2),
      s"compacted generation still fragmented: ${v3Files.mkString(",")}")
    // search through the multi-generation layout stays exact
    val baseFinal = initial.filter(!col("vec_id").isin((dels + 20L).toSeq: _*))
    val qs = ExactKnn.queriesFromEmbeddings(emb, 5)
    val truth = ExactKnn.l2TopK(baseFinal, qs, 10)
    val (m2, live2) = RabitqIndex.loadLive(spark, idxDir)
    val res = RabitqQuery.topK(spark, m2, live2, baseFinal, qs, 4, 10, 4096)
    assert(ExactKnn.recall(res, truth, 10).head().getDouble(0) == 1.0)
    // save() RESETS to generation zero: manifest, versioned dirs,
    // retired logs, and retirement markers all gone
    RabitqIndex.save(spark, m2, live2, idxDir)
    assert(RabitqIndex.indexDataDir(idxDir) == s"$idxDir/index")
    assert(!new java.io.File(s"$idxDir/MANIFEST").exists)
    assert(!new java.io.File(s"$idxDir/index-v3").exists)
    assert(!new java.io.File(s"$idxDir/deletes").exists)
    assert(!new java.io.File(s"$idxDir/deletes-v2").exists)
    assert(!new java.io.File(s"$idxDir/_retired").exists)
    assert(liveIds() == expected - 20L)
  }

  test("retention window: a reader's DataFrame over the OLD generation " +
      "survives a compaction swap; vacuum honors retainMs") {
    import spark.implicits._
    val idxDir = java.nio.file.Files.createTempDirectory("retain").toString
    val initial = emb.filter(col("vec_id") < 300)
    val (model, index0) = RabitqIndex.build(spark, initial, numClusters = 4, seed = 7L)
    RabitqIndex.save(spark, model, index0, idxDir)
    Seq(3L, 5L).toDF("vec_id").write.parquet(s"$idxDir/deletes")
    // an in-flight reader: resolves the OLD generation + log BEFORE the
    // swap (the plan holds concrete file paths once executed; collect
    // AFTER the swap must still see intact files — pre-retention, the
    // swap's inline delete turned exactly this into file-not-found)
    val preSwap = RabitqIndex.loadLive(spark, idxDir)._2
    val expected = (0L until 300L).toSet -- Set(3L, 5L)
    graft.streaming.VecsStream.compactIndex(spark, idxDir)
    assert(RabitqIndex.indexDataDir(idxDir) == s"$idxDir/index-v2")
    assert(preSwap.select("vec_id").collect().map(_.getLong(0)).toSet == expected,
      "pre-swap reader must keep collecting the old generation correctly")
    // a post-swap reader resolves the new generation — same live set
    assert(RabitqIndex.loadLive(spark, idxDir)._2
      .select("vec_id").collect().map(_.getLong(0)).toSet == expected)
    // vacuum with the default retention: the retired generation SURVIVES
    val repKeep = RabitqIndex.vacuumIndex(idxDir)
    assert(new java.io.File(s"$idxDir/index").exists &&
      new java.io.File(s"$idxDir/deletes").exists,
      s"retired generation reclaimed inside the retention window: $repKeep")
    assert(preSwap.select("vec_id").collect().map(_.getLong(0)).toSet == expected)
    // past the window (retainMs = 0): generation + folded log + marker go
    val repGc = RabitqIndex.vacuumIndex(idxDir, retainMs = 0L)
    assert(!new java.io.File(s"$idxDir/index").exists)
    assert(!new java.io.File(s"$idxDir/deletes").exists)
    assert(!new java.io.File(s"$idxDir/_retired/index").exists)
    assert(repGc.removed.exists(_.endsWith("/index")) &&
      repGc.removed.exists(_.endsWith("/deletes")), repGc.toString)
    // the active generation is untouched either way
    assert(RabitqIndex.loadLive(spark, idxDir)._2.count() == expected.size)
  }

  test("IdempotentSink.appendBatch: replayed and crashed micro-batches land " +
      "exactly once") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("idem").toString
    val target = s"$root/data"
    val rows = Seq((1L, 10), (2L, 20), (3L, 30)).toDF("vec_id", "cluster_id")
    def put(df: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
      graft.streaming.IdempotentSink.appendBatch(df, target, root, "q", batchId,
        partitionCols = Seq("cluster_id"))
    def count() = spark.read.parquet(target).count()
    put(rows, 0L)
    assert(count() == 3)
    // replay of a COMMITTED batch (marker present): no-op
    put(rows, 0L)
    assert(count() == 3)
    // crash AFTER the move, BEFORE the marker: the replay re-stages and
    // re-moves under the same deterministic names — still one copy
    assert(new java.io.File(s"$root/_commits/q/0").delete())
    put(rows, 0L)
    assert(count() == 3)
    // crash MID-MOVE where the dead attempt left an orphan file this
    // attempt doesn't produce: a real crash leaves the in-progress
    // sentinel behind (it is only removed at commit), which makes the
    // retry pay the prefix sweep that removes the orphan
    assert(new java.io.File(s"$root/_commits/q/0").delete())
    java.nio.file.Files.createFile(
      new java.io.File(s"$root/_commits/q/0.inprogress").toPath)
    val orphan = new java.io.File(s"$target/cluster_id=10/q-0-99999.parquet")
    java.nio.file.Files.write(orphan.toPath, Array.empty[Byte])
    put(rows, 0L)
    assert(!orphan.exists, "sweep must remove the dead attempt's orphan")
    assert(count() == 3)
    assert(!new java.io.File(s"$root/_commits/q/0.inprogress").exists,
      "commit must clear the in-progress sentinel")
    // a different batchId is a genuine append
    put(Seq((4L, 10)).toDF("vec_id", "cluster_id"), 1L)
    assert(count() == 4)
    assert(spark.read.parquet(target).select("vec_id").distinct().count() == 4)
    // flat (unpartitioned) targets — the tombstone-log shape
    val flat = s"$root/flat"
    graft.streaming.IdempotentSink.appendBatch(
      Seq(7L).toDF("vec_id"), flat, root, "del", 0L)
    graft.streaming.IdempotentSink.appendBatch(
      Seq(7L).toDF("vec_id"), flat, root, "del", 0L)
    assert(spark.read.parquet(flat).count() == 1)
    // a replay that finds its COMMIT marker also clears a sentinel a
    // crash stranded between the marker and the sentinel delete —
    // otherwise it reads as a crashed attempt forever
    java.nio.file.Files.createFile(
      new java.io.File(s"$root/_commits/del/0.inprogress").toPath)
    graft.streaming.IdempotentSink.appendBatch(
      Seq(7L).toDF("vec_id"), flat, root, "del", 0L)
    assert(!new java.io.File(s"$root/_commits/del/0.inprogress").exists,
      "marker-present replay must clear the stranded sentinel")
    // an all-empty stream still creates the sink dir — a downstream read
    // must see an empty directory, not path-not-found
    val never = s"$root/never"
    graft.streaming.IdempotentSink.appendBatch(
      Seq.empty[Long].toDF("vec_id"), never, root, "empty", 0L)
    assert(new java.io.File(never).isDirectory,
      "empty micro-batches must still create the target dir")
  }

  test("append vs maintenance is mechanical: a compaction swap between a " +
      "batch's staged write and its promote loses nothing — the promote " +
      "re-resolves the generation under the lease") {
    import spark.implicits._
    val idxDir = java.nio.file.Files.createTempDirectory("app_vs_maint").toString
    val initial = emb.filter(col("vec_id") < 300)
    val (model, index0) = RabitqIndex.build(spark, initial, numClusters = 4, seed = 7L)
    RabitqIndex.save(spark, model, index0, idxDir)
    Seq(3L).toDF("vec_id").write.parquet(s"$idxDir/deletes")
    val newRows = RabitqIndex.appendVectors(spark, model,
      emb.filter(col("vec_id") >= 300 && col("vec_id") < 320))
    // the maintenance pass fires in the window the convention could never
    // police: after the batch staged its rows, before it promotes them
    graft.streaming.IdempotentSink.appendBatch(
      newRows, RabitqIndex.indexDataDir(idxDir), idxDir, "ing", 0L,
      partitionCols = Seq("cluster_id"),
      onStaged = () => graft.streaming.VecsStream.compactIndex(spark, idxDir))
    assert(RabitqIndex.indexDataDir(idxDir) == s"$idxDir/index-v2",
      "the compaction must have swapped mid-batch")
    val live = RabitqIndex.loadLive(spark, idxDir)._2
      .select("vec_id").collect().map(_.getLong(0)).toList
    val expected = ((0L until 300L).toSet - 3L) ++ (300L until 320L)
    assert(live.toSet == expected, "the mid-compaction batch lost rows")
    assert(live.size == expected.size, "the mid-compaction batch duplicated rows")
    // and the batch's rows physically live in the NEW generation
    assert(spark.read.parquet(s"$idxDir/index-v2")
      .filter(col("vec_id") >= 300).count() == 20)
  }

  test("append vs maintenance, crashed half: a PROMOTED-but-uncommitted " +
      "batch is settled out of the rewrite, and its replay lands exactly once") {
    import spark.implicits._
    val idxDir = java.nio.file.Files.createTempDirectory("settle").toString
    val initial = emb.filter(col("vec_id") < 300)
    val (model, index0) = RabitqIndex.build(spark, initial, numClusters = 4, seed = 7L)
    RabitqIndex.save(spark, model, index0, idxDir)
    Seq(3L).toDF("vec_id").write.parquet(s"$idxDir/deletes")
    val newRows = RabitqIndex.appendVectors(spark, model,
      emb.filter(col("vec_id") >= 300 && col("vec_id") < 320))
    def put(): Unit = graft.streaming.IdempotentSink.appendBatch(
      newRows, RabitqIndex.indexDataDir(idxDir), idxDir, "ing", 0L,
      partitionCols = Seq("cluster_id"))
    // crash AFTER the promote, BEFORE the marker: rows are in the layout,
    // the sentinel is stranded, the marker never landed
    put()
    assert(new java.io.File(s"$idxDir/_commits/ing/0").delete())
    java.nio.file.Files.createFile(
      new java.io.File(s"$idxDir/_commits/ing/0.inprogress").toPath)
    // the compaction SETTLES the uncommitted batch out of the rewrite —
    // folding it would consolidate its rows under new file names, and the
    // replay (which must re-append, its marker is gone) would then land a
    // second, un-sweepable copy
    graft.streaming.VecsStream.compactIndex(spark, idxDir)
    assert(spark.read.parquet(RabitqIndex.indexDataDir(idxDir))
      .filter(col("vec_id") >= 300).count() == 0,
      "the rewrite must not fold a batch whose replay will re-append it")
    put() // the stream's replay
    val live = RabitqIndex.loadLive(spark, idxDir)._2
      .select("vec_id").collect().map(_.getLong(0)).toList
    val expected = ((0L until 300L).toSet - 3L) ++ (300L until 320L)
    assert(live.toSet == expected && live.size == expected.size,
      s"replay after settle must land exactly once (got ${live.size} rows)")
  }

  test("read-committed stats: describeIndex and layoutStats see exactly " +
      "loadLive's rows — an unmarked delete or append batch counts nowhere") {
    import spark.implicits._
    val initial = emb.filter(col("vec_id") < 300)
    val (model, index0) = RabitqIndex.build(spark, initial, numClusters = 4, seed = 7L)
    // promote-then-crash: everything appendBatch does EXCEPT the commit
    // marker — the batch's files sit in the target, its sentinel stranded
    def unmarked(root: String, query: String, df: DataFrame, target: String,
                 partitionCols: Seq[String]): Unit = {
      PosixFs.mkdirs(s"$root/_commits/$query")
      PosixCommit.exclusiveCreate(s"$root/_commits/$query/1.inprogress")
      val stg = s"$root/_staging/$query-1"
      val w = df.write.mode("overwrite")
      (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*)).parquet(stg)
      RabitqIndex.promoteStaged(root, stg, target, s"$query-1")
      PosixFs.deleteRecursively(stg)
    }
    def liveIds(dir: String): Set[Long] = RabitqIndex.loadLive(spark, dir)._2
      .select("vec_id").collect().map(_.getLong(0)).toSet

    // a committed delete batch, then an unmarked one in the same log
    val delDir = java.nio.file.Files.createTempDirectory("unmarked_del").toString
    RabitqIndex.save(spark, model, index0, delDir)
    graft.streaming.IdempotentSink.appendBatch(Seq(3L, 5L).toDF("vec_id"),
      RabitqIndex.tombstoneLogDir(delDir), delDir, "del", 0L)
    unmarked(delDir, "del", Seq(7L, 9L, 11L).toDF("vec_id"),
      RabitqIndex.tombstoneLogDir(delDir), Nil)
    val live = liveIds(delDir)
    assert(live == (0L until 300L).toSet -- Set(3L, 5L),
      "loadLive must honour exactly the committed tombstones")
    val d = RabitqIndex.describeIndex(spark, delDir).head()
    assert((d.getAs[Long]("n_rows"), d.getAs[Long]("n_tombstones"),
        d.getAs[Long]("n_live")) == ((300L, 2L, live.size.toLong)),
      s"describeIndex counted the unmarked delete batch: $d")
    assert(RabitqIndex.layoutStats(spark, delDir) == ((300L, 2L)),
      "layoutStats counted the unmarked delete batch")

    // no log at all, an unmarked append batch: the footer fast path
    // would count its rows
    val addDir = java.nio.file.Files.createTempDirectory("unmarked_add").toString
    RabitqIndex.save(spark, model, index0, addDir)
    unmarked(addDir, "add", RabitqIndex.appendVectors(spark, model,
        emb.filter(col("vec_id") >= 300 && col("vec_id") < 320)),
      RabitqIndex.indexDataDir(addDir), Seq("cluster_id"))
    assert(liveIds(addDir) == (0L until 300L).toSet)
    val a = RabitqIndex.describeIndex(spark, addDir).head()
    assert((a.getAs[Long]("n_rows"), a.getAs[Long]("n_live")) == ((300L, 300L)),
      s"describeIndex counted the unmarked append batch: $a")
    assert(RabitqIndex.layoutStats(spark, addDir) == ((300L, 0L)),
      "layoutStats counted the unmarked append batch")
  }

  test("maintenanceLoop: below thresholds nothing fires; debt alone compacts " +
      "without a rebalance") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("maint_loop").toString
    val (model, index0) = RabitqIndex.build(spark, emb, numClusters = 8, seed = 3L)
    RabitqIndex.save(spark, model, index0, dir)
    // healthy layout: no action, no rewrite (maxSizeFactor high enough
    // that the natural k-means imbalance can't trip the rebalance arm —
    // this spec isolates the debt arm; q120 drives both together)
    val r0 = graft.streaming.VecsStream.maintenanceLoop(spark, dir, emb,
      maxSizeFactor = 10.0)
    assert(!r0.compacted && r0.rebalanced.isEmpty)
    assert(RabitqIndex.indexDataDir(dir) == s"$dir/index")
    // debt below threshold: still a no-op, log left in place
    Seq(1L).toDF("vec_id").write.parquet(s"$dir/deletes")
    val r1 = graft.streaming.VecsStream.maintenanceLoop(spark, dir, emb,
      debtThreshold = 0.5, maxSizeFactor = 10.0)
    assert(!r1.compacted && r1.rebalanced.isEmpty)
    assert(new java.io.File(s"$dir/deletes").exists)
    // debt over threshold: compaction fires alone — versioned swap, log
    // folded, the tombstoned row physically gone
    val r2 = graft.streaming.VecsStream.maintenanceLoop(spark, dir, emb,
      debtThreshold = 1e-9, maxSizeFactor = 10.0)
    assert(r2.compacted && r2.rebalanced.isEmpty)
    assert(RabitqIndex.indexDataDir(dir) == s"$dir/index-v2")
    // the new generation has no log; the folded one is retired, not gone
    assert(!new java.io.File(RabitqIndex.tombstoneLogDir(dir)).exists)
    assert(new java.io.File(s"$dir/deletes").exists &&
      new java.io.File(s"$dir/_retired/index").exists)
    val (_, live) = RabitqIndex.loadLive(spark, dir)
    assert(live.filter(col("vec_id") === 1L).count() == 0)
    assert(live.count() == emb.count() - 1)
  }

  test("vacuumIndex: removes crash debris (unreferenced generations, dead " +
      "staging, torn manifest) and never touches live state") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vacuum").toString
    val initial = emb.filter(col("vec_id") < 300)
    val (model, index0) = RabitqIndex.build(spark, initial, numClusters = 4, seed = 7L)
    RabitqIndex.save(spark, model, index0, dir)
    Seq(9L).toDF("vec_id").write.parquet(s"$dir/deletes")
    // debris: a compaction that rewrote but never swapped, a lease-break
    // aside a crashed breaker stranded, orphaned batch staging, a torn
    // MANIFEST.tmp, and a committed batch's marker (which must SURVIVE)
    graft.streaming.VecsStream.compactRewrite(spark, RabitqIndex.resolve(dir)) // index-v2, no swap
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_maintenance.lock.broken-dead"), "x")
    new java.io.File(s"$dir/_staging/q-0").mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "MANIFEST.tmp"), "index-v2")
    new java.io.File(s"$dir/_commits/q").mkdirs()
    java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$dir/_commits/q/0"))
    val before = RabitqIndex.loadLive(spark, dir)._2
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val rep = RabitqIndex.vacuumIndex(dir)
    assert(rep.removed.size == 3 && rep.reclaimedBytes > 0, rep.toString)
    assert(!new java.io.File(s"$dir/index-v2").exists,
      "unRETIRED non-active generation is immediate debris")
    assert(!new java.io.File(s"$dir/_maintenance.lock.broken-dead").exists)
    assert(!new java.io.File(s"$dir/MANIFEST.tmp").exists)
    // batch staging is AGE-GATED (it may belong to a LIVE batch between
    // its staged write and its lease-guarded promote) — a fresh entry
    // survives the default window, retainMs = 0 reclaims it
    assert(new java.io.File(s"$dir/_staging/q-0").exists,
      "fresh batch staging must survive the retention window")
    // live state intact: active generation, tombstone log, sidecars,
    // commit markers, and the logical live set
    assert(new java.io.File(s"$dir/index").exists)
    assert(new java.io.File(s"$dir/deletes").exists)
    assert(new java.io.File(s"$dir/_commits/q/0").exists)
    val after = RabitqIndex.loadLive(spark, dir)._2
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(after == before && !after.contains(9L))
    val repAged = RabitqIndex.vacuumIndex(dir, retainMs = 0L)
    assert(!new java.io.File(s"$dir/_staging/q-0").exists,
      s"aged batch staging must be reclaimed: $repAged")
    // after a real swap the OLD generation is RETIRED, not debris: it
    // survives the default window and is reclaimed (with its folded log
    // and marker) once past retainMs
    graft.streaming.VecsStream.compactIndex(spark, dir)
    assert(RabitqIndex.indexDataDir(dir) == s"$dir/index-v2")
    val repRetained = RabitqIndex.vacuumIndex(dir)
    assert(new java.io.File(s"$dir/index").exists &&
      new java.io.File(s"$dir/deletes").exists, repRetained.toString)
    val rep2 = RabitqIndex.vacuumIndex(dir, retainMs = 0L)
    assert(rep2.removed.contains(s"$dir/index") &&
      rep2.removed.contains(s"$dir/deletes"), rep2.toString)
    assert(!new java.io.File(s"$dir/index").exists)
    assert(!new java.io.File(s"$dir/_retired/index").exists)
    assert(new java.io.File(s"$dir/index-v2").exists)
    assert(RabitqIndex.loadLive(spark, dir)._2.count() == before.size)
  }

  test("a layout left mid-swap by an older build (committed " +
      "_rebalance_staging) is refused by vacuumIndex and every other " +
      "mutator; a save over it starts a fresh layout") {
    val dir = java.nio.file.Files.createTempDirectory("legacy_swap").toString
    val initial = emb.filter(col("vec_id") < 300)
    val (model, index0) = RabitqIndex.build(spark, initial, numClusters = 4, seed = 7L)
    RabitqIndex.save(spark, model, index0, dir)
    // what an older build's in-place rebalance left when it died between
    // its _COMMIT marker and its directory renames: the staging holds
    // the only copy of the re-encoded split cluster
    val staging = s"$dir/_rebalance_staging"
    spark.read.parquet(s"$dir/index").filter(col("cluster_id") === 0)
      .write.partitionBy("cluster_id").parquet(s"$staging/index")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(staging, "_COMMIT"), "0".getBytes)
    val e = intercept[IllegalArgumentException](RabitqIndex.vacuumIndex(dir))
    assert(e.getMessage.contains(dir) && e.getMessage.contains("older build"),
      e.getMessage)
    for (op <- Seq[() => Any](
        () => graft.streaming.VecsStream.compactIndex(spark, dir),
        () => RabitqIndex.rebalanceIndex(spark, dir, initial),
        () => graft.streaming.VecsStream.maintenanceLoop(spark, dir, initial),
        () => graft.streaming.IdempotentSink.appendBatch(
          RabitqIndex.appendVectors(spark, model,
            emb.filter(col("vec_id") >= 300 && col("vec_id") < 310)),
          RabitqIndex.indexDataDir(dir), dir, "legacy", 0L,
          partitionCols = Seq("cluster_id"))))
      intercept[IllegalArgumentException](op())
    assert(new java.io.File(s"$staging/_COMMIT").isFile &&
      new java.io.File(s"$staging/index/cluster_id=0").isDirectory,
      "a refused mutator must leave the staged rows alone")
    assert(!new java.io.File(s"$dir/_maintenance.lock").exists,
      "the refusal comes before the lease is taken")
    assert(RabitqIndex.loadLive(spark, dir)._2.count() == initial.count(),
      "the refused append must not have landed")
    // a fresh index has no history: save resets the staging with the rest
    RabitqIndex.save(spark, model, index0, dir)
    assert(!new java.io.File(staging).exists)
    RabitqIndex.vacuumIndex(dir)
    assert(RabitqIndex.loadLive(spark, dir)._2.count() == initial.count())
  }

  test("maintenance lease: concurrent maintenance mutators are mutually " +
      "exclusive; a stale lease is broken; the lease is released on exit") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lease").toString
    val initial = emb.filter(col("vec_id") < 300)
    val (model, index0) = RabitqIndex.build(spark, initial, numClusters = 4, seed = 7L)
    RabitqIndex.save(spark, model, index0, dir)
    Seq(9L).toDF("vec_id").write.parquet(s"$dir/deletes")
    val lock = new java.io.File(s"$dir/_maintenance.lock")

    // a held lease blocks every maintenance mutator (compact, rebalance,
    // vacuum, the loop) — the double-fired-scheduler scenario
    assert(lock.createNewFile())
    for (op <- Seq[() => Any](
        () => graft.streaming.VecsStream.compactIndex(spark, dir),
        () => RabitqIndex.rebalanceIndex(spark, dir, initial),
        () => RabitqIndex.vacuumIndex(dir),
        () => graft.streaming.VecsStream.maintenanceLoop(spark, dir, initial))) {
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains("maintenance already in flight"))
    }
    // blocked callers must not have swallowed the holder's lease
    assert(lock.exists(), "a blocked caller removed the holder's lease")
    assert(new java.io.File(s"$dir/deletes").exists,
      "a blocked compaction still folded the log")

    // a STALE lease (crashed holder) is broken and the op proceeds;
    // afterwards the lease is released (the finally path)
    assert(lock.setLastModified(System.currentTimeMillis() - 2L * 3600 * 1000))
    graft.streaming.VecsStream.compactIndex(spark, dir)
    assert(!lock.exists(), "lease not released after a successful op")
    assert(RabitqIndex.indexDataDir(dir) == s"$dir/index-v2")
    assert(!new java.io.File(RabitqIndex.tombstoneLogDir(dir)).exists)
    val live = RabitqIndex.loadLive(spark, dir)._2
    assert(live.filter(col("vec_id") === 9L).count() == 0)
    assert(live.count() == initial.count() - 1)

    // vacuum never reclaims a LIVE lease riding in the dir
    assert(lock.createNewFile())
    val rep = try RabitqIndex.vacuumUnlocked(dir) finally lock.delete()
    assert(!rep.removed.exists(_.contains("_maintenance.lock")))
  }

  test("maintenance lease: two RACING breakers of the same stale lock — " +
      "exactly one proceeds; an outlived holder cannot release the new " +
      "holder's lease") {
    val dir = java.nio.file.Files.createTempDirectory("lease_race").toString
    val lock = new java.io.File(s"$dir/_maintenance.lock")
    // a stale lock from a crashed holder
    assert(lock.createNewFile())
    assert(lock.setLastModified(System.currentTimeMillis() - 2L * 3600 * 1000))
    // N breakers race: each observes the stale lock, breaks, re-acquires.
    // The rename-aside break admits exactly ONE (the old delete+create
    // TOCTOU admitted several — B's late delete removed A's fresh lock)
    val n = 8
    val gate = new java.util.concurrent.CyclicBarrier(n)
    val inBody = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxConcurrent = new java.util.concurrent.atomic.AtomicInteger(0)
    val proceeded = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to n).map { _ =>
      new Thread(() => {
        gate.await()
        try {
          RabitqIndex.withLayoutLock(dir) {
            val c = inBody.incrementAndGet()
            maxConcurrent.getAndUpdate(m => math.max(m, c))
            Thread.sleep(200) // hold the body long enough to catch overlap
            inBody.decrementAndGet()
            proceeded.incrementAndGet()
          }
        } catch { case _: IllegalStateException => () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // the invariant is MUTUAL EXCLUSION, not single admission: a late
    // thread that only attempts after the winner released acquires a
    // legitimately free lock (serial takeovers are fine). The old
    // delete/re-acquire TOCTOU failed exactly this: two breakers in the
    // body CONCURRENTLY (B's slow delete removed A's fresh lock).
    assert(proceeded.get() >= 1, "no breaker proceeded on a stale lock")
    assert(maxConcurrent.get() == 1,
      s"two mutators ran concurrently (max ${maxConcurrent.get()})")
    assert(!lock.exists(), "winner's lease not released")

    // an OUTLIVED holder (its lease broken mid-run) must not delete the
    // new holder's lock on exit — the holder-token release check
    val slowDone = new java.util.concurrent.CountDownLatch(1)
    val slowEntered = new java.util.concurrent.CountDownLatch(1)
    val slow = new Thread(() => {
      RabitqIndex.withLayoutLock(dir, staleMs = 100L) {
        slowEntered.countDown()
        slowDone.await() // outlive our own staleMs
      }
    })
    slow.start(); slowEntered.await()
    Thread.sleep(150) // slow's lease is now stale
    // a breaker takes over while slow still runs
    RabitqIndex.withLayoutLock(dir, staleMs = 100L) {
      assert(lock.exists())
      slowDone.countDown(); slow.join()
      assert(lock.exists(),
        "outlived holder deleted the NEW holder's lease on its way out")
    }
    assert(!lock.exists(), "new holder's lease not released")
  }

  test("describeIndex: footer-metadata fast path equals the scan path field " +
      "for field; a tombstone log falls back to the scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("desc_footer").toString
    val (model, index0) = RabitqIndex.build(spark, emb, numClusters = 6, seed = 5L)
    RabitqIndex.save(spark, model, index0, dir)
    def report(footers: Boolean) =
      RabitqIndex.describeIndex(spark, dir, footerFastPath = footers).head()
    assert(report(footers = true) == report(footers = false),
      s"${report(footers = true)} != ${report(footers = false)}")
    // multiple files per partition dir (a frozen-model append): footer
    // counts must sum across files
    RabitqIndex.appendVectors(spark, model, emb.filter(col("vec_id") < 50))
      .write.mode("append").partitionBy("cluster_id").parquet(s"$dir/index")
    assert(report(footers = true) == report(footers = false))
    assert(report(footers = true).getAs[Long]("n_rows") == emb.count() + 50)
    // a tombstone log needs the anti-join — the fast path bypasses
    // itself and both calls give the scan report
    Seq(3L).toDF("vec_id").write.parquet(s"$dir/deletes")
    assert(report(footers = true) == report(footers = false))
    assert(report(footers = true).getAs[Long]("n_tombstones") == 1L)
  }

  test("RabitqIndex.rebalanceIndex: splits only oversized clusters, keeps untouched " +
      "partition files, respects tombstones, search stays exact") {
    import org.apache.spark.sql.functions.{element_at, lit}
    import spark.implicits._
    // skewed by construction: model fit on the embedding[0] < 0 halfspace,
    // the other half appended through the frozen model piles into the
    // boundary clusters
    val (model, index0) = RabitqIndex.build(spark,
      emb.filter(element_at(col("embedding"), 1) < 0f), numClusters = 8, seed = 11L)
    val idxDir = java.nio.file.Files.createTempDirectory("rebal_idx").toString
    // TWO metadata columns ride in the layout (the filtered-search
    // tier's int label plus a string tag — the multi-column, mixed-type
    // carry): the rewrite must carry both — appendVectors alone would
    // null them on exactly the split clusters
    val labels = emb.select(col("vec_id"), col("label"),
      concat(lit("t"), (col("vec_id") % 3).cast("string")).as("tag"))
    RabitqIndex.save(spark, model, index0.join(labels, Seq("vec_id")), idxDir)
    RabitqIndex.appendVectors(spark, model,
        emb.filter(element_at(col("embedding"), 1) >= 0f))
      .join(labels, Seq("vec_id"))
      .write.mode("append").partitionBy("cluster_id").parquet(s"$idxDir/index")
    // tombstone one row that lives in a cluster the rebalance will split:
    // pick the most-loaded cluster's first member
    val sizes = spark.read.parquet(s"$idxDir/index")
      .groupBy("cluster_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(-_._2)
    val bigCluster = sizes.head._1
    val tombId = spark.read.parquet(s"$idxDir/index")
      .filter(col("cluster_id") === bigCluster)
      .select("vec_id").orderBy("vec_id").head().getLong(0)
    Seq(tombId).toDF("vec_id").write.parquet(s"$idxDir/deletes")
    // snapshot the untouched clusters' physical files before the rebalance
    def parquetFiles(c: Int): Map[String, Long] = {
      val d = new java.io.File(s"$idxDir/index/cluster_id=$c")
      if (!d.exists) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val filesBefore: Map[Int, Map[String, Long]] =
      sizes.map { case (c, _) => c -> parquetFiles(c) }.toMap
    // the health report applies rebalanceIndex's own criterion, so it
    // must flag this layout before the op runs and report the counts
    val stats0 = RabitqIndex.describeIndex(spark, idxDir, maxSizeFactor = 1.4).head()
    assert(stats0.getAs[Boolean]("needs_rebalance"), s"report missed the skew: $stats0")
    assert(stats0.getAs[Long]("n_rows") == emb.count())
    assert(stats0.getAs[Long]("n_tombstones") == 1L)
    assert(stats0.getAs[Long]("n_live") == emb.count() - 1)
    assert(stats0.getAs[Double]("skew") > 1.4)
    val report = RabitqIndex.rebalanceIndex(spark, idxDir, emb, maxSizeFactor = 1.4)
    assert(report.split.nonEmpty, s"skewed build must trigger a split: $report")
    assert(stats0.getAs[Int]("clusters_oversized") == report.split.size,
      "report and op disagree on the oversized set")
    assert(report.split.contains(bigCluster), s"the biggest cluster must split: $report")
    assert(report.maxSizeAfter < report.maxSizeBefore, report.toString)
    assert(report.numClustersAfter ==
      report.numClustersBefore + report.split.values.map(_ - 1).sum)
    // moved IO ∝ oversized mass: exactly the split clusters' live members
    val splitMass = sizes.toMap.view.filterKeys(report.split.contains).values.sum - 1 // tombstoned row dropped
    assert(report.movedRows == splitMass, s"moved ${report.movedRows}, expected $splitMass")
    // untouched partitions: pre-existing files still present with
    // unchanged mtimes (appends of re-assigned members are allowed)
    sizes.map(_._1).filterNot(report.split.contains).foreach { c =>
      filesBefore(c).foreach { case (name, mtime) =>
        val f = new java.io.File(s"$idxDir/index/cluster_id=$c/$name")
        assert(f.exists && f.lastModified() == mtime,
          s"untouched cluster $c file $name was rewritten")
      }
    }
    // tombstoned member of a split cluster is dropped by the rewrite —
    // physically absent, not merely masked; the log itself is untouched
    val (m2, idx2) = RabitqIndex.load(spark, idxDir)
    assert(m2.params.numClusters == report.numClustersAfter)
    assert(idx2.filter(col("vec_id") === tombId).count() == 0,
      "tombstoned member of a split cluster must not survive the rewrite")
    assert(new java.io.File(s"$idxDir/deletes").exists, "log is compaction's job")
    assert(idx2.count() == emb.count() - 1)
    // metadata preservation: every surviving row still carries BOTH
    // extras, and the values match the base mapping exactly (rewritten
    // rows included — a dropped carry would null them on the split
    // clusters)
    assert(idx2.filter(col("label").isNull || col("tag").isNull).count() == 0,
      "rebalance nulled metadata on rewritten rows")
    assert(idx2.select("vec_id", "label", "tag")
      .join(labels.withColumnRenamed("label", "expected")
        .withColumnRenamed("tag", "expectedTag"), Seq("vec_id"))
      .filter(col("label") =!= col("expected") ||
        col("tag") =!= col("expectedTag")).count() == 0,
      "rebalance corrupted a metadata value")
    // post-rebalance report: the max cluster shrank and the physically-
    // dropped tombstone no longer counts as debt against the live set
    val stats1 = RabitqIndex.describeIndex(spark, idxDir, maxSizeFactor = 1.4).head()
    assert(stats1.getAs[Long]("max_cluster_size") < stats0.getAs[Long]("max_cluster_size"))
    assert(stats1.getAs[Long]("n_live") == emb.count() - 1)
    assert(stats1.getAs[Long]("n_rows") == emb.count() - 1,
      "the split cluster's tombstoned row must be physically gone")
    // exactness through the rebalanced index: full probe + full rerank
    val baseFinal = emb.filter(col("vec_id") =!= tombId)
    val qs = ExactKnn.queriesFromEmbeddings(emb, 5)
    val truth = ExactKnn.l2TopK(baseFinal, qs, 10)
    val res = RabitqQuery.topK(spark, m2, idx2, baseFinal, qs,
      m2.params.numClusters, 10, 4096)
    assert(ExactKnn.recall(res, truth, 10).head().getDouble(0) == 1.0)
  }

  test("rebalanceIndex: a stale base missing live split members aborts loudly " +
      "instead of silently dropping them from the rewrite") {
    import org.apache.spark.sql.functions.element_at
    // q116's skew construction, then a base with one split-cluster member
    // removed — the inner-join formulation would quietly lose that vector
    val (model, index0) = RabitqIndex.build(spark,
      emb.filter(element_at(col("embedding"), 1) < 0f), numClusters = 8, seed = 11L)
    val idxDir = java.nio.file.Files.createTempDirectory("rebal_stale").toString
    RabitqIndex.save(spark, model, index0, idxDir)
    RabitqIndex.appendVectors(spark, model,
        emb.filter(element_at(col("embedding"), 1) >= 0f))
      .write.mode("append").partitionBy("cluster_id").parquet(s"$idxDir/index")
    val sizes = spark.read.parquet(s"$idxDir/index")
      .groupBy("cluster_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(-_._2)
    val victim = spark.read.parquet(s"$idxDir/index")
      .filter(col("cluster_id") === sizes.head._1)
      .select("vec_id").orderBy("vec_id").head().getLong(0)
    val e = intercept[IllegalArgumentException] {
      RabitqIndex.rebalanceIndex(spark, idxDir,
        emb.filter(col("vec_id") =!= victim), maxSizeFactor = 1.4)
    }
    assert(e.getMessage.contains("stale base"), e.getMessage)
    // the abort left the layout untouched: every row still present
    assert(spark.read.parquet(s"$idxDir/index").count() == emb.count())
  }

  test("rerank-budget scaling: rebalance records BUILT_K once; scaledRerank " +
      "rescales tuned budgets by the grown cluster count; save() resets it") {
    import org.apache.spark.sql.functions.element_at
    // q116's skew construction — a rebalance that really splits
    val (model, index0) = RabitqIndex.build(spark,
      emb.filter(element_at(col("embedding"), 1) < 0f), numClusters = 8, seed = 11L)
    val idxDir = java.nio.file.Files.createTempDirectory("builtk").toString
    RabitqIndex.save(spark, model, index0, idxDir)
    // a never-rebalanced layout scales by exactly 1
    assert(RabitqIndex.scaledRerank(idxDir, 8, 64) == 64)
    assert(RabitqIndex.probeScale(idxDir, 8) == 1.0)
    RabitqIndex.appendVectors(spark, model,
        emb.filter(element_at(col("embedding"), 1) >= 0f))
      .write.mode("append").partitionBy("cluster_id").parquet(s"$idxDir/index")
    val rep = RabitqIndex.rebalanceIndex(spark, idxDir, emb, maxSizeFactor = 1.4)
    assert(rep.split.nonEmpty && rep.numClustersAfter > 8)
    val k1 = rep.numClustersAfter
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(idxDir, "BUILT_K")).trim == "8")
    // rerank' = ceil(rerank * (k'/k0)²) — quadratic, the SCALE_r18
    // frontier's knee (linear k'/k0 undershoots pre-skew parity while
    // rerank is nearly free next to the probe scan)
    assert(RabitqIndex.scaledRerank(idxDir, k1, 64) ==
      math.ceil(64.0 * (k1 / 8.0) * (k1 / 8.0)).toInt)
    assert(RabitqIndex.probeScale(idxDir, k1) == k1 / 8.0)
    // a SECOND rebalance keeps the ORIGINAL tuned k — the scale is
    // cumulative across splits, not reset to the intermediate count.
    // Re-skew with offset copies of the upper halfspace (they pile back
    // into the just-balanced upper clusters).
    val (m1, i1) = RabitqIndex.load(spark, idxDir)
    val extra = emb.filter(element_at(col("embedding"), 1) >= 0f)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    RabitqIndex.appendVectors(spark, m1, extra)
      .write.mode("append").partitionBy("cluster_id")
      .parquet(RabitqIndex.indexDataDir(idxDir))
    val rep2 = RabitqIndex.rebalanceIndex(spark, idxDir,
      emb.unionByName(extra), maxSizeFactor = 1.2)
    assert(rep2.split.nonEmpty, s"second-split construction is vacuous ($rep2)")
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(idxDir, "BUILT_K")).trim == "8",
      s"second rebalance must not overwrite the tuned k (rep2=$rep2)")
    // save() resets the sidecar with the rest of the layout history
    // (reload first: the second rebalance replaced i1's files)
    val (m3, i3) = RabitqIndex.load(spark, idxDir)
    RabitqIndex.save(spark, m3, i3.localCheckpoint(true), idxDir)
    assert(!new java.io.File(s"$idxDir/BUILT_K").exists)
    assert(RabitqIndex.probeScale(idxDir, k1) == 1.0)
    assert(RabitqIndex.scaledRerank(idxDir, k1, 64) == 64)
  }

  test("rerank scaling reaches the MEMORY query path: a rebalanced-then-" +
      "reloaded index queried via topK at the pre-split budget matches the " +
      "disk path row-for-row; a corrupt BUILT_K degrades to scale 1.0") {
    import org.apache.spark.sql.functions.element_at
    val (model, index0) = RabitqIndex.build(spark,
      emb.filter(element_at(col("embedding"), 1) < 0f), numClusters = 8, seed = 11L)
    val idxDir = java.nio.file.Files.createTempDirectory("builtk_mem").toString
    RabitqIndex.save(spark, model, index0, idxDir)
    RabitqIndex.appendVectors(spark, model,
        emb.filter(element_at(col("embedding"), 1) >= 0f))
      .write.mode("append").partitionBy("cluster_id").parquet(s"$idxDir/index")
    val rep = RabitqIndex.rebalanceIndex(spark, idxDir, emb, maxSizeFactor = 1.4)
    assert(rep.split.nonEmpty && rep.numClustersAfter > 8,
      s"rebalance construction is vacuous ($rep)")
    // load() carries the adaptation in the model — the memory entry
    // points can no longer miss it (pre-fix: disk auto-scaled, memory
    // silently ate the measured shortlist-displacement recall loss)
    val (m2, live) = RabitqIndex.loadLive(spark, idxDir)
    assert(m2.rerankScale ==
      (rep.numClustersAfter / 8.0) * (rep.numClustersAfter / 8.0))
    val qs = ExactKnn.queriesFromEmbeddings(emb, 5)
    val mem = RabitqQuery.topK(spark, m2, live, emb, qs,
      nprobe = 4, topk = 10, rerank = 64)
    val dsk = RabitqQuery.topKFromDisk(spark, idxDir, emb, qs,
      nprobe = 4, topk = 10, rerank = 64)
    assert(mem.collect().map(_.toSeq).toSet == dsk.collect().map(_.toSeq).toSet,
      "memory and disk paths must apply the SAME scaled budget")
    // a corrupt sidecar must degrade to the pre-rebalance budget with a
    // warning, never throw from a query path
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(idxDir, "BUILT_K"), "not-a-number")
    val (m3, _) = RabitqIndex.load(spark, idxDir)
    assert(m3.rerankScale == 1.0)
    assert(RabitqQuery.topKFromDisk(spark, idxDir, emb, qs, 4, 10, 64)
      .count() > 0)
  }

  test("maintainIndex adds-only micro-batch runs ONE Spark job: the del " +
      "count rides as an observed metric on the add leg's staged write " +
      "instead of a standalone emptiness probe") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val initial = emb.filter(col("vec_id") < 100)
    val (model, index0) = RabitqIndex.build(spark, initial, numClusters = 4, seed = 11L)
    val idxDir = java.nio.file.Files.createTempDirectory("maint_jobs").toString
    RabitqIndex.save(spark, model, index0, idxDir)
    val srcDir = java.nio.file.Files.createTempDirectory("maint_jobs_ops").toString
    emb.filter(col("vec_id") >= 100 && col("vec_id") < 130)
      .select(lit("add").as("op"), col("vec_id"), col("embedding"))
      .coalesce(1).write.parquet(s"$srcDir/in")
    Thread.sleep(1100) // distinct mtimes → two single-file micro-batches
    emb.filter(col("vec_id") >= 130 && col("vec_id") < 160)
      .select(lit("add").as("op"), col("vec_id"), col("embedding"))
      .coalesce(1).write.mode("append").parquet(s"$srcDir/in")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      graft.streaming.VecsStream.maintainIndex(spark, s"$srcDir/in", idxDir,
        s"$srcDir/ckpt", model, "maint_jobs_spec", maxFilesPerTrigger = Some(1))
      // listener delivery is async — poll until the count is stable
      var last = -1; var stable = 0
      val deadline = System.currentTimeMillis() + 15000
      while (stable < 5 && System.currentTimeMillis() < deadline) {
        val now = jobs.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
        Thread.sleep(100)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 2,
      s"two adds-only micro-batches must run exactly one job each " +
        s"(the staged write) — saw ${jobs.get()}")
    // and the stream still must not have manufactured a del log
    assert(RabitqIndex.resolve(idxDir).logFiles.isEmpty)
    val (_, live) = RabitqIndex.loadLive(spark, idxDir)
    assert(live.select("vec_id").collect().map(_.getLong(0)).toSet ==
      (0L until 160L).toSet)
  }

  test("compactIndex labels every job it submits: a listener sees a " +
      "non-empty description on each") {
    import spark.implicits._
    val idxDir = java.nio.file.Files.createTempDirectory("compact_label").toString
    val (model, index0) = RabitqIndex.build(spark,
      emb.filter(col("vec_id") < 200), numClusters = 4, seed = 7L)
    RabitqIndex.save(spark, model, index0, idxDir)
    Seq(3L, 5L).toDF("vec_id").write.parquet(RabitqIndex.tombstoneLogDir(idxDir))
    val sc = spark.sparkContext
    val marker = "compact-label drain marker"
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val d = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        if (d == marker) drained.countDown() else descs.add(d)
      }
    }
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(null)
    sc.addSparkListener(listener)
    try {
      graft.streaming.VecsStream.compactIndex(spark, idxDir)
      // the bus is FIFO: once the marker job is seen, every compact job was
      Overlap.labelled(spark, marker)(sc.parallelize(1 to 1, 1).count())
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally { sc.removeSparkListener(listener); sc.setJobDescription(prev) }
    assert(RabitqIndex.indexDataDir(idxDir) == s"$idxDir/index-v2",
      "gate is vacuous: the compaction did not run")
    val seen = descs.toArray(Array.empty[String]).toSeq
    assert(seen.nonEmpty, "gate is vacuous: compactIndex submitted no job")
    assert(seen.forall(_.nonEmpty),
      s"${seen.count(_.isEmpty)} of ${seen.length} compact jobs carry no " +
        s"description: ${seen.distinct.mkString(" | ")}")
  }

  test("a maintain stream that never saw a delete leaves a HEALTHY layout: " +
      "the empty del-leg dir is not read as a tombstone log") {
    import spark.implicits._
    // the LOG's existence is a health signal every reader consults, so
    // an adds-only stream must not manufacture one — the del leg skips
    // delete-free batches, and (second line of defense) readers judge
    // presence by DATA files, not the directory
    val root = java.nio.file.Files.createTempDirectory("adds_only").toString
    val idxDir = s"$root/idx"
    val initial = emb.filter(col("vec_id") < 200)
    val (model, index0) = RabitqIndex.build(spark, initial, numClusters = 4, seed = 7L)
    RabitqIndex.save(spark, model, index0, idxDir)
    emb.filter(col("vec_id") >= 200 && col("vec_id") < 260)
      .select(lit("add").as("op"), col("vec_id"), col("embedding"))
      .repartition(1).write.parquet(s"$root/in")
    graft.streaming.VecsStream.maintainIndex(spark, s"$root/in",
      idxDir, s"$root/ckpt", model, "adds_only_q")
    assert(!new java.io.File(s"$idxDir/deletes").exists,
      "an adds-only stream must not create a tombstone log")
    val (_, live) = RabitqIndex.loadLive(spark, idxDir)
    assert(live.count() == 260)
    val d = RabitqIndex.describeIndex(spark, idxDir).head()
    assert(d.getAs[Long]("n_tombstones") == 0L && d.getAs[Long]("n_rows") == 260)
    // second line of defense: a deletes dir with NO data files (e.g. a
    // crashed promote swept back to nothing) reads as no-log everywhere
    new java.io.File(s"$idxDir/deletes").mkdirs()
    assert(RabitqIndex.resolve(idxDir).logFiles.isEmpty)
    assert(RabitqIndex.loadLive(spark, idxDir)._2.count() == 260)
    assert(RabitqIndex.layoutStats(spark, idxDir)._2 == 0L)
    assert(RabitqIndex.describeIndex(spark, idxDir)
      .head().getAs[Long]("n_tombstones") == 0L)
    graft.streaming.VecsStream.compactIndex(spark, idxDir) // no-op, no throw
    assert(RabitqIndex.indexDataDir(idxDir) == s"$idxDir/index",
      "a log with no data must not trigger a compaction swap")
  }

  test("LayoutCommit primitives: exclusive-create admits exactly one of N " +
      "racers; atomic-write publishes old-or-new, never torn") {
    val dir = java.nio.file.Files.createTempDirectory("layoutcommit")
    // exclusiveCreate: N concurrent creators, exactly one wins
    val p = dir.resolve("once")
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val gate = new java.util.concurrent.CyclicBarrier(8)
    val ts = (1 to 8).map(i => new Thread(() => {
      gate.await()
      if (PosixCommit.exclusiveCreate(p.toString, s"t$i")) wins.incrementAndGet()
    }))
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(wins.get() == 1)
    // atomicWriteFile: a reader hammering the target during 200 rewrites
    // only ever observes a complete previous or next value
    val tgt = dir.resolve("MANIFEST")
    PosixCommit.atomicWriteFile(tgt.toString, "gen-0")
    val bad = new java.util.concurrent.atomic.AtomicInteger(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get()) {
        val s = new String(java.nio.file.Files.readAllBytes(tgt), "UTF-8")
        if (!s.startsWith("gen-") || s.drop(4).toIntOption.isEmpty)
          bad.incrementAndGet()
      }
    })
    reader.start()
    (1 to 200).foreach(i => PosixCommit.atomicWriteFile(tgt.toString, s"gen-$i"))
    stop.set(true); reader.join()
    assert(bad.get() == 0, s"reader observed ${bad.get()} torn manifests")
    assert(new String(java.nio.file.Files.readAllBytes(tgt), "UTF-8") == "gen-200")
    // atomicMoveFile atomically replaces an existing destination (the
    // retry-overwrites-its-own-name contract)
    val a = dir.resolve("a"); val b = dir.resolve("b")
    java.nio.file.Files.writeString(a, "A"); java.nio.file.Files.writeString(b, "B")
    PosixCommit.atomicMoveFile(a.toString, b.toString)
    assert(new String(java.nio.file.Files.readAllBytes(b), "UTF-8") == "A")
    assert(!java.nio.file.Files.exists(a))
    // atomicRenameDir: losing racer of the same src observes NoSuchFile
    val src = dir.resolve("d1"); java.nio.file.Files.createDirectory(src)
    PosixCommit.atomicRenameDir(src.toString, dir.resolve("d2").toString)
    intercept[java.nio.file.NoSuchFileException] {
      PosixCommit.atomicRenameDir(src.toString, dir.resolve("d3").toString)
    }
  }

  test("driver contract: SparkEntry.entry returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // ---------------- salting --------------------------------------------
  test("salted two-phase aggregation equals plain groupBy") {
    val events = SparkEntryTestAccess.table(spark, sf, "events")
    val plain = events.groupBy("event_type")
      .agg(sum(col("value")).as("total"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), (math.round(r.getDouble(1) * 1e6), r.getLong(2)))).toMap
    val salted = Salting.saltedSumCount(events, Seq("event_type"), "value", buckets = 16)
      .collect().map(r => (r.getString(0), (math.round(r.getDouble(1) * 1e6), r.getLong(2)))).toMap
    assert(salted == plain)
  }

  // ---------------- UDAF SQL registration --------------------------------
  test("TopKAgg registers as a SQL UDAF") {
    spark.udf.register("graft_topk3", org.apache.spark.sql.functions.udaf(new TopKAgg(3)))
    emb.select(col("vec_id"), lit(0L).as("g"),
      graft.functions.VectorExpressions.l2sq(col("embedding"), col("embedding")).as("d"))
      .createOrReplaceTempView("udaf_test")
    // top-3 of (vec_id % 7) keyed rows by vec_id-as-score
    val rows = spark.sql(
      """SELECT g, graft_topk3(CAST(vec_id AS DOUBLE), vec_id) AS topk
        |FROM udaf_test GROUP BY g""".stripMargin).collect()
    assert(rows.length == 1)
    val topk = rows.head.getSeq[org.apache.spark.sql.Row](1)
    assert(topk.map(_.getLong(1)) == Seq(0L, 1L, 2L))
  }

  // ---------------- reference layout export ------------------------------
  test("exportReferenceLayout writes the 5-file rabitq directory shape") {
    import graft.sources.Fvecs
    val (model, index) = RabitqIndex.build(spark, emb, numClusters = 8, seed = 1L)
    val dir = java.nio.file.Files.createTempDirectory("ref_layout").toString
    RabitqIndex.exportReferenceLayout(spark, model, index, emb, dir)
    val n = emb.count()

    val orth = Fvecs.readFvecs(spark, s"$dir/orthogonal.fvecs")
    assert(orth.count() == model.params.padDim)
    assert(Fvecs.readFvecs(spark, s"$dir/centroids.fvecs").count() == 8)
    assert(Fvecs.readFvecs(spark, s"$dir/base.fvecs").count() == n)
    val factors = Fvecs.readFvecs(spark, s"$dir/factors.fvecs").collect()
    assert(factors.length == 1 && factors.head.getSeq[Float](1).length == 4 * n)
    assert(Fvecs.readU64vecs(spark, s"$dir/x_binary_vec.u64vecs").count() == n)
    val oi = Fvecs.readIvecs(spark, s"$dir/offsets_ids.ivecs").orderBy("vec_id").collect()
    assert(oi.length == 2)
    val offsets = oi(0).getSeq[Int](1); val mapIds = oi(1).getSeq[Int](1)
    assert(offsets.length == 9 && offsets.head == 0 && offsets.last == n)
    assert(offsets.sliding(2).forall(p => p(0) <= p(1)), "offsets not monotone")
    assert(mapIds.length == n && mapIds.toSet.size == n.toInt, "map_ids not a permutation")
  }

  test("exportReferenceLayoutDistributed: byte-identical to the driver " +
      "exporter, zero staging debris") {
    val (model, index) = RabitqIndex.build(spark, emb, numClusters = 8, seed = 1L)
    val d1 = java.nio.file.Files.createTempDirectory("ref_drv").toString
    val d2 = java.nio.file.Files.createTempDirectory("ref_dist").toString
    RabitqIndex.exportReferenceLayout(spark, model, index, emb, d1)
    RabitqIndex.exportReferenceLayoutDistributed(spark, model, index, emb, d2)
    for (f <- Seq("orthogonal.fvecs", "centroids.fvecs", "base.fvecs",
        "factors.fvecs", "x_binary_vec.u64vecs", "offsets_ids.ivecs")) {
      val a = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$d1/$f"))
      val b = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$d2/$f"))
      assert(a.length == b.length && java.util.Arrays.equals(a, b),
        s"$f diverges between the driver and distributed exporters " +
          s"(${a.length} vs ${b.length} bytes)")
    }
    assert(!new java.io.File(s"$d2/.export_chunks").exists,
      "the distributed exporter left its chunk staging behind")
  }

  // ---------------- sessionize -----------------------------------------
  test("sessionize splits on gap > threshold") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000L)
    val events = Seq(
      (1L, ts(0), 100L, "a", 1.0, ""),
      (2L, ts(10), 100L, "a", 1.0, ""),
      (3L, ts(60), 100L, "a", 1.0, ""),   // 50-min gap ⇒ new session
      (4L, ts(65), 100L, "a", 1.0, ""),
      (5L, ts(0), 200L, "a", 1.0, "")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = Sessionize.sessionize(events, 30)
      .select("event_id", "session_seq").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 1L))
  }

  test("hyperplane-LSH near-dup finds high-cosine pairs without O(n²) scan") {
    import spark.implicits._
    val rnd = new java.util.Random(5)
    val baseVec = Array.fill(64)(rnd.nextFloat() * 2f - 1f)
    val nearDup = baseVec.map(x => x + (rnd.nextFloat() - 0.5f) * 0.01f) // cos ≈ 0.9999
    val others = (2L until 100L).map(i => (i, Array.fill(64)(rnd.nextFloat() * 2f - 1f).toSeq))
    val df = (Seq((0L, baseVec.toSeq), (1L, nearDup.toSeq)) ++ others)
      .toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDupLSH(spark, df, threshold = 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((0L, 1L)), s"LSH missed the planted near-dup: $got")
    // exact counterpart agrees
    val exact = Dedup.embeddingNearDup(df, 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(exact), "LSH produced a pair exact cosine rejects")
  }

  test("portable hyperplane LSH: finds planted near-dup, subset of exact, deterministic") {
    import spark.implicits._
    val rnd = new java.util.Random(7)
    val baseVec = Array.fill(64)(rnd.nextFloat() * 2f - 1f)
    val nearDup = baseVec.map(x => x + (rnd.nextFloat() - 0.5f) * 0.01f)
    val others = (2L until 100L).map(i => (i, Array.fill(64)(rnd.nextFloat() * 2f - 1f).toSeq))
    val df = (Seq((0L, baseVec.toSeq), (1L, nearDup.toSeq)) ++ others)
      .toDF("vec_id", "embedding")
    val got = Dedup.hyperplaneLshPortable(df, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((0L, 1L)), s"portable LSH missed the planted near-dup: $got")
    val exact = Dedup.embeddingNearDup(df, 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(exact), "LSH produced a pair exact cosine rejects")
    // bit-for-bit deterministic across invocations (the portability claim)
    val again = Dedup.hyperplaneLshPortable(df, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == again)
  }

  test("HyperplaneSigF32 expression equals the VectorOps.dot sign loop (codegen path)") {
    import spark.implicits._
    val rnd = new java.util.Random(3)
    val dim = 48; val numBands = 4; val bandBits = 16
    val planes = Array.fill(numBands * bandBits, dim)(rnd.nextGaussian().toFloat)
    val vecs = (0L until 50L).map(i => (i, Array.fill(dim)(rnd.nextFloat() * 2f - 1f).toSeq))
    val df = vecs.toDF("vec_id", "embedding")
    val got = df.select(col("vec_id"),
        graft.functions.VectorExpressions.hyperplaneSig(
          col("embedding"), planes.flatten, numBands, bandBits).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // reference loop: bit i of band b = sign of dot(x, plane(b*bandBits+i))
    vecs.foreach { case (id, v) =>
      val x = v.toArray
      val want = Array.tabulate(numBands) { b =>
        (0 until bandBits).foldLeft(0L) { (bits, i) =>
          if (graft.functions.VectorOps.dot(x, planes(b * bandBits + i)) > 0)
            bits | (1L << i) else bits
        }
      }.toSeq
      assert(got(id) == want, s"vec $id: ${got(id)} != $want")
    }
  }

  test("semanticDedup drops planted near-dup copies, keeps min-id representatives, " +
      "untouched vectors survive") {
    import spark.implicits._
    val rnd = new java.util.Random(9)
    val base = (0L until 100L).map(i => (i, Array.fill(32)(rnd.nextFloat() * 2f - 1f)))
    // copies of vecs 0..4 with a tiny nudge (cos ≈ 0.9999) and a chain:
    // 200 ~ 0, 205 ~ 200 — transitivity must collapse {0, 200, 205}
    val copies = (0L until 5L).map(i => (200L + i, base(i.toInt)._2.map(_ + 0.001f))) :+
      ((205L, base(0)._2.map(_ + 0.002f)))
    val df = (base ++ copies).map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val centroids = df.filter(col("vec_id") % 13 === 0).orderBy(col("vec_id")).limit(8)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val got = Curation.semanticDedup(spark, df, centroids, threshold = 0.95)
      .collect().map(_.getLong(0)).toSet
    // every copy is dropped (its source has the smaller id and embeds in
    // the same cluster); every original survives
    assert((200L to 205L).forall(id => !got.contains(id)), s"copies survived: $got")
    assert((0L until 100L).forall(got.contains), "an original was dropped")
  }

  test("semanticDedupHier (two-level assignment) drops planted copies like the flat " +
      "variant; every original survives") {
    import spark.implicits._
    val rnd = new java.util.Random(9)
    val base = (0L until 100L).map(i => (i, Array.fill(32)(rnd.nextFloat() * 2f - 1f)))
    val copies = (0L until 5L).map(i => (200L + i, base(i.toInt)._2.map(_ + 0.001f))) :+
      ((205L, base(0)._2.map(_ + 0.002f)))
    val df = (base ++ copies).map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val centroids = df.filter(col("vec_id") % 13 === 0).orderBy(col("vec_id")).limit(8)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val got = Curation.semanticDedupHier(spark, df, centroids, threshold = 0.95, branch = 3)
      .collect().map(_.getLong(0)).toSet
    assert((200L to 205L).forall(id => !got.contains(id)), s"copies survived: $got")
    assert((0L until 100L).forall(got.contains), "an original was dropped")
    assert(got.size == 100)
  }

  test("semanticDedupHier stays correct when k-means returns FEWER supers than " +
      "branch (duplicate-heavy centroids) — downstream arrays size to the " +
      "actual center count") {
    import spark.implicits._
    val rnd = new java.util.Random(23)
    val base = (0L until 90L).map(i => (i, Array.fill(32)(rnd.nextFloat() * 2f - 1f)))
    val copies = (0L until 4L).map(i => (400L + i, base(i.toInt)._2.map(_ + 0.001f)))
    val df = (base ++ copies).map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    // 6 centroid rows but only TWO distinct points: pre-fix this CRASHED
    // inside MLlib's block training (k centers indexed, <k distinct
    // found), and any path returning fewer centers than requested would
    // have made the kernel misread the super-matrix stride — both
    // covered by capping branch at the distinct count + sizing member
    // arrays by the ACTUAL center count
    val centroids = Seq(
      (0L, base(0)._2.toSeq), (1L, base(0)._2.toSeq), (2L, base(0)._2.toSeq),
      (3L, base(50)._2.toSeq), (4L, base(50)._2.toSeq), (5L, base(50)._2.toSeq))
      .toDF("cid", "ce")
    val got = Curation.semanticDedupHier(spark, df, centroids, threshold = 0.95, branch = 5)
      .collect().map(_.getLong(0)).toSet
    assert((400L to 403L).forall(id => !got.contains(id)), s"copies survived: $got")
    assert((0L until 90L).forall(got.contains), "an original was dropped")
    assert(got.size == 90)
    // and the assignment must equal FLAT assignment exactly: with every
    // centroid a member of some super and ≤2 supers over 2 distinct
    // points, the two-level argmin scans the same candidate set
    val flat = Curation.semanticDedup(spark, df, centroids, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hier = Curation.semanticDedupHier(spark, df, centroids, threshold = 0.95, branch = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hier == flat && flat.nonEmpty)
  }

  test("semanticDedupHier at branch=1 equals the flat variant EXACTLY (degenerate " +
      "single super: member scan covers all k)") {
    import spark.implicits._
    val rnd = new java.util.Random(11)
    val base = (0L until 120L).map(i => (i, Array.fill(32)(rnd.nextFloat() * 2f - 1f)))
    val copies = (0L until 6L).map(i => (300L + i, base(i.toInt)._2.map(_ + 0.001f)))
    val df = (base ++ copies).map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val centroids = df.filter(col("vec_id") % 11 === 0).orderBy(col("vec_id")).limit(10)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val flat = Curation.semanticDedup(spark, df, centroids, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hier1 = Curation.semanticDedupHier(spark, df, centroids, threshold = 0.95, branch = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hier1 == flat && flat.nonEmpty)
  }

  test("incrementalSemanticDedup: history near-dups dropped, fresh and " +
      "within-incoming dups survive; broadcast and co-partitioned paths agree") {
    import spark.implicits._
    val rnd = new java.util.Random(17)
    val hist = (0L until 80L).map(i => (i, Array.fill(32)(rnd.nextFloat() * 2f - 1f)))
    // incoming: 500..504 are near-copies of history 0..4 (dropped);
    // 510..519 fresh (survive); 520/521 near-dups OF EACH OTHER but of no
    // history vector — BOTH survive (they are new to the corpus, the
    // incrementalNew contract)
    val freshBase = Array.fill(32)(rnd.nextFloat() * 2f - 1f)
    val inc = (0L until 5L).map(i => (500L + i, hist(i.toInt)._2.map(_ + 0.001f))) ++
      (0L until 10L).map(i => (510L + i, Array.fill(32)(rnd.nextFloat() * 2f - 1f))) ++
      Seq((520L, freshBase.map(_ + 0.001f)), (521L, freshBase.map(_ + 0.002f)))
    val histDf = hist.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val incDf = inc.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val centroids = histDf.filter(col("vec_id") % 13 === 0).orderBy(col("vec_id")).limit(6)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val got = Curation.incrementalSemanticDedup(spark, histDf, incDf, centroids,
      threshold = 0.95).collect().map(_.getLong(0)).toSet
    assert((500L until 505L).forall(id => !got.contains(id)), s"history dup survived: $got")
    assert((510L until 520L).forall(got.contains), s"fresh vector dropped: $got")
    assert(got.contains(520L) && got.contains(521L),
      "within-incoming dups must BOTH survive (new to the corpus)")
    assert(got.size == 12)
    // the co-partitioned fallback (incoming too big to broadcast) must
    // produce the identical set
    val coPart = Curation.incrementalSemanticDedup(spark, histDf, incDf, centroids,
      threshold = 0.95, broadcastIncoming = false).collect().map(_.getLong(0)).toSet
    assert(coPart == got)
    // and the hier-assignment variant agrees on this fixture (both sides
    // share one kernel, so cluster equality stays self-consistent)
    val hier = Curation.incrementalSemanticDedup(spark, histDf, incDf, centroids,
      threshold = 0.95, branch = -1).collect().map(_.getLong(0)).toSet
    assert((500L until 505L).forall(id => !hier.contains(id)))
    assert(hier.contains(520L) && hier.contains(521L))
  }

  test("VecsStream.newVectors (streaming incremental semantic dedup): multi-batch " +
      "file replay emits EXACTLY the batch operator's rows") {
    import spark.implicits._
    val rnd = new java.util.Random(23)
    val hist = (0L until 60L).map(i => (i, Array.fill(24)(rnd.nextFloat() * 2f - 1f)))
    val inc = (0L until 4L).map(i => (400L + i, hist(i.toInt)._2.map(_ + 0.001f))) ++
      (0L until 8L).map(i => (410L + i, Array.fill(24)(rnd.nextFloat() * 2f - 1f)))
    val histDf = hist.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val incDf = inc.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val centroids = histDf.filter(col("vec_id") % 11 === 0).orderBy(col("vec_id")).limit(5)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val dir = java.nio.file.Files.createTempDirectory("vecs_stream").toString
    incDf.repartition(3).write.parquet(s"$dir/in") // 3 files → 3 micro-batches
    val streamed = graft.streaming.VecsStream.newVectors(spark, s"$dir/in",
      histDf, centroids, threshold = 0.95, "vecs_stream_spec",
      maxFilesPerTrigger = Some(1))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Curation.incrementalSemanticDedup(spark, histDf, incDf, centroids,
      threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    assert((400L until 404L).forall(id => !streamed.exists(_._1 == id)))
    assert((410L until 418L).forall(id => streamed.exists(_._1 == id)))
  }

  test("IngestStream.curatedIngest: multi-batch file replay equals the four-stage " +
      "batch conjunction, with every stage exercised") {
    import spark.implicits._
    import graft.operators.Quality
    def sent(seed: Int) = {
      val r = new java.util.Random(seed)
      (0 until 20).map(_ => s"w${r.nextInt(500)}").mkString(" ")
    }
    // split candidate texts by quality margin sign so each dup-stage
    // assertion below uses a POSITIVE-margin doc (the quality filter
    // can't mask the stage under test) and the quality assertion uses a
    // negative-margin one
    val cand = (0 until 80).map(i => (i.toLong, sent(i)))
    val posIds = Quality.qualityScore(cand.toDF("doc_id", "text"))
      .filter(col("margin_sum") > 0).collect().map(_.getLong(0)).toSet
    val posTexts = cand.filter(c => posIds.contains(c._1)).map(_._2)
    val negTexts = cand.filterNot(c => posIds.contains(c._1)).map(_._2)
    assert(posTexts.size >= 16 && negTexts.nonEmpty, "fixture needs both margin signs")
    // a positive-margin near-copy of posTexts(1) for the minhash stage
    val nearCopies = (0 until 40).map(k =>
      posTexts(1).split(" ").toSeq.updated(19, s"wX$k").mkString(" "))
    val ncPos = {
      val ids = Quality.qualityScore(
        nearCopies.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text"))
        .filter(col("margin_sum") > 0).collect().map(_.getLong(0))
      assert(ids.nonEmpty); nearCopies(ids.head.toInt)
    }
    val rnd = new java.util.Random(31)
    def vec() = Seq.fill(16)(rnd.nextFloat() * 2f - 1f)
    val histDocs = (0L until 8L).map(i => (i, posTexts(i.toInt), posTexts(i.toInt).length.toLong))
    val histVecs = (0L until 8L).map(i => (i, vec()))
    // incoming: 900 exact-dup of history 0; 901 minhash near-dup of
    // history 1; 902 fresh text but semantic near-dup of history 2's
    // vector; 920 negative-margin text; 910..913 fresh on all four axes
    val inc = Seq(
      (900L, posTexts(0), posTexts(0).length.toLong),
      (901L, ncPos, ncPos.length.toLong),
      (902L, posTexts(8), posTexts(8).length.toLong),
      (920L, negTexts(0), negTexts(0).length.toLong)) ++
      (0 until 4).map(i => (910L + i, posTexts(9 + i), posTexts(9 + i).length.toLong))
    val incVecs = inc.map { case (id, _, _) =>
      (id, if (id == 902L) histVecs(2)._2.map(x => x + 0.001f) else vec())
    }
    val histDf = histDocs.toDF("doc_id", "text", "n_chars")
    val histEmb = histVecs.toDF("vec_id", "embedding")
    val embLookup = histEmb.unionByName(incVecs.toDF("vec_id", "embedding"))
    val centroids = histEmb.orderBy(col("vec_id")).limit(3)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val dir = java.nio.file.Files.createTempDirectory("ingest_stream").toString
    inc.toDF("doc_id", "text", "n_chars").repartition(3)
      .write.parquet(s"$dir/in") // 3 files → 3 micro-batches
    val bloom = Dedup.historyBloomPredicate(histDf, 1000, 0.01)
    // bootstrap an index over history so the indexInto leg (q114) is
    // exercised in the same run: survivors — and ONLY survivors — must
    // land in the appended index
    val (idxModel, idx0) = RabitqIndex.build(spark, histEmb, numClusters = 4, seed = 9L)
    val idxDir = java.nio.file.Files.createTempDirectory("ingest_idx").toString
    RabitqIndex.save(spark, idxModel, idx0, idxDir)
    val streamed = graft.streaming.IngestStream.curatedIngest(spark, s"$dir/in",
      histDf, histEmb, embLookup, centroids, bloom,
      cosineThreshold = 0.95, shingleN = 3, simThreshold = 0.5,
      dir, "ingest_stream_spec", maxFilesPerTrigger = Some(1),
      indexInto = Some((idxModel, idxDir)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val indexedIds = RabitqIndex.load(spark, idxDir)._2
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val histIds = (0L until 8L).toSet
    assert(indexedIds == histIds ++ streamed.map(_._1),
      s"index must hold history ∪ survivors exactly: $indexedIds vs ${histIds ++ streamed.map(_._1)}")
    // batch reference: the same conjunction via the batch operators
    val incDf = inc.toDF("doc_id", "text", "n_chars")
    val posInc = Quality.qualityScore(incDf).filter(col("margin_sum") > 0).select("doc_id")
    val afterQ = incDf.join(posInc, Seq("doc_id"), "left_semi")
    val afterE = Dedup.incrementalNew(histDf, afterQ, bloom)
    val afterM = Dedup.incrementalMinhashNew(histDf, afterE, n = 3, simThreshold = 0.5)
    val semIds = graft.operators.Curation.incrementalSemanticDedup(spark, histEmb,
      incVecs.toDF("vec_id", "embedding"), centroids, threshold = 0.95)
      .select(col("vec_id").as("doc_id"))
    val batch = afterM.join(semIds, Seq("doc_id"), "left_semi")
      .select("doc_id", "n_chars")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    assert(!streamed.exists(_._1 == 900L), "exact dup must not ship")
    assert(!streamed.exists(_._1 == 901L), "minhash near-dup must not ship")
    assert(!streamed.exists(_._1 == 902L), "semantic near-dup must not ship")
    assert(!streamed.exists(_._1 == 920L), "negative-margin doc must not ship")
    assert((910L until 914L).forall(id => streamed.exists(_._1 == id)),
      s"fresh doc dropped: $streamed")
  }

  test("IngestStream.curateBatch: day-batch broadcasts are hint-driven — the shape " +
      "holds with auto-broadcast disabled and no join falls back to sort-merge") {
    import spark.implicits._
    import graft.operators.Quality
    def sent(seed: Int) = {
      val r = new java.util.Random(seed)
      (0 until 20).map(_ => s"w${r.nextInt(500)}").mkString(" ")
    }
    val rnd = new java.util.Random(77)
    def vec() = Seq.fill(8)(rnd.nextFloat() * 2f - 1f)
    val histDf = (0L until 6L).map(i => (i, sent(i.toInt), 100L))
      .toDF("doc_id", "text", "n_chars")
    val histEmb = (0L until 6L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val batch = (0 until 6).map(i => (200L + i, sent(100 + i), 100L))
      .toDF("doc_id", "text", "n_chars")
    val embLookup = histEmb.unionByName(
      (0 until 6).map(i => (200L + i, vec())).toDF("vec_id", "embedding"))
    val centroids = histEmb.orderBy(col("vec_id")).limit(2)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val (histSets, histBands) = Dedup.minhashHistory(histDf, 3)
    val cent = Curation.collectCentroids(centroids)
    val cluster = Curation.flatAssignment(cent)
    val histAssigned = histEmb
      .select(col("embedding").as("he"), cluster.as("hcluster"))
    val bloom = Dedup.historyBloomPredicate(histDf, 100, 0.01)
    def survivors() = graft.streaming.IngestStream.curateBatch(batch, histDf,
      embLookup, histSets, histBands, histAssigned, cluster, bloom,
      cosineThreshold = 0.95, shingleN = 3, simThreshold = 0.5)._1
    val defaultRows = survivors().select("doc_id").collect().map(_.getLong(0)).toSet
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val s2 = survivors()
      val plan = s2.queryExecution.executedPlan
      val bx = plan.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
      }
      assert(bx.nonEmpty,
        "day-batch broadcast hints must hold with auto-broadcast disabled")
      val smj = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(smj.isEmpty,
        s"no join may fall back to sort-merge (history would shuffle): ${smj.length}")
      assert(s2.select("doc_id").collect().map(_.getLong(0)).toSet == defaultRows,
        "join strategy must not change the survivor set")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
    histSets.unpersist(); histBands.unpersist()
  }

  test("incrementalMinhashNew: history near-dups dropped; fresh, within-incoming " +
      "near-dups, and too-short docs all survive") {
    import spark.implicits._
    def sent(seed: Int) = {
      val r = new java.util.Random(seed)
      (0 until 20).map(_ => s"w${r.nextInt(500)}").mkString(" ")
    }
    val hist = (0L until 30L).map(i => (i, sent(i.toInt)))
    // 900..902: near-copies of history 0..2 (one token changed — jaccard
    // ≈ 0.9); 910..914: fresh; 920/921: near-dups of EACH OTHER only;
    // 930: too short to shingle (2 tokens)
    def nearCopy(t: String) = t.split(" ").toSeq.updated(19, "wX").mkString(" ")
    val freshPair = sent(777)
    val inc = (0L until 3L).map(i => (900L + i, nearCopy(hist(i.toInt)._2))) ++
      (0L until 5L).map(i => (910L + i, sent(1000 + i.toInt))) ++
      Seq((920L, freshPair), (921L, nearCopy(freshPair)), (930L, "just two"))
    val histDf = hist.toDF("doc_id", "text")
    val incDf = inc.toDF("doc_id", "text")
    val got = Dedup.incrementalMinhashNew(histDf, incDf, n = 3, simThreshold = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert((900L until 903L).forall(id => !got.contains(id)), s"history near-dup survived: $got")
    assert((910L until 915L).forall(got.contains), s"fresh doc dropped: $got")
    assert(got.contains(920L) && got.contains(921L),
      "within-incoming near-dups must BOTH survive (new to the corpus)")
    assert(got.contains(930L), "unshingleable doc must survive")
    assert(got.size == 8)
  }

  test("repetitionSignals: known fractions, single-token and repeated docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a b"),        // top word 3/4; bigrams: "a a","a a","a b" → 2/3
      (2L, "x y z"),          // all distinct: 1/3, bigrams 1/2
      (3L, "solo"),           // one token: frac 1.0, no bigrams → 0.0
      (4L, "w w w w")         // fully repeated: 1.0 and 1.0
    ).toDF("doc_id", "text")
    val got = TextOps.repetitionSignals(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((4L, 3.0 / 4.0, 2.0 / 3.0)))
    assert(got(2L) == ((3L, 1.0 / 3.0, 1.0 / 2.0)))
    assert(got(3L) == ((1L, 1.0, 0.0)))
    assert(got(4L) == ((4L, 1.0, 1.0)))
  }

  test("sketch gates q46/q47 hold at sf0.001 (HLL within 5%, quantiles within 1%)") {
    val q46 = SparkEntry.queries("q46_hll_distinct")(spark, sf).head()
    assert(q46.getLong(0) == 1L && q46.getLong(1) == 1L, s"HLL gate failed: $q46")
    val q47 = SparkEntry.queries("q47_quantile_sketch")(spark, sf).head()
    assert((0 until 3).forall(q47.getLong(_) == 1L), s"quantile gate failed: $q47")
  }

  test("wide-signature LSH (128 planes, 32-bit bands) still finds planted near-dups") {
    import spark.implicits._
    // the 10^9-scale configuration: 4 bands x 32 bits. At tiny n almost
    // nothing shares a 32-bit band by chance, but a cos~0.9999 pair
    // agrees on each band w.p. ~(1-theta/pi)^32 ~ 0.87 -> ~1-(1-0.87)^4
    // overall; seed chosen so the planted pair collides.
    val rnd = new java.util.Random(11)
    val baseVec = Array.fill(64)(rnd.nextFloat() * 2f - 1f)
    val nearDup = baseVec.map(x => x + (rnd.nextFloat() - 0.5f) * 0.005f)
    val others = (2L until 200L).map(i => (i, Array.fill(64)(rnd.nextFloat() * 2f - 1f).toSeq))
    val df = (Seq((0L, baseVec.toSeq), (1L, nearDup.toSeq)) ++ others)
      .toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDupLSH(spark, df, threshold = 0.95,
      numBands = 4, numPlanes = 128)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((0L, 1L)), s"wide-signature LSH missed the planted near-dup: $got")
    val exact = Dedup.embeddingNearDup(df, 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(exact))
  }

  test("banded-LSH exchanges carry ids only — no embedding below the band exchange") {
    import spark.implicits._
    val rnd = new java.util.Random(13)
    val df = (0L until 50L).map(i => (i, Array.fill(32)(rnd.nextFloat() * 2f - 1f).toSeq))
      .toDF("vec_id", "embedding")
    // at 50 rows Spark would broadcast the band join (no exchange at all),
    // so force the shuffle the assertion is about; restore prior confs after
    val prevAdaptive = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for ((name, q) <- Seq(
        "gaussian" -> Dedup.embeddingNearDupLSH(spark, df, threshold = 0.95),
        "portable" -> Dedup.hyperplaneLshPortable(df, threshold = 0.95))) {
        val bandExchanges = q.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.toString.contains("band") => e
        }
        assert(bandExchanges.nonEmpty, s"$name: no band exchange found")
        bandExchanges.foreach { e =>
          val arrayCols = e.child.output.filter(
            _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
          assert(arrayCols.isEmpty,
            s"$name: band exchange shuffles vector columns ${arrayCols.map(_.name)}")
        }
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAdaptive)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    }
  }

  test("largeBatch=true plans shuffled joins — no broadcast on query-sized sides") {
    val (model, index) = RabitqIndex.build(spark, emb, numClusters = 8, seed = 3L)
    val queries = ExactKnn.queriesFromEmbeddings(emb, 10)
    // -1 threshold simulates "sides too big to broadcast" (what largeBatch
    // is for); AQE off so the executed plan is the static one under test
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val large = RabitqQuery.topK(spark, model, index, emb, queries,
        nprobe = 4, topk = 10, rerank = 50, largeBatch = true)
      val bx = large.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
      }
      assert(bx.isEmpty,
        s"largeBatch=true must not broadcast query-sized sides; found ${bx.length}")
      val small = RabitqQuery.topK(spark, model, index, emb, queries,
        nprobe = 4, topk = 10, rerank = 50)
      val smallBx = small.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
      }
      // the serving shape broadcasts BY HINT, immune to the threshold
      assert(smallBx.nonEmpty, "small-batch path lost its broadcast hints")
      // identical results either way — join strategy only
      assert(large.collect().map(_.toSeq).toSet == small.collect().map(_.toSeq).toSet)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("HotTier results are byte-identical to the Spark ANN path") {
    val (model, index) = RabitqIndex.build(spark, emb, numClusters = 8, seed = 3L)
    val hot = HotTier.fromIndex(spark, model, index, emb)
    val queries = ExactKnn.queriesFromEmbeddings(emb, 10)
    val qRows = queries.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    for ((nprobe, rerank) <- Seq((4, 50), (8, 10000))) {
      val sparkRes = RabitqQuery.topK(spark, model, index, emb, queries,
        nprobe = nprobe, topk = 10, rerank = rerank)
        .select("query_id", "neighbor_id", "dist", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      val hotRes = qRows.flatMap { case (qid, v) =>
        hot.query(v, nprobe, 10, rerank).zipWithIndex.map { case ((id, d), i) =>
          (qid, id, d, i + 1L)
        }
      }.toSet
      assert(hotRes == sparkRes,
        s"nprobe=$nprobe rerank=$rerank: ${(hotRes diff sparkRes).take(3)} vs ${(sparkRes diff hotRes).take(3)}")
    }
    // label-filtered: the hot tier takes the labels from the base (the
    // index rows carry none); filteredTopK filters the labeled index and
    // measures the selectivity the hot tier reads from its histogram
    val labeled = index.join(emb.select("vec_id", "label"), Seq("vec_id"))
    for (label <- Seq(7L, 99999L); (nprobe, rerank) <- Seq((2, 20), (4, 50))) {
      val sparkRes = RabitqQuery.filteredTopK(spark, model, labeled, emb, queries,
          col("label") === label, nprobe = nprobe, topk = 10, rerank = rerank)
        .select("query_id", "neighbor_id", "dist", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      val hotRes = qRows.flatMap { case (qid, v) =>
        hot.query(v, nprobe, 10, rerank, Some(label)).zipWithIndex.map { case ((id, d), i) =>
          (qid, id, d, i + 1L)
        }
      }.toSet
      assert(hotRes == sparkRes, s"label=$label nprobe=$nprobe rerank=$rerank: " +
        s"${(hotRes diff sparkRes).take(3)} vs ${(sparkRes diff hotRes).take(3)}")
      assert(label != 7L || hotRes.nonEmpty, "label 7 has no neighbors: parity is vacuous")
    }
  }

  test("cosine ANN (L2 index on normalized vectors) equals exact cosine ranks") {
    val embN = ExactKnn.normalized(emb, "embedding")
    val (model, index) = RabitqIndex.build(spark, embN, numClusters = 8, seed = 3L)
    val qN = ExactKnn.normalized(
      ExactKnn.queriesFromEmbeddings(emb, 10).withColumnRenamed("qvec", "embedding"), "embedding")
      .withColumnRenamed("embedding", "qvec")
    val viaIndex = RabitqQuery.topK(spark, model, index, embN, qN, 8, 10, 4096)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    val exact = ExactKnn.cosineTopK(emb, ExactKnn.queriesFromEmbeddings(emb, 10), 10)
      .select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(viaIndex == exact)
  }

  // ---------------- streaming ------------------------------------------
  test("stateful streaming sessionization matches batch on closed sessions") {
    import graft.streaming.SessionStream
    val streamFull = SessionStream.runOnce(spark, s"$sf/events.parquet", 30, "test_sessions")
    val stream = streamFull.select("user_id", "session_seq", "n_events", "span_us")
    val events = SparkEntryTestAccess.table(spark, sf, "events")
    val batchFull = Sessionize.sessionStats(events, 30)
    val batch = batchFull.select("user_id", "session_seq", "n_events", "span_us")
    // sessions still open at end-of-data stay in state: compare on the
    // closed set = batch sessions minus each user's LAST session
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
    val closedBatch = batch
      .withColumn("max_seq", max(col("session_seq")).over(w))
      .filter(col("session_seq") < col("max_seq")).drop("max_seq")
    val gotSet = stream.collect().map(_.toSeq).toSet
    val mustClose = closedBatch.collect().map(_.toSeq).toSet
    val allBatch = batch.collect().map(_.toSeq).toSet
    // a user's LAST session may also close via event-time timeout (its end
    // fell behind the final watermark), so the exact contract is:
    //   definitely-closed ⊆ streamed ⊆ all sessions
    assert(mustClose.subsetOf(gotSet),
      s"stream missed closed sessions: ${(mustClose -- gotSet).take(3)}")
    assert(gotSet.subsetOf(allBatch),
      s"stream emitted sessions batch doesn't have: ${(gotSet -- allBatch).take(3)}")
    // matched sessions agree on total_value too — the stream folds doubles
    // in event order while batch accumulates decimal, so tolerance, not
    // equality (which is why q89's gate hash-compares the integer columns
    // only and this check lives here)
    val worstDelta = streamFull.select(col("user_id"), col("session_seq"),
        col("total_value").as("tv_stream"))
      .join(batchFull.select(col("user_id"), col("session_seq"),
        col("total_value").as("tv_batch")), Seq("user_id", "session_seq"))
      .agg(max(abs(col("tv_stream") - col("tv_batch")))).head().getDouble(0)
    assert(worstDelta < 1e-6, s"total_value drift $worstDelta")
  }

  test("sessionGates (q89) trips on each violation class, passes on legal sets") {
    import spark.implicits._
    // 2 users × 2 sessions; session 1 of each user is definitely-closed
    def df(rows: (Long, Long, Long, Long, Double)*) =
      rows.toDF("user_id", "session_seq", "n_events", "span_us", "total_value")
    val batch = df((1L, 1L, 3L, 100L, 1.5), (1L, 2L, 2L, 50L, 2.5),
      (2L, 1L, 4L, 200L, 3.5), (2L, 2L, 1L, 0L, 4.5))
    def gates(streamed: org.apache.spark.sql.DataFrame): (Long, Long, Long, Long) = {
      val r = Sessionize.sessionGates(batch, streamed).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    // exactly the closed set → all green; closed set + a legally-closed
    // final session (timeout) → still green. Sub-tolerance double drift
    // (stream folds in event order) must NOT trip value_ok.
    assert(gates(df((1L, 1L, 3L, 100L, 1.5 + 1e-9), (2L, 1L, 4L, 200L, 3.5)))
      == ((1L, 1L, 1L, 1L)))
    assert(gates(df((1L, 1L, 3L, 100L, 1.5), (2L, 1L, 4L, 200L, 3.5),
      (2L, 2L, 1L, 0L, 4.5))) == ((1L, 1L, 1L, 1L)))
    // missing a definitely-closed session → closed_ok trips
    assert(gates(df((1L, 1L, 3L, 100L, 1.5)))._1 == 0L)
    // a streamed session batch doesn't have (wrong n_events) → bounded_ok
    assert(gates(df((1L, 1L, 3L, 100L, 1.5), (2L, 1L, 99L, 200L, 3.5)))._2 == 0L)
    // right key, wrong total_value (beyond 1e-6) → value_ok trips, and
    // ONLY value_ok — the set gates stay green
    val v = gates(df((1L, 1L, 3L, 100L, 1.5), (2L, 1L, 4L, 200L, 3.501)))
    assert(v == ((1L, 1L, 1L, 0L)), s"got $v")
    // empty stream → nonempty_ok (and closed_ok) trip
    val e = gates(df())
    assert(e._3 == 0L && e._1 == 0L)
  }

  test("sessionizeBucketed equals sessionize incl. a hot bot user; windows stay bucket-bounded") {
    import spark.implicits._
    // synthetic skew: one bot user firing every 7 minutes for 60 days
    // (sessions span bucket boundaries whenever the 30-min gap straddles
    // midnight) + organic users with multi-session histories + a user
    // whose single session CROSSES three day-buckets (events every 20
    // minutes for 50 hours) + same-µs ties
    val base = java.time.Instant.parse("2024-03-01T00:00:00Z")
    def at(us: Long) = java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L)
    val bot = (0L until 12000L).map { i =>
      (i, at(base.getEpochSecond * 1000000L + i * 7L * 60L * 1000000L), 7L, 1.0)
    }
    val crosser = (0L until 150L).map { i =>
      (100000L + i, at(base.getEpochSecond * 1000000L + i * 20L * 60L * 1000000L), 8L, 2.0)
    }
    val organic = (0L until 500L).flatMap { i =>
      val uid = 100L + (i % 7L)
      // bursts separated by > gap, bursts of 3 events 5 min apart, incl. ties
      val burstStart = base.getEpochSecond * 1000000L + i * 2L * 3600L * 1000000L
      Seq((200000L + i * 3L, at(burstStart), uid, 0.5),
        (200001L + i * 3L, at(burstStart + 5L * 60L * 1000000L), uid, 0.5),
        (200002L + i * 3L, at(burstStart + 5L * 60L * 1000000L), uid, 0.5))
    }
    val events = (bot ++ crosser ++ organic)
      .toDF("event_id", "ts", "user_id", "value")
    val plain = Sessionize.sessionStats(events, 30)
    val bucketed = Sessionize.sessionStatsBucketed(events, 30, bucketMinutes = 1440)
    assert(plain.collect().map(_.toSeq).toSet == bucketed.collect().map(_.toSeq).toSet)
    // tiny buckets (15 min < gap): sessions span MANY buckets — stitch
    // must still be exact
    val tiny = Sessionize.sessionStatsBucketed(events, 30, bucketMinutes = 15)
    assert(plain.collect().map(_.toSeq).toSet == tiny.collect().map(_.toSeq).toSet)
    // the plan's event-level windows must partition by (user_id, bucket),
    // never by user_id alone — that's the whole point of the split
    val planStr = Sessionize.sessionizeBucketed(events, 30)
      .queryExecution.executedPlan.toString
    val windowLines = planStr.linesIterator.filter(_.contains("Window")).toList
    assert(windowLines.exists(_.contains("_bkt")),
      s"no bucket-partitioned window in plan:\n$planStr")
  }

  test("streaming windowed counts equals batch equivalent") {
    val stream = graft.streaming.EventsStream
      .runOnce(spark, s"$sf/events.parquet", 60, "test_events_win")
      .select("win_start", "event_type", "n")
    val events = SparkEntryTestAccess.table(spark, sf, "events")
    val batch = Sessionize.windowedCounts(events, 60)
      .select("win_start", "event_type", "n")
    assert(stream.collect().map(_.toSeq).toSet == batch.collect().map(_.toSeq).toSet)
  }

  // ---------------- codegen expressions ---------------------------------
  test("PolyHashString: codegen span, SQL registration, fold parity incl. empty/unicode") {
    import spark.implicits._
    // incl. a supplementary-plane char: the fold must consume ONE
    // codepoint step (like split(s,'')→ascii and DuckDB), not two
    // UTF-16 surrogate steps
    val cases = Seq("hello", "", "a", "w123 w456", "héllo wörld", "  spaces  ", "a😀b")
    def fold(s: String): Long =
      s.codePoints().toArray.foldLeft(0L)((acc, cp) => (acc * 131L + cp) % 1000000007L)
    val df = cases.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s")
    val got = df.select(col("id"),
      graft.functions.TextExpressions.polyHash(col("s"), 131L, 1000000007L).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cases.zipWithIndex.foreach { case (s, i) => assert(got(i.toLong) == fold(s), s"'$s'") }
    // parity with the HOF chain the expression replaced
    val viaHof = df.select(col("id"), aggregate(
      filter(split(col("s"), ""), c => length(c) > 0),
      lit(0L),
      (acc, c) => (acc * lit(131L) + ascii(c).cast("long")) % lit(1000000007L)).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaHof == got, "expression diverges from the replaced aggregate/split/ascii chain")
    // SQL surface + codegen span on a file-backed scan
    graft.functions.VectorExpressions.register(spark)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.createOrReplaceTempView("polyhash_docs")
    val viaSql = spark.sql("SELECT graft_polyhash(text) AS h FROM polyhash_docs").count()
    assert(viaSql == docs.count())
    val plan = docs.select(graft.functions.TextExpressions.polyHash(col("text"), 131L, 1000000007L))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_polyhash"), plan)
  }

  test("ShinglePolyHashes equals the HOF token-hash + window-fold chain it replaced") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val docs = ((0 until 60).map { i =>
      val len = rnd.nextInt(8) // includes 0/1/2-token docs below the n=3 cutoff
      (i.toLong, Seq.fill(len)("w" + rnd.nextInt(20)).mkString(" "))
    } ++ Seq((100L, ""), (101L, "one"), (102L, "héllo wörld a😀b mixed  spaces"),
      // Spark trim strips only SPACES: tab/newline-bounded docs keep the
      // boundary whitespace, and split(s, "\s+") (limit -1) then yields
      // boundary EMPTY tokens — the fused tokenizer must fold them too
      (103L, "\ta b c"), (104L, "a b\t"), (105L, "x\ny z\t"), (106L, "\t\t"))).toDF("doc_id", "text")
    val n = 3
    val norm = trim(lower(col("text")))
    // the replaced chain, reconstructed
    val toks = split(norm, "\\s+")
    val tokHashes = transform(toks, t => graft.functions.TextExpressions.polyHash(t, 131L, 1000000007L))
    val oldArr = flatten(transform(array(tokHashes), th =>
      transform(sequence(lit(0), size(th) - n),
        i => (0 until n).foldLeft(lit(0L): org.apache.spark.sql.Column)((acc, j) =>
          (acc * lit(131L) + element_at(th, i + j + 1)) % lit(1000000007L)))))
    val old = docs.filter(size(toks) >= n)
      .select(col("doc_id"), explode(oldArr).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val fused = docs.select(col("doc_id"), explode(
        graft.functions.TextExpressions.shinglePolyHashes(norm, n, 131L, 1000000007L)).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(fused == old)

    // malformed UTF-8 must never swallow a whitespace separator: a stray
    // continuation byte followed by a space and a token stays TWO tokens
    val bad = org.apache.spark.unsafe.types.UTF8String.fromBytes(
      Array[Byte](0x80.toByte, ' '.toByte, 'a'.toByte))
    val hs = graft.functions.ShinglePolyHashes.shingles(bad, 1, 131L, 1000000007L)
    assert(hs.length == 2, s"tokens merged across malformed bytes: ${hs.toSeq}")
    assert(hs(1) == 'a'.toLong % 1000000007L)
  }

  test("codegen vector expressions match the Scala kernels and stay in WholeStageCodegen") {
    import spark.implicits._
    import graft.functions.{VectorOps, VectorExpressions => VE}
    val rnd = new java.util.Random(9)
    val vecs = (0 until 50).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2f - 1f).toSeq,
        Array.fill(64)(rnd.nextFloat() * 2f - 1f).toSeq)
    }
    val df = vecs.toDF("id", "a", "b")
    val got = df.select(col("id"), VE.l2sq(col("a"), col("b")).as("l2"),
      VE.cosineSim(col("a"), col("b")).as("cs")).collect()
      .map(r => (r.getLong(0), (r.getDouble(1), r.getDouble(2)))).toMap
    vecs.foreach { case (id, a, b) =>
      assert(got(id)._1 == VectorOps.l2sq(a.toArray, b.toArray))
      assert(got(id)._2 == VectorOps.cosine(a.toArray, b.toArray))
    }
    // plan check on a file-backed scan (a LocalTableScan is evaluated
    // eagerly without codegen, so it can't witness the span)
    val plan = emb.select(VE.l2sq(col("embedding"), col("embedding")))
      .queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen spans in the compact plan form
    assert(plan.contains("*(1) Project [graft_l2sq"), plan)

    // asymdot expression vs kernel
    val codes = (0 until 50).map { i =>
      val code = Array.fill(2)(rnd.nextLong())
      val planes = Array.fill(8)(rnd.nextLong())
      (i.toLong, code.toSeq, planes.toSeq)
    }
    val dfc = codes.toDF("id", "code", "planes")
    val gotc = dfc.select(col("id"), VE.asymDot(col("code"), col("planes")).as("ad"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    codes.foreach { case (id, c, p) =>
      assert(gotc(id) == VectorOps.asymDot(c.toArray, p.toArray))
    }

    // fastscan expressions: BuildLutF32 ∘ AsymDotLutF32 must reproduce
    // AsymDotF32 bit-for-bit through the whole Catalyst path (codegen eval
    // of the generated-Java loops, not just the Scala kernels)
    val gotl = dfc.select(col("id"),
      VE.asymDotLut(col("code"), VE.buildLut(col("planes"))).as("ad"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    codes.foreach { case (id, c, p) =>
      assert(gotl(id) == VectorOps.asymDot(c.toArray, p.toArray))
    }

    // null propagation: BinaryExpression null-safety must yield NULL, not
    // throw, for null arrays on either side
    import org.apache.spark.sql.types._
    val withNulls = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(Seq(1f, 2f), null),
        org.apache.spark.sql.Row(null, Seq(3f, 4f)),
        org.apache.spark.sql.Row(Seq(1f, 2f), Seq(3f, 4f))),
      StructType(Seq(
        StructField("a", ArrayType(FloatType), nullable = true),
        StructField("b", ArrayType(FloatType), nullable = true))))
    val nullRes = withNulls.select(VE.l2sq(col("a"), col("b")).as("d"),
      VE.cosineSim(col("a"), col("b")).as("c")).collect()
    assert(nullRes(0).isNullAt(0) && nullRes(0).isNullAt(1))
    assert(nullRes(1).isNullAt(0) && nullRes(1).isNullAt(1))
    assert(!nullRes(2).isNullAt(0) && !nullRes(2).isNullAt(1))

    // SQL registration
    VE.register(spark)
    df.createOrReplaceTempView("ve_test")
    val viaSql = spark.sql("SELECT id, graft_l2sq(a, b) AS l2 FROM ve_test")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    vecs.foreach { case (id, a, b) =>
      assert(viaSql(id) == VectorOps.l2sq(a.toArray, b.toArray))
    }
  }

  // ---------------- plan shape ------------------------------------------
  test("filter/projection pushdown reaches the parquet scan") {
    val q = SparkEntry.queries("q05_filter_project")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    assert(plan.contains("l_quantity"), "filter column not pushed")
  }

  test("broadcast joins chosen for small dimension tables") {
    val q = SparkEntry.queries("q02_revenue_by_nation")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  // ---------------- quality model / DSIR ---------------------------------
  test("Quality.train learns a separable vocabulary signal; scoreWith ranks " +
      "spammy docs below quality docs") {
    import spark.implicits._
    val rnd = new java.util.Random(31)
    // quality docs draw from a 'good' vocabulary, spam docs from a
    // disjoint 'bad' one — linearly separable in hashed-ngram space
    def doc(id: Long, bad: Boolean): (Long, String, Int) = {
      val words = (0 until 20).map { _ =>
        val w = rnd.nextInt(500)
        if (bad) s"zz$w" else s"ok$w"
      }
      (id, words.mkString(" "), if (bad) 0 else 1)
    }
    val rows = (0L until 120L).map(i => doc(i, bad = i % 2 == 0))
    val docs = rows.toDF("doc_id", "text", "label")
    val (w, bias) = Quality.train(spark, docs, "label", maxIter = 30)
    assert(w.length == Quality.B)
    def accuracy(weights: Array[Double], b: Double): Double = {
      val scored = Quality.scoreWith(docs, weights, b)
        .join(docs.select(col("doc_id"), col("label")), Seq("doc_id"))
        .select(col("label"), col("quality_prob")).collect()
      scored.count(r =>
        (r.getDouble(1) >= 0.5) == (r.getInt(0) == 1)).toDouble / scored.length
    }
    assert(accuracy(w, bias) >= 0.95, s"train/score accuracy ${accuracy(w, bias)}")
    // the feature build is SPARSE (per-row cost ∝ doc length, not bucket
    // count), so a much larger hashed space trains identically — the
    // scorer sizes itself from the weight table it is handed
    val (w2, bias2) = Quality.train(spark, docs, "label", maxIter = 30,
      numBuckets = 65536)
    assert(w2.length == 65536)
    assert(accuracy(w2, bias2) >= 0.95,
      s"B=65536 train/score accuracy ${accuracy(w2, bias2)}")
  }

  test("Quality.qualityScore: margins are the exact integer sum of the " +
      "deterministic bucket weights; empty docs are excluded") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha"), (3L, "   "))
      .toDF("doc_id", "text")
    val got = Quality.qualityScore(docs).orderBy("doc_id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L), "whitespace-only doc must drop")
    // doc 1: 3 unigrams + 2 bigrams = 5 features; doc 2: 1 unigram
    assert(got(0).getLong(1) == 5L && got(1).getLong(1) == 1L)
    // recompute doc 2's margin by hand: bucket = polyhash('alpha') % B
    val P = 1000000007L
    val h = "alpha".getBytes("UTF-8").foldLeft(0L)((a, c) => (a * 131 + c) % P)
    val wexp = (h % Quality.B) * 2654435761L % 2001L - 1000L
    assert(got(1).getLong(2) == wexp, s"margin ${got(1).getLong(2)} != $wexp")
  }

  test("Quality.dsirResample surfaces the raw docs most like the target " +
      "distribution, with deterministic integer weights") {
    import spark.implicits._
    val rnd = new java.util.Random(37)
    // target (is_t) speaks vocabulary T; raw pool: half speak T (should
    // win resampling), half speak a disjoint vocabulary U
    def txt(vocab: String) =
      (0 until 15).map(_ => s"$vocab${rnd.nextInt(300)}").mkString(" ")
    val target = (0L until 60L).map(i => (i, txt("t"), true))
    val rawLike = (100L until 130L).map(i => (i, txt("t"), false))
    val rawUnlike = (200L until 230L).map(i => (i, txt("u"), false))
    val docs = (target ++ rawLike ++ rawUnlike).toDF("doc_id", "text", "is_t")
    val picked = Quality.dsirResample(spark, docs, col("is_t"), m = 30)
      .collect().map(_.getLong(0)).toSet
    assert(picked == (100L until 130L).toSet,
      s"target-like raw docs must win resampling, got $picked")
    // determinism: same inputs → identical weights
    val again = Quality.dsirResample(spark, docs, col("is_t"), m = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val first = Quality.dsirResample(spark, docs, col("is_t"), m = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == first)
  }

  test("quality scoring is shuffle-free and DSIR's top-m is a bounded heap, " +
      "not a global sort") {
    import spark.implicits._
    val docs = (0L until 50L)
      .map(i => (i, s"tok$i tok${i + 1} tok${i + 2}", i % 2 == 0))
      .toDF("doc_id", "text", "is_t")
    val scorePlan = Quality.qualityScore(docs).queryExecution.executedPlan.toString
    assert(!scorePlan.contains("Exchange"), scorePlan.take(2000))
    val resample = Quality.dsirResample(spark, docs, col("is_t"), m = 10)
    val plan = resample.queryExecution.executedPlan.toString
    // the llr table is collected before this plan exists — scoring +
    // selection is scan → project → per-partition heaps
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  // ---------------- BPE training -----------------------------------------
  test("BpeTrain learns the textbook merge sequence and segment applies it " +
      "greedily left-to-right") {
    import spark.implicits._
    // Sennrich-style toy corpus: 'aaab' x4, 'aab' x2 — weighted pair
    // counts at step 0: (a,a) = 4*2 + 2*1 = 10, (a,b) = 6. First merge
    // (a,a) -> aa; then 'aaab' = [aa, a, b], 'aab' = [aa, b]:
    // (aa,a) = 4 TIES (a,b) = 4 -> the (pair_left asc) tie-break picks
    // (a,b) — the determinism contract, pinned here.
    val docs = Seq((1L, "aaab aaab aab"), (2L, "aaab aaab aab"))
      .toDF("doc_id", "text")
    val r = BpeTrain.learn(spark, docs, numMerges = 2)
    assert(r.merges.map(m => (m.left, m.right, m.freq)) ==
      Seq(("a", "a", 10L), ("a", "b", 4L)), r.merges)
    // bookkeeping: 4*4+2*3 = 22 symbols; merge 1 removes 6 (freq 10
    // counts OVERLAPPING (a,a) pairs, greedy merges floor(run/2) per
    // run: 'aaab' drops 1 of its 2 pairs); merge 2 removes its full 4
    assert(r.initialSymbols == 22L && r.stepSymbols == Seq(16L, 12L), r)
    assert(r.finalSymbols == 12L)
    val segs = BpeTrain.segment(docs, r.merges).orderBy("doc_id")
      .collect().map(_.getSeq[String](1))
    // 'aaab': (a,a) greedy left-to-right: [aa, a, b]; then (a,b):
    // [aa, ab]. 'aab' -> [aa, b] (no adjacent (a,b) remains)
    assert(segs(0) == Seq("aa", "ab", "aa", "ab", "aa", "b"), segs(0))
  }

  test("BpeTrain.pairStats matches hand counts and uses the deterministic " +
      "tie-break") {
    import spark.implicits._
    val docs = Seq((1L, "ab ab ba")).toDF("doc_id", "text")
    val got = BpeTrain.pairStats(docs, 10).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    // (a,b) x2 from 'ab', (b,a) x1 — tie-free here; check full order
    assert(got == Seq(("a", "b", 2L), ("b", "a", 1L)), got)
  }

  // ---------------- entry smoke -----------------------------------------
  test("SparkEntry.entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("rebalanceUnlocked with a threaded health snapshot (the fused " +
      "maintenance pass) equals the self-measuring rebalance") {
    import org.apache.spark.sql.functions.element_at
    // q116's skew construction, built once, saved into two identical dirs
    val (model, index0) = RabitqIndex.build(spark,
      emb.filter(element_at(col("embedding"), 1) < 0f), numClusters = 8, seed = 11L)
    def mk(): String = {
      val d = java.nio.file.Files.createTempDirectory("rebal_known").toString
      RabitqIndex.save(spark, model, index0, d)
      RabitqIndex.appendVectors(spark, model,
          emb.filter(element_at(col("embedding"), 1) >= 0f))
        .write.mode("append").partitionBy("cluster_id").parquet(s"$d/index")
      d
    }
    val dA = mk(); val dB = mk()
    // the self-measuring path (loads the model, counts its own sizes)
    val repA = RabitqIndex.rebalanceIndex(spark, dA, emb, maxSizeFactor = 1.4)
    assert(repA.split.nonEmpty, s"construction must trigger a split ($repA)")
    // the fused maintenanceLoop path: ONE health measurement, threaded in
    val h = RabitqIndex.indexHealth(spark, RabitqIndex.resolve(dB))
    val repB = RabitqIndex.withLayoutLock(dB)(
      RabitqIndex.rebalanceUnlocked(spark, dB, emb, maxSizeFactor = 1.4,
        fitSampleCap = 100000L, known = Some((h.model, h.sizes.toMap)),
        recovered = true))
    assert(repA == repB, s"threaded-snapshot rebalance diverged: $repA != $repB")
    def rows(d: String) = RabitqIndex.loadLive(spark, d)._2
      .select("vec_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(rows(dA) == rows(dB),
      "threaded-snapshot rebalance must produce the identical layout")
  }
}

/** Test access to SparkEntry's private table loader semantics. */
object SparkEntryTestAccess {
  def table(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    val tsCols = Map("events" -> Seq("ts"), "orders" -> Seq("o_orderdate"),
      "lineitem" -> Seq("l_shipdate"))
    tsCols.getOrElse(name, Nil)
      .foldLeft(df)((d, c) => graft.functions.TimeNorm.normalizeTs(d, c))
  }
}
