package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.{Curation, Layout, LayoutFs, RabitqIndex, RabitqModel}

/** Streaming incremental SEMANTIC dedup — the continuous counterpart of
  * `Curation.incrementalSemanticDedup` (batch q104) and the embedding-
  * space analog of `DocsStream.newFingerprints` (q95): vectors arrive as
  * files, each is assigned its coarse cluster by the SAME codegen
  * argmin kernel the batch path uses, and survives iff no HISTORY
  * member of that cluster is cosine-≥-threshold near it.
  *
  * The per-row decision is STATELESS — it depends only on (row, static
  * history) — so unlike the fingerprint stream there is no watermark
  * state and no "which copy wins" nondeterminism: the emitted row SET
  * equals the batch operator exactly, independent of how the files are
  * batched (q105's gate is therefore a real-rows oracle, q104's SQL
  * verbatim). Within-stream duplicates all survive, exactly the batch
  * contract (they are new to the corpus); a deployment that also wants
  * first-seen-within-stream semantics feeds each micro-batch's
  * survivors back into history via foreachBatch + the q91 append path.
  *
  * Scale shape: per micro-batch the stream side is day-batch-sized and
  * the static side is the corpus — at fixture scale Catalyst broadcasts
  * the assigned history frame; at corpus scale, persist history WITH
  * its cluster assignment partitioned by cluster (the layout the
  * semantic-dedup pipeline already writes) and the stream-static join
  * shuffles only the micro-batch to it. `branch` selects flat vs
  * two-level assignment exactly as in the batch operator.
  */
object VecsStream {

  val vecsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** Run the stream to completion over a static dir (AvailableNow,
    * memory sink) and return the surviving (vec_id, cluster) rows.
    * `maxFilesPerTrigger = Some(1)` replays one file per micro-batch —
    * the multi-batch regime the gate drives.
    */
  def newVectors(spark: SparkSession, path: String, history: DataFrame,
                 centroids: DataFrame, threshold: Double, queryName: String,
                 branch: Int = 0,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import graft.functions.VectorExpressions
    val cent = Curation.collectCentroids(centroids)
    val cluster =
      if (branch == 0) Curation.flatAssignment(cent)
      else Curation.hierAssignment(spark, cent, branch)
    // assigned history is the static join side — built once; Spark's
    // reuse-exchange keeps the broadcast across micro-batches
    val hist = history
      .select(col("embedding").as("he"), cluster.as("hcluster"))
    val (dir, glob) = LayoutFs.streamSource(path)
    val reader0 = spark.readStream
      .schema(vecsSchema)
      .option("pathGlobFilter", glob)
    val reader = maxFilesPerTrigger.fold(reader0)(m =>
      reader0.option("maxFilesPerTrigger", m.toString).option("latestFirst", "false"))
    val q = reader
      .parquet(dir)
      .select(col("vec_id"), col("embedding"), cluster.as("cluster"))
      // stream-static LEFT ANTI join: drop the arriving vector iff some
      // same-cluster history member clears the cosine threshold — the
      // equi-component (cluster) keeps it a hash join; the cosine rides
      // as the join's extra codegen condition
      .join(hist, col("cluster") === col("hcluster") &&
        VectorExpressions.cosineSim(col("embedding"), col("he")) >= threshold,
        "left_anti")
      .select(col("vec_id"), col("cluster"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** Continuous INDEXING — the q91 insert leg (the reference's
    * unchecked insert box, `/root/reference/README.md:18`) running on
    * the ingest stream: vectors arrive as files and each micro-batch is
    * encoded with the FROZEN model ([[RabitqIndex.appendVectors]] — a narrow
    * per-row pass assigning the nearest frozen centroid, exactly the
    * production shape: encode continuously, re-cluster on a schedule)
    * and appended to the saved index's cluster_id-partitioned parquet
    * layout. Encoding is deterministic per row, so the resulting index
    * is identical at any batching; the q113 gate reloads the index and
    * requires full-probe + full-rerank search to equal brute-force kNN
    * over ALL vectors — a dropped batch, a double-encode, or a
    * wrong-cluster append all flip the oracle row set. The sink is the
    * partitioned layout itself: appends go executor→file into the
    * cluster directories, nothing crosses the driver.
    */
  def appendToIndex(spark: SparkSession, path: String, idx: Layout,
                    ckptDir: String, model: RabitqModel, queryName: String,
                    maxFilesPerTrigger: Option[Int] = None): Unit = {
    val (dir, glob) = LayoutFs.streamSource(path)
    val reader0 = spark.readStream
      .schema(vecsSchema)
      .option("pathGlobFilter", glob)
    val reader = maxFilesPerTrigger.fold(reader0)(m =>
      reader0.option("maxFilesPerTrigger", m.toString).option("latestFirst", "false"))
    val q = reader.parquet(dir)
      .writeStream
      .queryName(queryName)
      .option("checkpointLocation", ckptDir)
      // IdempotentSink: a replayed micro-batch (partial write failure,
      // driver restart mid-batch) must not double-append index rows —
      // the commit marker + staged-move protocol gives exactly-once.
      // The target resolves through the MANIFEST so appends land in the
      // active generation even after a compaction swap.
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        IdempotentSink.appendBatch(
          RabitqIndex.appendVectors(spark, model, batch),
          RabitqIndex.indexDataDir(idx), idx, queryName, batchId,
          partitionCols = Seq("cluster_id"))
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  val opsSchema: StructType = StructType(Seq(
    StructField("op", StringType),
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** Continuous index MAINTENANCE — both of the reference's unchecked
    * mutation boxes (`/root/reference/README.md:18`) on one stream: ops
    * arrive as (op, vec_id, embedding) rows; per micro-batch, `add`
    * rows are encoded with the frozen model and appended into the
    * partitioned layout ([[appendToIndex]]'s sink) and `del` ids are
    * appended to the active generation's id-only TOMBSTONE log
    * (`RabitqIndex.tombstoneLogDir`, resolved per batch) — the
    * append-log shape every LSM/lakehouse delete takes: nothing
    * rewrites at ingest time, reads anti-join the tombstones
    * (`RabitqIndex.loadLive`), and a scheduled [[compactIndex]] folds them
    * in. Contract: tombstones are TERMINAL until compaction (an add of
    * an already-tombstoned id stays invisible — updates go through the
    * batch `upsertVectors` path or post-compaction re-add), so the
    * final logical set is (initial ∪ adds) ∖ dels regardless of how
    * ops interleave across micro-batches — which is what makes the
    * q115 gate a deterministic real-rows oracle.
    */
  def maintainIndex(spark: SparkSession, path: String, idx: Layout,
                    ckptDir: String, model: RabitqModel, queryName: String,
                    maxFilesPerTrigger: Option[Int] = None): Unit = {
    val (dir, glob) = LayoutFs.streamSource(path)
    val reader0 = spark.readStream
      .schema(opsSchema)
      .option("pathGlobFilter", glob)
    val reader = maxFilesPerTrigger.fold(reader0)(m =>
      reader0.option("maxFilesPerTrigger", m.toString).option("latestFirst", "false"))
    val q = reader.parquet(dir)
      .writeStream
      .queryName(queryName)
      .option("checkpointLocation", ckptDir)
      // both legs idempotent per batch (separate markers): a replay
      // after a crash between the add-commit and the del-commit redoes
      // only the uncommitted leg
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // skip the del leg entirely on a delete-free batch: the LOG's
        // existence is a health signal every reader consults, so an
        // adds-only stream must not manufacture one (0-row part files
        // would disable the footer describe fast path forever). The skip
        // is replay-deterministic — a replayed batch re-counts to the
        // same emptiness. The docs sink's create-dir-unconditionally
        // contract is the opposite choice for the opposite reason: its
        // dir is read back with an explicit schema, never used as a flag.
        //
        // The del count rides as an OBSERVED metric on the add leg's
        // staged write (the observe node sits below the op filter, so it
        // sees the whole batch) — ZERO extra jobs per micro-batch where
        // a standalone dels.isEmpty probe cost one. Observation.get
        // blocks until the observed plan's action completes, so it is
        // only consulted when appendBatch actually ran the write; on the
        // rare marker-replay no-op (crash between the add-commit and the
        // del-commit) the plan never executes and the del count falls
        // back to its own probe.
        val obs = new org.apache.spark.sql.Observation(
          s"$queryName-ops-$batchId-${java.util.UUID.randomUUID()}")
        val observed = batch.observe(obs,
          count(when(col("op") === "del", lit(1))).as("n_dels"))
        val wrote = IdempotentSink.appendBatch(
          RabitqIndex.appendVectors(spark, model, observed.filter(col("op") === "add")),
          RabitqIndex.indexDataDir(idx), idx, s"$queryName-add", batchId,
          partitionCols = Seq("cluster_id"))
        val nDels =
          if (wrote) obs.get("n_dels").asInstanceOf[Long]
          else batch.filter(col("op") === "del").limit(1).count()
        if (nDels > 0L)
          IdempotentSink.appendBatch(batch.filter(col("op") === "del").select("vec_id"),
            RabitqIndex.tombstoneLogDir(idx), idx, s"$queryName-del", batchId)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Scheduled compaction for [[maintainIndex]]: fold the tombstone log
    * into the layout. Scale-safe shape (the /reload snapshot pattern,
    * and the reference's immutable-model-dir contract,
    * `/root/reference/src/rabitq.rs:128-156`):
    *
    *  1. [[compactRewrite]] — a DISTRIBUTED parquet rewrite of the live
    *     (tombstone-anti-joined) rows into a NEW versioned sibling dir
    *     (`index-v{N+1}`), executor→file, nothing materializes on the
    *     driver or in block-manager memory; `mode("overwrite")` makes a
    *     retry idempotent;
    *  2. [[compactSwap]] — an ATOMIC one-line MANIFEST rename pointing
    *     `RabitqIndex.indexDataDir` (every reader: load/loadLive/Serve)
    *     at the new generation; the old generation and its folded log
    *     are RETIRED, not deleted (reclaimed by vacuum after the
    *     retention window — in-flight readers keep scanning them).
    *
    * Crash anywhere: before the swap, readers resolve the OLD dir + log
    * (the partial new generation is invisible); after the swap, readers
    * resolve the new dir, whose per-generation log is empty. Readers
    * therefore see old-or-new, never partial (spec-asserted), and a
    * reader mid-scan of the old generation is never yanked.
    */
  def compactIndex(spark: SparkSession, idx: Layout): Unit =
    RabitqIndex.withLayoutLock(idx)(
      graft.Overlap.labelled(spark, s"compact: ${idx.dir}")(compactUnlocked(spark, idx)))

  private[graft] def compactUnlocked(spark: SparkSession, idx: Layout,
                                     recovered: Boolean = false): Unit = {
    if (!recovered)
      // settle crashed uncommitted appends BEFORE the rewrite resolves the
      // layout: the snapshot already leaves a promoted-but-unmarked batch
      // out of the rewrite (folded into consolidated files, its rows
      // would lose their prefix names and the replay would append them a
      // second time), and the settle also sweeps its files out of the
      // generation being retired. Swept rows are re-staged in full by the
      // replay, so nothing is lost. Live batches can't be mid-promote here
      // (the promote takes the lease we hold).
      // `recovered = true` is the maintenanceLoop's contract: the pass
      // already settled ONCE under the same held lease.
      RabitqIndex.settle(idx)
    // ONE snapshot for the rewrite and the swap; presence of a log is
    // judged by its committed DATA files, not the directory (the streamed
    // del leg creates its possibly forever-empty target dir)
    val snap = RabitqIndex.resolve(idx)
    if (snap.logFiles.nonEmpty) compactSwap(snap, compactRewrite(spark, snap))
  }

  /** Phase 1 (durable, retry-safe): rewrite the snapshot's live rows,
    * then its model, into the next versioned data dir; returns its name.
    * Nothing the current generation's readers resolve is touched.
    */
  private[graft] def compactRewrite(spark: SparkSession,
                                    snap: RabitqIndex.GenSnapshot): String = {
    val (idx, nextName) = (snap.layout, snap.nextName)
    val (m, live) = RabitqIndex.liveOf(spark, snap)
    // compaction's SECOND job: undo file fragmentation. Continuous
    // appends and rebalances leave O(write-tasks × clusters) small part
    // files (measured ~8k at 1M/256 — footer-describe and scan listing
    // are file-count-bound), and a straight rewrite would carry every
    // one of them into the next generation forever. Hash-partitioning
    // on cluster_id first lands ~one file per cluster; the shuffle
    // moves exactly the rows the rewrite was going to write anyway.
    live.repartition(m.params.numClusters, col("cluster_id"))
      .write.mode("overwrite").partitionBy("cluster_id")
      .parquet(s"${idx.dir}/$nextName")
    // every generation carries the model its rows were encoded against,
    // so the MANIFEST write flips data and model together
    RabitqIndex.writeModel(idx, s"${idx.dir}/$nextName", m)
    nextName
  }

  /** Phase 2 (atomic): RETIRE the current generation (its `_retired`
    * marker starts the retention clock), then point the MANIFEST at the
    * new one via write-temp + atomic rename. NOTHING is deleted inline:
    * an in-flight reader that resolved the old generation (and its
    * tombstone log) before the swap keeps scanning intact files to
    * completion — long scans are the norm at corpus scale, and a swap
    * that deletes what they hold turns maintenance into reader failures.
    * `RabitqIndex.vacuumIndex` reclaims the retired generation + folded
    * log once they outlive the retention window (the Delta VACUUM
    * pattern). The new generation starts with NO log — the old log
    * belongs to the old generation and anti-joins ids the rewrite
    * already dropped.
    */
  private[graft] def compactSwap(snap: RabitqIndex.GenSnapshot, nextName: String): Unit =
    RabitqIndex.publishGeneration(snap.layout, snap.name, nextName)

  /** What one [[maintenanceLoop]] pass did. */
  case class MaintenanceReport(
      compacted: Boolean, rebalanced: Option[RabitqIndex.RebalanceReport],
      vacuumed: RabitqIndex.VacuumReport)

  /** The self-scheduled OPS LOOP the `RabitqIndex.describeIndex` health
    * report exists for: read the report, fold the tombstone log when
    * `tombstone_debt` crosses `debtThreshold` ([[compactIndex]]), split
    * oversized clusters when `needs_rebalance`
    * (`RabitqIndex.rebalanceIndex` — which invalidates frozen writer
    * models, so run the loop between ingest windows and have writers
    * re-load after, the q117 contract). Compaction runs FIRST so the
    * rebalance sizes the live set without the log riding along. Each
    * action's cost is bounded by its own operator's shape (rewrite of
    * the live set / IO ∝ skew); the describe read is one slim scan.
    */
  def maintenanceLoop(spark: SparkSession, idx: Layout,
                      base: org.apache.spark.sql.DataFrame,
                      debtThreshold: Double = 0.2,
                      maxSizeFactor: Double = 1.5,
                      retainMs: Long = RabitqIndex.DefaultRetainMs): MaintenanceReport =
    // ONE lease across the whole pass: the describe→act sequence must
    // not interleave with another scheduler's pass (each acting on the
    // other's stale report), and the loop IS the maintenance window
    RabitqIndex.withLayoutLock(idx)(graft.Overlap.labelled(spark, s"maintenance: ${idx.dir}") {
      // vacuum first: a crashed prior cycle's debris (unreferenced
      // generations, dead staging) must not ride along forever — pure
      // file metadata, no jobs; retired generations inside the retention
      // window survive (in-flight readers may still hold them).
      val vac = RabitqIndex.vacuumUnlocked(idx, retainMs)
      // settle crashed uncommitted appends ONCE for the whole pass (the
      // phases previously each re-ran the settle, re-listing the layout
      // under the same held lease)
      RabitqIndex.settle(idx)
      // ONE measurement for the whole pass: the health snapshot below is
      // what describeIndex renders, and the phases consume it directly —
      // the model and the LIVE per-cluster sizes are both invariant
      // across the compaction (the rewrite preserves exactly the live
      // rows and writes the same model), so the rebalance phase needs
      // no re-load and no re-count (guide §1.2 run fewer passes).
      val h = RabitqIndex.indexHealth(spark, RabitqIndex.resolve(idx))
      val compacted =
        if (h.debt >= debtThreshold && h.nTomb > 0L) {
          compactUnlocked(spark, idx, recovered = true); true
        } else false
      val rebalanced =
        if (h.oversized(maxSizeFactor) > 0)
          Some(RabitqIndex.rebalanceUnlocked(spark, idx, base,
            maxSizeFactor, fitSampleCap = 100000L,
            known = Some((h.model, h.sizes.toMap)), recovered = true))
        else None
      MaintenanceReport(compacted, rebalanced, vac)
    })
}
