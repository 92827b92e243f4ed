package graft.streaming

import org.apache.spark.sql.DataFrame
import graft.operators.{Layout, RabitqIndex}

/** Exactly-once parquet APPEND for foreachBatch sinks.
  *
  * Structured Streaming replays a micro-batch after a partial write
  * failure or a driver restart mid-batch, and a blind
  * `write.mode("append")` then double-appends the batch — duplicate
  * vec_ids the query path would silently serve twice. This helper makes
  * the append idempotent per (queryName, batchId):
  *
  *  1. a committed batch leaves a MARKER file
  *     (`$commitRoot/_commits/$queryName/$batchId`) — a replayed batch
  *     that finds its marker is a no-op;
  *  2. the batch is first written `mode("overwrite")` to a
  *     batchId-derived STAGING dir — a retried write replaces any
  *     partial attempt instead of appending to it;
  *  3. staged files are MOVED into the target layout under DETERMINISTIC
  *     per-batch names (`$queryName-$batchId-00000.parquet`, …), after
  *     sweeping any same-prefix files a crashed earlier attempt left —
  *     so a crash at ANY point (mid-write, mid-move, before the marker)
  *     replays to exactly one copy.
  *
  * An in-progress sentinel (created before the first write, removed at
  * commit) confines the target-tree sweep to genuine retry-after-crash
  * attempts — the common path never walks the layout.
  *
  * APPEND vs MAINTENANCE is mechanical, not a scheduling convention:
  * the promote+commit step (metadata-cheap file moves) runs under the
  * layout's `_maintenance.lock` lease, with the target RE-RESOLVED
  * inside it — if a compaction swapped the generation while the batch
  * was staging, the promote simply lands in the new active generation
  * (the staged rows were never in the old one, so the rewrite neither
  * carried nor lost them). The expensive staged Spark write stays
  * OUTSIDE the lease. The converse hole — a batch that PROMOTED but
  * crashed before its marker, then a compaction folds its rows into
  * consolidated files (prefix names lost) and the replay re-appends a
  * second copy — is closed from the maintenance side:
  * [[settleInProgress]] sweeps promoted-but-unmarked batches out of the
  * layout before any rewrite reads it (the replay re-stages them in
  * full, so nothing is lost). Commit primitives are the commit root's
  * handle's `ops` — see the `CommitOps` filesystem contract before
  * deploying on an object store.
  */
object IdempotentSink {

  /** @return true iff THIS call ran the staged write and committed the
    *         batch; false when a prior attempt's marker made it a no-op
    *         (callers that observe metrics on `df` branch on this — an
    *         `Observation` on a plan that never ran blocks forever).
    */
  def appendBatch(df: DataFrame, targetDir: => String, commitRoot: Layout,
                  queryName: String, batchId: Long,
                  partitionCols: Seq[String] = Nil,
                  leaseWaitMs: Long = 10L * 60 * 1000,
                  onStaged: () => Unit = () => ()): Boolean = {
    val marker = s"${commitRoot.dir}/_commits/$queryName/$batchId"
    val inprog = s"${commitRoot.dir}/_commits/$queryName/$batchId.inprogress"
    if (commitRoot.fs.exists(marker)) {
      // committed on a prior attempt — and a crash between that commit
      // and its sentinel delete must not strand the sentinel forever
      // (every later inspection would read the batch as a crashed
      // attempt, and vacuum deliberately preserves _commits)
      commitRoot.fs.delete(inprog)
      return false
    }
    val prefix = s"$queryName-$batchId"
    // in-progress sentinel: created before any write, removed with the
    // commit — its presence on entry means a PRIOR attempt crashed
    // somewhere, so only then pay the target-tree sweep (a partitioned
    // index target can hold thousands of cluster dirs; the common
    // first-attempt path must not walk them every batch)
    val retry = commitRoot.fs.exists(inprog)
    commitRoot.fs.mkdirs(s"${commitRoot.dir}/_commits/$queryName")
    commitRoot.ops.exclusiveCreate(inprog)
    val staging = s"${commitRoot.dir}/_staging/$prefix"
    graft.Overlap.labelled(df.sparkSession, s"sink: stage $prefix") {
      val w0 = df.write.mode("overwrite")
      val w = if (partitionCols.nonEmpty) w0.partitionBy(partitionCols: _*) else w0
      w.parquet(staging)
    }
    onStaged() // test seam: a maintenance pass fired between stage and promote
    // promote + commit under the layout lease: serialized against every
    // maintenance mutator, target re-resolved while nothing can swap it
    RabitqIndex.withLayoutLock(commitRoot, waitMs = leaseWaitMs) {
      val target = targetDir
      // the target dir must exist even if every row of every batch was
      // filtered out — a downstream read of the sink must see an (empty)
      // directory, not path-not-found
      commitRoot.fs.mkdirs(target)
      if (retry) sweepPrefix(commitRoot, target, prefix)
      RabitqIndex.promoteStaged(commitRoot, staging, target, prefix)
      commitRoot.fs.deleteRecursively(staging)
      commitRoot.ops.exclusiveCreate(marker)
      commitRoot.fs.delete(inprog)
    }
    true
  }

  /** Remove every `$prefix-*` data file a crashed earlier attempt of the
    * SAME batch may have left anywhere in the target tree (attempts can
    * differ in file count, so name-overwrite alone is not enough).
    */
  private def sweepPrefix(layout: Layout, dir: String, prefix: String): Unit = {
    val kids = layout.fs.list(dir)
    kids.filter(_.isDir).foreach(k => sweepPrefix(layout, k.path, prefix))
    kids.filter(f => !f.isDir && f.name.startsWith(prefix + "-"))
      .foreach(f => layout.fs.delete(f.path))
  }

  /** One batch's in-progress sentinel (`_commits/<query>/<batchId>.inprogress`)
    * and whether that batch COMMITTED (its marker sits beside it). A
    * sentinel without a marker is a crashed attempt or a live batch
    * mid-write: its files (named `<prefix>-*`) may be swept and
    * re-promoted by the replay at any moment. A committed batch's
    * sentinel is stranded debris vacuum reclaims.
    */
  private[graft] final case class Sentinel(path: String, prefix: String,
                                           committed: Boolean)

  /** Every sentinel under the commit root, from ONE `_commits` walk (one
    * listing of `_commits`, one per query dir; the marker test reads the
    * same listing). The only statement of the "which batches are
    * uncommitted" rule: readers exclude the uncommitted prefixes
    * (`RabitqIndex.resolve`), [[settleInProgress]] sweeps them, and
    * vacuum reclaims the committed batches' sentinels.
    */
  private[graft] def sentinels(commitRoot: Layout): Seq[Sentinel] =
    commitRoot.fs.list(s"${commitRoot.dir}/_commits").filter(_.isDir).flatMap { q =>
      val files = commitRoot.fs.list(q.path).filterNot(_.isDir)
      val names = files.map(_.name).toSet
      files.filter(_.name.endsWith(".inprogress")).map { f =>
        val batchId = f.name.stripSuffix(".inprogress")
        Sentinel(f.path, s"${q.name}-$batchId", names.contains(batchId))
      }
    }

  /** Maintenance-side half of the append-vs-maintenance closure: sweep
    * every PROMOTED-BUT-UNCOMMITTED batch (in-progress sentinel present,
    * no commit marker) out of `targetDirs` before a rewrite reads the
    * layout. Caller must hold the layout lease — under it, no live
    * appender can be mid-promote, so a sentinel-without-marker is either
    * a crashed attempt (its replay re-stages the whole batch) or a live
    * batch still staging (nothing promoted yet — the sweep finds only
    * files a CRASHED earlier attempt of it promoted, which that live
    * attempt re-promotes in full). Either way: swept rows always come
    * back exactly once, and the rewrite never folds rows a replay would
    * duplicate.
    */
  private[graft] def settleInProgress(commitRoot: Layout,
                                      targetDirs: Seq[String]): Unit =
    for (s <- sentinels(commitRoot) if !s.committed; t <- targetDirs)
      sweepPrefix(commitRoot, t, s.prefix)
}
