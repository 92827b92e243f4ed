package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators._

/** Systematic kill-point sweep over the saved-index lifecycle: a crash
  * is injected at EVERY commit-primitive call of a full
  * bootstrap → append → delete → compact → append → rebalance → vacuum
  * schedule (enumeration at the layout handle's `ops` — the complete
  * version of a randomized sweep: every interleaving of "crash between
  * primitive k and k+1" is covered, and intra-primitive atomicity is
  * exactly what the filesystem contract guarantees), under BOTH
  * commit implementations: `PosixCommit` and `CondPutCommit` (the
  * object-store shape). Both drive the same generation-versioned
  * rebalance — unreferenced `index-vN` built, `_CARRY` listing written,
  * one atomic MANIFEST publish — through different primitives. The two
  * implementations sweep CONCURRENTLY, each on its own layouts through
  * its own handle, so every kill point also runs beside the other
  * protocol's traffic in the same JVM.
  * Recovery is THE REPLAY: the schedule re-runs from the top, the way a
  * restarted stream replays its batches — commit markers must no-op
  * completed steps, settle must finish crashed ones — and the layout
  * must come out with every vector present exactly once and full-probe
  * search equal to brute force.
  *
  * The individual crash specs (q121's unpublished generation, q122's
  * mid-compaction batch, the settle spec) each hand-picked one
  * point; this sweeps them all, twice (two schedule orders), for
  * ≥ 50 green schedules.
  *
  * An injected exception unwinds through `finally` blocks a real crash
  * would skip — so the LEASE would be released on the way out here
  * where a real crash leaves it held. The sweep compensates by
  * re-manufacturing the dead holder's lock (2h-old mtime, foreign
  * token) after every injected crash, so EVERY schedule's recovery
  * also exercises the stale-lease break path on top of its own
  * settle/replay work.
  */
class KillSweepSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  final class InjectedCrash(msg: String) extends RuntimeException(msg)

  /** Counts primitive calls; throws BEFORE executing call #killAt
    * (killAt ≤ 0 = never — pure counter).
    */
  final class CrashingOps(inner: CommitOps, killAt: Int) extends CommitOps {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    private def tick(op: String, p: String): Unit =
      if (calls.incrementAndGet() == killAt)
        throw new InjectedCrash(s"injected crash before primitive #$killAt ($op $p)")
    def atomicWriteFile(t: String, c: String): Unit = {
      tick("atomicWriteFile", t); inner.atomicWriteFile(t, c)
    }
    def atomicMoveFile(s: String, d: String): Unit = {
      tick("atomicMoveFile", d); inner.atomicMoveFile(s, d)
    }
    def atomicRenameDir(s: String, d: String): Unit = {
      tick("atomicRenameDir", d); inner.atomicRenameDir(s, d)
    }
    def exclusiveCreate(p: String, c: String = ""): Boolean = {
      tick("exclusiveCreate", p); inner.exclusiveCreate(p, c)
    }
  }

  // ---- fixture: skewed corpus so the rebalance step really splits ----
  private lazy val lower = emb.filter(element_at(col("embedding"), 1) < 0f)
  private lazy val upper = emb.filter(element_at(col("embedding"), 1) >= 0f)
  private lazy val upperIds: Array[Long] =
    upper.select("vec_id").collect().map(_.getLong(0)).sorted
  private lazy val lowerIds: Array[Long] =
    lower.select("vec_id").collect().map(_.getLong(0)).sorted
  private lazy val (upperA, upperB) = {
    val half = upperIds(upperIds.length / 2)
    (upper.filter(col("vec_id") < half), upper.filter(col("vec_id") >= half))
  }
  private lazy val delIds = Seq(lowerIds.head, upperIds.head)
  private lazy val expectedLive: Set[Long] =
    (lowerIds ++ upperIds).toSet -- delIds

  /** One frozen model + template layout, built once; each schedule runs
    * on a fresh copy.
    */
  private lazy val (model, templateDir) = {
    val (m, index0) = RabitqIndex.build(spark, lower, numClusters = 8, seed = 11L)
    val dir = java.nio.file.Files.createTempDirectory("ks_template").toString
    RabitqIndex.save(spark, m, index0, dir)
    (m, dir)
  }

  /** The lifecycle schedule, in two operation orders. Replay-safe by
    * construction: every append is an IdempotentSink batch with a fixed
    * (queryName, batchId), compaction no-ops once the log is folded,
    * rebalance no-ops once balanced, vacuum is pure GC.
    */
  private def schedule(layout: Layout, order: Int): Unit = {
    import spark.implicits._
    def appendA() = graft.streaming.IdempotentSink.appendBatch(
      RabitqIndex.appendVectors(spark, model, upperA),
      RabitqIndex.indexDataDir(layout), layout, "ks", 0L,
      partitionCols = Seq("cluster_id"))
    def appendDels() = graft.streaming.IdempotentSink.appendBatch(
      delIds.toDF("vec_id"),
      RabitqIndex.tombstoneLogDir(layout), layout, "ks-del", 1L)
    def compact() = graft.streaming.VecsStream.compactIndex(spark, layout)
    def appendB() = graft.streaming.IdempotentSink.appendBatch(
      RabitqIndex.appendVectors(spark, model, upperB),
      RabitqIndex.indexDataDir(layout), layout, "ks", 2L,
      partitionCols = Seq("cluster_id"))
    def rebalance() =
      RabitqIndex.rebalanceIndex(spark, layout, emb, maxSizeFactor = 1.4)
    def vacuum() = RabitqIndex.vacuumIndex(layout, retainMs = 0L)
    if (order == 0) {
      appendA(); appendDels(); compact(); appendB(); rebalance(); vacuum()
    } else {
      // maintenance-first order: rebalance sees the uncompacted log,
      // compaction follows a committed swap, vacuum runs mid-schedule
      appendA(); appendB(); appendDels(); rebalance(); vacuum(); compact()
    }
    ()
  }

  /** Post-recovery integrity oracle. `checkRecall` adds the full-probe
    * ≡ brute-force gate (run on a subsample of schedules — it is the
    * expensive half).
    */
  private def assertIntact(idxDir: String, tag: String,
                           checkRecall: Boolean): Unit = {
    val (m2, live) = RabitqIndex.loadLive(spark, idxDir)
    val perId = live.groupBy("vec_id").count()
      .agg(max("count").as("mx"), count(lit(1)).as("n")).head()
    assert(perId.getLong(0) == 1L,
      s"$tag: recovered layout holds a vec_id ${perId.getLong(0)} times")
    val ids = live.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids == expectedLive,
      s"$tag: live set wrong after recovery " +
        s"(missing=${(expectedLive -- ids).take(5)}, " +
        s"extra=${(ids -- expectedLive).take(5)})")
    if (checkRecall) {
      val baseFinal = emb.filter(!col("vec_id").isin(delIds: _*))
      val qs = ExactKnn.queriesFromEmbeddings(emb, 3)
      val truth = ExactKnn.l2TopK(baseFinal, qs, 10)
      val res = RabitqQuery.topK(spark, m2, live, baseFinal, qs,
        m2.params.numClusters, 10, 4096)
      assert(ExactKnn.recall(res, truth, 10).head().getDouble(0) == 1.0,
        s"$tag: full-probe search through the recovered layout must " +
          "equal brute force")
    }
  }

  private def freshCopy(): String = {
    val d = java.nio.file.Files.createTempDirectory("ks_run").toString
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(templateDir), new java.io.File(d))
    d
  }

  test("kill-point sweep: a crash before EVERY commit-primitive call of " +
      "two full lifecycle schedules recovers to an intact layout on replay " +
      "(>= 50 schedules)") {
    // exercise the SHARDED manifest shape: with the target lowered, the
    // generation-versioned rebalance writes `_carry/shard-*.list` +
    // `_CARRY_LIST` through the handle — each write becomes an enumerated
    // kill point, so the sweep covers those write points too
    def handle(dir: String, ops: CommitOps) = Layout(dir, ops, carryShardTarget = 8)
    // both schedule orders under one commit implementation: the rebalance
    // publishes a generation under each (unreferenced index-vN, sharded
    // carry listing, atomic MANIFEST write), but PosixCommit does it by
    // rename(2) and CondPutCommit by conditional PUT, and the appends'
    // moves differ too — every commit-primitive call of BOTH gets a crash
    // injected before it. Returns the number of green schedules.
    def sweep(implTag: String, inner: CommitOps): Int = {
      var schedules = 0
      for (order <- Seq(0, 1)) {
        // pass 1: count the primitive calls of this schedule order
        val counter = new CrashingOps(inner, killAt = 0)
        val base = freshCopy()
        schedule(handle(base, counter), order)
        assertIntact(base, s"$implTag order=$order no-crash", checkRecall = true)
        val n = counter.calls.get()
        assert(n >= 20, s"schedule $implTag order=$order only touched $n " +
          "primitives — the sweep would be vacuous; did a protocol stop " +
          "using the handle?")
        info(s"$implTag order=$order: $n kill points")
        schedules += 1
        // pass 2: enumerate every kill point
        for (killAt <- 1 to n) {
          val dir = freshCopy()
          val ops = new CrashingOps(inner, killAt)
          val crashed =
            try { schedule(handle(dir, ops), order); false }
            catch { case _: InjectedCrash => true }
          assert(crashed, s"$implTag order=$order killAt=$killAt: expected " +
            s"a crash (schedule made ${ops.calls.get()} primitive calls)")
          // a REAL crash leaves the lease held by the dead process (the
          // injected exception released it through the finally) — put the
          // dead holder's lock back, 2h stale, so the replay's first
          // mutator must go through the claim-elected stale-break path
          val lock = new java.io.File(dir, "_maintenance.lock")
          if (!lock.exists) {
            java.nio.file.Files.writeString(lock.toPath, "dead-holder-token")
            assert(lock.setLastModified(
              System.currentTimeMillis() - 2L * 60 * 60 * 1000))
          }
          // recovery = the replay, under the same (healthy) deployment shape
          schedule(handle(dir, inner), order)
          assertIntact(dir, s"$implTag order=$order killAt=$killAt",
            checkRecall = killAt % 7 == 0)
          schedules += 1
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
        }
      }
      schedules
    }
    // build the shared fixture once, before the legs race for it
    assert(expectedLive.nonEmpty && new java.io.File(templateDir).isDirectory)
    val (posixN, condPutN) = Overlap(spark,
      sweep("posix", PosixCommit), sweep("condput", CondPutCommit))
    val totalSchedules = posixN + condPutN
    assert(totalSchedules >= 50,
      s"sweep covered only $totalSchedules schedules — add kill points")
    info(s"kill-point sweep: $totalSchedules schedules green " +
      s"(posix $posixN, condput $condPutN)")
  }
}
