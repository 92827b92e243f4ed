package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.language.implicitConversions

/** The FOUR commit primitives every crash-safety protocol in the saved
  * index lifecycle is built from — the generation MANIFEST publish
  * shared by compaction and rebalance (`RabitqIndex.publishGeneration`,
  * with the rebalance's `_CARRY` listing writes before it), the
  * maintenance lease (`RabitqIndex.withLayoutLock`), and the
  * exactly-once streamed append (`streaming.IdempotentSink`).
  *
  * A layout's implementation rides in its [[Layout]] handle, chosen per
  * layout the way Delta Lake picks a `LogStore` per table path, so two
  * layouts in one process can be written under two protocols at once.
  * The commit points are the `ops.` calls of the lifecycle code
  * (`grep -n 'ops\.'`). Paths are plain STRINGS: `java.nio.file.Path`
  * cannot carry an `hdfs://host/…` URI, so a Path-typed seam would make
  * the Hadoop implementation unreachable from real deployments. The
  * non-atomic probe/list/delete surface is the sibling [[LayoutFs]],
  * the handle's `fs`.
  *
  * ==== FILESYSTEM CONTRACT (read this before deploying) ====
  *
  * The protocols are correct iff the layout's filesystem provides:
  *
  *  1. '''atomic rename''' of a FILE within the layout dir (a concurrent
  *     reader sees the old name or the new name, never a torn file), and
  *  2. '''atomic create-if-absent''' (exactly one of N concurrent
  *     creators of the same path succeeds).
  *
  * No protocol renames a directory: every layout mutation that readers
  * can observe is a new generation published by one file write.
  *
  * [[PosixCommit]] (the default) provides both via `java.nio.file` —
  * LOCAL POSIX filesystems (and POSIX-faithful NFS) only. An HDFS
  * deployment's handle carries [[HadoopFsCommit]] (+ [[HadoopFs]] as its
  * `fs`): HDFS `rename`/`create(overwrite=false)` honor the contract at
  * the NameNode. '''NOT true on S3/GCS-style object stores''': `s3a://`
  * rename is copy+delete (readers can observe both or neither name) and
  * plain PUT has no exclusive-create. Running the lifecycle mutators
  * against an object store through the POSIX impl silently downgrades
  * "old-or-new-never-partial" to "sometimes torn" — the exact failure
  * class Delta Lake's `LogStore` exists for, and the
  * `LifecycleContractSpec` EXECUTES it (the lease admits two concurrent
  * mutators; a reader mid-publish resolves a vacuumed generation). To
  * deploy there, build the handle with [[CondPutCommit]] (the conditional-PUT /
  * If-None-Match shape — same spec shows the same schedules surviving
  * under it) or a commit-service implementation (the Delta/Iceberg
  * commit shape); every protocol above is already expressed ONLY in
  * these primitives, so nothing else changes. READ paths
  * (`spark.read.parquet` over the resolved generation) are
  * object-store-safe as-is — immutable files, resolved through a
  * MANIFEST that only this seam mutates, and every distributed Spark
  * write lands in a directory nothing references until a seam
  * primitive publishes it.
  *
  * Reference analog: the reference's model dir is write-once-immutable
  * (`/root/reference/src/rabitq.rs:128-156`) and its S3 tier only ever
  * GETs whole immutable objects (`/root/reference/crates/disk/src/cache.rs:24-52`)
  * — it never needed a commit protocol because it never mutates a saved
  * layout; the lifecycle tier here does, hence this seam.
  */
trait CommitOps {

  /** Durably publish `content` at `target`: a reader never observes a
    * torn or empty file; a crash leaves either the old content or the
    * new.
    */
  def atomicWriteFile(target: String, content: String): Unit

  /** Atomic file move, REPLACING an existing destination (a same-batch
    * retry overwrites its own deterministic name). Always replace-
    * semantics: POSIX rename(2) — what ATOMIC_MOVE maps to — replaces
    * silently regardless, so a fail-if-exists variant could not honor
    * its contract on the very filesystems the default impl targets.
    */
  def atomicMoveFile(src: String, dst: String): Unit

  /** Atomic rename of a single FILE; the destination must not exist.
    * Throws `NoSuchFileException` if `src` is already gone — the lease
    * break's rename-aside (`RabitqIndex.withLayoutLock`, its one caller)
    * uses that to detect losing a rename race (exactly one of N
    * concurrent movers of the same `src` succeeds).
    */
  def atomicRenameDir(src: String, dst: String): Unit

  /** Create-if-absent with `content` as the body: returns true iff THIS
    * call created the file (exactly one of N concurrent callers wins).
    */
  def exclusiveCreate(path: String, content: String = ""): Boolean
}

/** The POSIX `java.nio.file` implementation — local filesystems (and
  * POSIX-faithful NFS). See the [[CommitOps]] contract for what it does
  * NOT cover (HDFS needs [[HadoopFsCommit]]; object stores need
  * [[CondPutCommit]] or a commit service).
  */
object PosixCommit extends CommitOps {

  private def p(s: String): Path = Paths.get(s)

  def atomicWriteFile(target: String, content: String): Unit = {
    val t = p(target)
    val tmp = t.resolveSibling(t.getFileName.toString + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, t,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def atomicMoveFile(src: String, dst: String): Unit =
    Files.move(p(src), p(dst),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)

  def atomicRenameDir(src: String, dst: String): Unit =
    Files.move(p(src), p(dst))

  def exclusiveCreate(path: String, content: String = ""): Boolean =
    try {
      Files.write(p(path), content.getBytes("UTF-8"),
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      true
    } catch { case _: java.nio.file.FileAlreadyExistsException => false }
}

/** The CONDITIONAL-PUT implementation — the object-store deployment
  * shape. Built exclusively from the operations a modern object store
  * offers (S3 since 2024-11, GCS, ABFS): atomic whole-object PUT (a
  * reader GETs the old body or the new, never a torn one), PUT
  * If-None-Match (create-if-absent), GET, DELETE. No rename exists;
  * "moves" are copy+delete.
  *
  * Simulated here over the local filesystem: `putObject` stages to a
  * uniquely-named temp and renames — that rename is the SIMULATION of
  * the store's per-object atomic visibility, not a protocol
  * dependency — and `putIfAbsent` is `CREATE_NEW`, exactly
  * If-None-Match's semantics. Per-primitive honesty:
  *
  *  - [[atomicWriteFile]]: one atomic PUT — full contract.
  *  - [[exclusiveCreate]]: If-None-Match PUT — full contract.
  *  - [[atomicMoveFile]]: PUT dst (atomic) then DELETE src. The dst is
  *    never torn, but a crash in between leaves BOTH names — which the
  *    protocols already tolerate (deterministic per-retry names +
  *    `IdempotentSink`'s sweep; staged sources are debris vacuum
  *    reclaims).
  *  - [[atomicRenameDir]]: PUT dst (refused if it exists), then DELETE
  *    src — its one caller renames a single FILE (the lease break's
  *    rename-aside: the aside PUT is atomic and the lock DELETE is
  *    atomic — the only reader-visible step is the delete).
  */
object CondPutCommit extends CommitOps {

  private val seq = new java.util.concurrent.atomic.AtomicLong(0)

  private def p(s: String): Path = Paths.get(s)

  /** The store's atomic whole-object PUT (simulated). */
  private def putObject(key: Path, content: Array[Byte]): Unit = {
    val tmp = key.resolveSibling(
      s".condput-${seq.incrementAndGet()}-${key.getFileName}")
    Files.write(tmp, content)
    Files.move(tmp, key,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def atomicWriteFile(target: String, content: String): Unit =
    putObject(p(target), content.getBytes("UTF-8"))

  def atomicMoveFile(src: String, dst: String): Unit = {
    putObject(p(dst), Files.readAllBytes(p(src)))
    Files.deleteIfExists(p(src))
  }

  def atomicRenameDir(src: String, dst: String): Unit = {
    if (!Files.exists(p(src)))
      throw new java.nio.file.NoSuchFileException(src)
    if (Files.exists(p(dst)))
      throw new java.nio.file.FileAlreadyExistsException(dst)
    atomicMoveFile(src, dst)
  }

  def exclusiveCreate(path: String, content: String = ""): Boolean =
    try {
      // If-None-Match PUT: CREATE_NEW is exactly its semantics
      Files.write(p(path), content.getBytes("UTF-8"),
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      true
    } catch { case _: java.nio.file.FileAlreadyExistsException => false }
}

/** The Hadoop `FileSystem`/`FileContext` implementation — the HDFS
  * deployment shape. The four primitives map onto exactly the
  * operations HDFS makes atomic at the NameNode:
  *
  *  - `FileContext.rename(…, Options.Rename.OVERWRITE)` — an atomic
  *    metadata operation on HDFS (HDFS-6262 semantics): readers see
  *    the old or the new inode, never a torn file;
  *  - `FileSystem.create(path, overwrite = false)` — exclusive create
  *    at the NameNode (exactly one of N concurrent creators wins).
  *
  * String paths feed `org.apache.hadoop.fs.Path` directly, so over
  * `file:`-less local paths this impl is testable in-suite (the FULL
  * lifecycle leg in `LifecycleContractSpec`, paired with [[HadoopFs]]
  * on the probe seam) and pointing `fs.defaultFS` at a cluster
  * addresses HDFS with the same code. Honesty note: on the LOCAL
  * filesystem Hadoop implements rename-overwrite as delete+rename and
  * create-no-overwrite as check-then-create — the atomicity is HDFS's
  * property, not the local simulation's, so the in-suite leg validates
  * PLUMBING and protocol round-trips, while the atomicity claims are
  * the documented NameNode semantics (the same division of labor as
  * [[PosixCommit]] relying on rename(2)).
  */
final class HadoopFsCommit(conf: org.apache.hadoop.conf.Configuration)
    extends CommitOps {
  import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path => HPath}

  private def hp(p: String): HPath = new HPath(p)
  private def fc: FileContext = FileContext.getFileContext(conf)
  private def fs(p: HPath): FileSystem = p.getFileSystem(conf)

  def atomicWriteFile(target: String, content: String): Unit = {
    val t = hp(target)
    val tmp = new HPath(t.getParent,
      s".${t.getName}.${java.util.UUID.randomUUID()}.tmp")
    val out = fs(t).create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    fc.rename(tmp, t, Options.Rename.OVERWRITE)
  }

  def atomicMoveFile(src: String, dst: String): Unit =
    fc.rename(hp(src), hp(dst), Options.Rename.OVERWRITE)

  def atomicRenameDir(src: String, dst: String): Unit =
    try fc.rename(hp(src), hp(dst), Options.Rename.NONE)
    catch {
      case _: java.io.FileNotFoundException =>
        throw new java.nio.file.NoSuchFileException(src)
      case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        throw new java.nio.file.FileAlreadyExistsException(dst)
    }

  def exclusiveCreate(path: String, content: String = ""): Boolean =
    try {
      val out = fs(hp(path)).create(hp(path), false)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      // RawLocalFileSystem signals an existing destination with a plain
      // IOException; HDFS throws the typed one above
      case e: java.io.IOException
          if String.valueOf(e.getMessage).contains("already exists") => false
    }
}

/** A saved layout: its root `dir` plus how it is written and probed.
  * Every lifecycle mutator and reader takes one: `ops` carries the
  * commit primitives, `fs` the probes, listings and debris deletes, and
  * `carryShardTarget` the entry count past which a rebalance shards its
  * carry listing (`RabitqIndex.writeCarryListing`; specs lower it to
  * reach the sharded shape at spec scale).
  *
  * A bare dir string converts to the default handle (POSIX commit and
  * probes); this conversion is the one place a path becomes a layout.
  * Distributed code captures `dir`, never the handle: test doubles are
  * not serializable.
  */
final case class Layout(dir: String, ops: CommitOps = PosixCommit,
                        fs: LayoutFs = PosixFs, carryShardTarget: Int = 4096)

object Layout {
  implicit def fromDir(dir: String): Layout = Layout(dir)
}
