package graft.operators

/** One child of a directory listing — name + the metadata every
  * lifecycle decision reads (the `java.io.File` surface the helpers
  * used to touch directly).
  */
final case class FsEntry(path: String, name: String, isDir: Boolean,
                         length: Long, mtime: Long)

/** READ/PROBE/LIST/DELETE facade over the layout's filesystem — the
  * non-atomic half of a [[Layout]] handle ([[CommitOps]], its `ops`, is
  * the atomic half: the four commit primitives every protocol's
  * reader-visible step goes through). Every lifecycle helper's existence
  * probe, directory listing, marker read, debris delete, and staging
  * copy goes through the handle's `fs`, so pointing a deployment at HDFS
  * is building its handle with ONE pair of implementations (`HadoopFs` +
  * `HadoopFsCommit`) instead of porting 80 `java.io.File` call sites.
  * Paths are plain STRINGS end to end: `java.nio.file.Path` cannot carry
  * an `hdfs://host/…` URI (and `new java.io.File("hdfs://…")` silently
  * collapses the double slash), so the seam never converts to either
  * except inside the POSIX impl.
  *
  * None of these operations need atomicity — they are probes, staging
  * writes into unreferenced paths, and debris removal. Anything a
  * concurrent reader may observe goes through [[CommitOps]]; keeping
  * the two separate keeps the atomicity obligations auditable (the
  * `ops.` calls are every commit point).
  */
trait LayoutFs {
  def exists(path: String): Boolean
  def isFile(path: String): Boolean
  def isDirectory(path: String): Boolean

  /** Immediate children; empty for a missing path or a plain file. */
  def list(path: String): Seq[FsEntry]

  def readString(path: String): String

  /** 0 when missing — the `java.io.File.lastModified` contract the
    * lease-break logic depends on.
    */
  def lastModified(path: String): Long

  def length(path: String): Long
  def mkdirs(path: String): Unit

  /** Delete a file (or empty dir); false when missing. */
  def delete(path: String): Boolean

  /** Recursive delete; silently a no-op when missing. */
  def deleteRecursively(path: String): Unit

  /** Recursive byte size (0 when missing) — vacuum's report accounting. */
  def sizeOfDirectory(path: String): Long

  /** Stamp a file's modification time — replay-order control for file
    * streams (FileStreamSource orders by mtime; see `AsofStream`'s
    * tie-break note). Best-effort: a store that ignores it degrades to
    * the filesystem's own granularity.
    */
  def setLastModified(path: String, ms: Long): Unit

  /** Copy one file, replacing the destination — STAGING only (its
    * caller, `RabitqIndex.copyFiles`, copies into
    * not-yet-referenced paths; the reader-visible publish is always a
    * [[CommitOps]] primitive).
    */
  def copyFile(src: String, dst: String): Unit
}

/** Local-filesystem implementation (`java.io`/`java.nio` + commons-io) —
  * the default, pairing with [[PosixCommit]].
  */
object PosixFs extends LayoutFs {
  private def f(p: String) = new java.io.File(p)

  def exists(path: String): Boolean = f(path).exists
  def isFile(path: String): Boolean = f(path).isFile
  def isDirectory(path: String): Boolean = f(path).isDirectory

  def list(path: String): Seq[FsEntry] =
    Option(f(path).listFiles()).getOrElse(Array.empty[java.io.File])
      .map(k => FsEntry(k.getPath, k.getName, k.isDirectory,
        if (k.isFile) k.length() else 0L, k.lastModified()))
      .toSeq

  def readString(path: String): String =
    java.nio.file.Files.readString(f(path).toPath)

  def lastModified(path: String): Long = f(path).lastModified()
  def setLastModified(path: String, ms: Long): Unit = {
    f(path).setLastModified(ms); ()
  }
  def length(path: String): Long = f(path).length()
  def mkdirs(path: String): Unit = { f(path).mkdirs(); () }
  def delete(path: String): Boolean = f(path).delete()

  def deleteRecursively(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(f(path))

  def sizeOfDirectory(path: String): Long =
    if (f(path).isDirectory) org.apache.commons.io.FileUtils.sizeOfDirectory(f(path))
    else 0L

  def copyFile(src: String, dst: String): Unit = {
    java.nio.file.Files.copy(f(src).toPath, f(dst).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }
}

/** Hadoop `FileSystem` implementation — the HDFS deployment shape,
  * pairing with [[HadoopFsCommit]]. Over `file:` (the in-suite
  * lifecycle leg) it exercises the identical code path a cluster
  * deployment runs with `fs.defaultFS` pointed at a NameNode.
  */
final class HadoopFs(conf: org.apache.hadoop.conf.Configuration)
    extends LayoutFs {
  import org.apache.hadoop.fs.{FileStatus, FileUtil, Path => HPath}

  private def hp(p: String) = new HPath(p)
  private def fs(p: HPath) = p.getFileSystem(conf)

  // ONE NameNode round-trip per probe (getFileStatus + catch), not the
  // exists+getFileStatus double — indexDataDir probes the MANIFEST on
  // every resolve, the hottest metadata path in the engine
  private def status(path: String): Option[FileStatus] = {
    val p = hp(path)
    try Some(fs(p).getFileStatus(p))
    catch { case _: java.io.FileNotFoundException => None }
  }

  def exists(path: String): Boolean = status(path).isDefined
  def isFile(path: String): Boolean = status(path).exists(_.isFile)
  def isDirectory(path: String): Boolean = status(path).exists(_.isDirectory)

  def list(path: String): Seq[FsEntry] = {
    val p = hp(path)
    if (!status(path).exists(_.isDirectory)) Nil
    else fs(p).listStatus(p).toSeq.map(s => FsEntry(
      s.getPath.toUri.getPath match {
        // keep scheme-less local paths scheme-less so string-math
        // callers compose ($path/$name) consistently with the input
        case lp if !path.contains("://") => lp
        case _ => s.getPath.toString
      },
      s.getPath.getName, s.isDirectory,
      if (s.isFile) s.getLen else 0L, s.getModificationTime))
  }

  def readString(path: String): String = {
    val in = fs(hp(path)).open(hp(path))
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    finally in.close()
  }

  def lastModified(path: String): Long =
    status(path).fold(0L)(_.getModificationTime)

  def setLastModified(path: String, ms: Long): Unit =
    fs(hp(path)).setTimes(hp(path), ms, -1)

  def length(path: String): Long = status(path).fold(0L)(_.getLen)

  def mkdirs(path: String): Unit = { fs(hp(path)).mkdirs(hp(path)); () }

  def delete(path: String): Boolean =
    try fs(hp(path)).delete(hp(path), false)
    catch { case _: java.io.IOException => false }

  def deleteRecursively(path: String): Unit = {
    fs(hp(path)).delete(hp(path), true)
    ()
  }

  def sizeOfDirectory(path: String): Long =
    status(path).fold(0L)(_ => fs(hp(path)).getContentSummary(hp(path)).getLength)

  def copyFile(src: String, dst: String): Unit = {
    val s = hp(src); val d = hp(dst)
    FileUtil.copy(fs(s), s, fs(d), d, false, true, conf)
    ()
  }
}

/** Path helpers, plus the local-filesystem probes callers outside a
  * layout use (the file streams' input paths, the benchmark's layout
  * probes). Holds no state: a layout's own filesystem is its handle's
  * `fs`.
  */
object LayoutFs {

  def list(path: String): Seq[FsEntry] = PosixFs.list(path)
  def sizeOfDirectory(path: String): Long = PosixFs.sizeOfDirectory(path)

  /** Last path segment — the `java.io.File.getName` the string-path
    * seam replaces ("…/idx/index-v2" → "index-v2").
    */
  def baseName(path: String): String =
    path.substring(path.lastIndexOf('/') + 1)

  /** Parent directory of a path, preserving the parent-of-root
    * ("/x" → "/") and bare-relative-name ("x" → ".") edge cases.
    */
  def parent(path: String): String = {
    val i = path.lastIndexOf('/')
    if (i < 0) "." else if (i == 0) "/" else path.substring(0, i)
  }

  /** A file stream's source as (directory, name glob): a single local
    * FILE streams as its parent dir filtered to its name (FileStreamSource
    * wants a directory); anything else streams whole.
    */
  def streamSource(path: String): (String, String) =
    if (PosixFs.isFile(path)) (parent(path), baseName(path)) else (path, "*")
}
