package graft.pipeline

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, FileUtil, LocalFileSystem,
  Options, Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.ReflectionUtils
import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** Filesystem seam for every manifest/metadata file the pipeline tier
  * writes (Checkpoint, CurationJob, Backup) — the Hadoop `FileSystem`
  * API, NOT `java.nio`, so the checkpoint/resume story works wherever
  * the data parquet lives: local disk, NFS, HDFS, or an object store
  * configured through `fs.*` (the reference's SQLite cache at
  * src/utils/cache_manager.py:79-97 assumed one local disk; a Spark
  * deployment cannot).
  *
  * Local disk (`file://`) goes through [[Local]]: Hadoop's checksummed
  * local filesystem, whose raw layer sets permissions in-process. Without
  * `libhadoop`, the stock `RawLocalFileSystem.setPermission` forks
  * `chmod`, and it runs on every create (data file and `.crc`) and every
  * mkdir. Layout, `.crc` sidecars and permission bits are unchanged. `Fs`
  * uses it wherever the stock filesystem would be a `LocalFileSystem`,
  * and every pipeline `DataFrameWriter` passes [[writeOptions]].
  *
  * Commit semantics by filesystem — `writeAtomic` writes a tmp file
  * next to `dest`, then renames it into place:
  *   - `file://`: [[Local]]'s `rename`, whether or not `dest` exists. It
  *     renames the data file with `File.renameTo`, POSIX `rename(2)`,
  *     which replaces an existing file atomically, so a reader sees the
  *     old manifest or the new one, never a partial file. Then it renames
  *     the `.crc`: the same two steps, in the same order, as
  *     `FileContext.rename(OVERWRITE)` takes through `ChecksumFs`
  *     (`ChecksumFileSystem.rename` and `ChecksumFs.renameInternal` in
  *     Hadoop 3.4.2), without its link-status reads.
  *   - Other filesystems, `dest` absent (the first commit of a bucket or
  *     stage): a plain `FileSystem.rename`, atomic on HDFS. It fails
  *     rather than replaces when `dest` appeared meanwhile, and then the
  *     overwrite rename below takes over.
  *   - Other filesystems, `dest` present (a stale manifest re-committed):
  *     HDFS uses `FileContext.rename(OVERWRITE)`, atomic.
  *   - Object stores without an `AbstractFileSystem` binding (e.g. s3a)
  *     replace by delete + rename (copy-based on S3). The window only
  *     ever exposes "manifest ABSENT", and every reader here treats a
  *     missing manifest as "not committed → recompute", so crash safety
  *     degrades gracefully: worst case is recomputing a completed stage,
  *     never trusting a partial one. (S3 PUT/rename-copy is atomic per
  *     object, so a manifest is still never read half-written; for
  *     exactly-once commit markers on S3 use conditional-put via a
  *     committer — documented, out of engine scope.)
  *
  * Listings walk `listStatus` one directory at a time instead of
  * `listFiles(p, true)`: the latter wraps every file in a
  * `LocatedFileStatus`, whose constructor reads the permission, owner and
  * group — on a local filesystem without `libhadoop` one forked `ls` per
  * file. The walk yields the same files in the same order (depth-first,
  * checksum sidecars skipped by the checksummed filesystem's listing).
  *
  * Paths are plain strings (optionally scheme-qualified, e.g.
  * `file:///tmp/x`, `hdfs://nn/x`); the Hadoop configuration comes from
  * the active SparkSession when one exists so `fs.*` settings (S3
  * credentials, endpoints) flow through.
  */
object Fs {

  /** The raw local filesystem with `setPermission` in-process: one
    * `chmod(2)` through `java.nio`. It defers to the stock forked `chmod`
    * where `java.nio` cannot match it: a sticky bit, a directory holding
    * setuid/setgid (`chmod 0755` keeps those on a directory, `chmod(2)`
    * with nine bits would clear them), or a store without POSIX
    * attributes.
    */
  private[pipeline] class Raw extends RawLocalFileSystem {
    override def setPermission(p: HPath, perm: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      try {
        val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
        val setIdDir = (mode & 0xF000) == 0x4000 && (mode & 0xC00) != 0
        if (perm.getStickyBit || setIdDir) super.setPermission(p, perm)
        else Files.setPosixFilePermissions(file, posix(perm.toShort))
      } catch {
        case _: UnsupportedOperationException | _: IllegalArgumentException =>
          super.setPermission(p, perm)
      }
    }
  }

  // PosixFilePermission's order, OWNER_READ … OTHERS_EXECUTE, is mode
  // bits 8 down to 0
  private val PosixBits = PosixFilePermission.values

  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    var i = 0
    while (i < 9) {
      if ((mode & (0x100 >> i)) != 0) out.add(PosixBits(i))
      i += 1
    }
    out
  }

  /** Hadoop's checksummed local filesystem over [[Raw]]; see the object
    * doc.
    */
  final class Local extends LocalFileSystem(new Raw)

  /** `DataFrameWriter` options that write `file://` output through
    * [[Local]]. Spark merges writer options into the write job's Hadoop
    * configuration, which the driver-side committer and every task read.
    * The cache bypass is needed because Hadoop's `FileSystem` cache keys
    * on scheme, authority and user, not on the class. Both keys name only
    * the `file` scheme, so they do nothing on HDFS or an object store.
    */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[Local].getName,
    "fs.file.impl.disable.cache" -> "true")

  private lazy val defaultConf = new Configuration()

  def conf: Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(defaultConf)

  def hpath(s: String): HPath = new HPath(s)

  // the last Local built, reused while the configuration is the same one
  @volatile private var local: Local = _

  /** `p`'s filesystem: a [[Local]] where the stock one is a
    * `LocalFileSystem`.
    */
  private[pipeline] def fsOf(p: HPath): FileSystem = {
    val c = conf
    p.getFileSystem(c) match {
      case _: LocalFileSystem =>
        val l = local
        if (l != null && (l.getConf eq c)) l
        else {
          val fresh = ReflectionUtils.newInstance(classOf[Local], c)
          fresh.initialize(URI.create("file:///"), c)
          local = fresh
          fresh
        }
      case fs => fs
    }
  }

  def exists(s: String): Boolean = { val p = hpath(s); fsOf(p).exists(p) }

  def mkdirs(s: String): Unit = { val p = hpath(s); fsOf(p).mkdirs(p) }

  /** `p`'s status, or None if absent — one lookup, where `exists` and
    * then `getFileStatus` would make two.
    */
  private def statusOf(p: HPath): Option[FileStatus] =
    try Some(fsOf(p).getFileStatus(p))
    catch { case _: FileNotFoundException => None }

  def fileSize(s: String): Long = { val p = hpath(s); fsOf(p).getFileStatus(p).getLen }

  // `delete` returns false on an absent path
  def deleteIfExists(s: String): Unit = { val p = hpath(s); fsOf(p).delete(p, false) }

  def deleteTree(s: String): Unit = { val p = hpath(s); fsOf(p).delete(p, true) }

  /** Rename with overwrite — atomic where the FS provides it (see object
    * doc). `src` and `dst` must be on the same filesystem.
    */
  def renameOverwrite(src: String, dst: String): Unit = {
    val s = hpath(src); val d = hpath(dst)
    fsOf(d) match {
      case fs: Local => rename(fs, s, d)
      case fs =>
        try FileContext.getFileContext(fs.getUri, conf).rename(s, d, Options.Rename.OVERWRITE)
        catch {
          case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
            // no AbstractFileSystem binding (object stores): non-atomic
            // overwrite, but the only observable intermediate state is
            // "dst absent" = not-committed — safe for every caller here
            if (fs.exists(d)) fs.delete(d, false)
            rename(fs, s, d)
        }
    }
  }

  private def rename(fs: FileSystem, s: HPath, d: HPath): Unit =
    if (!fs.rename(s, d)) throw new IOException(s"rename $s -> $d failed")

  /** Write `content` durably at `dest` via tmp + rename (see object doc). */
  def writeAtomic(dest: String, content: String): Unit = {
    val d = hpath(dest); val fs = fsOf(d)
    if (d.getParent != null) fs.mkdirs(d.getParent)
    val tmp = new HPath(d.getParent, "." + d.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    fs match {
      case _: Local => rename(fs, tmp, d)
      case _ => if (fs.exists(d) || !fs.rename(tmp, d)) renameOverwrite(tmp.toString, dest)
    }
  }

  /** The file at `s` as UTF-8, or None if absent. */
  def readString(s: String): Option[String] = {
    val p = hpath(s)
    val opened = try Some(fsOf(p).open(p)) catch { case _: FileNotFoundException => None }
    opened.map { in =>
      try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    }
  }

  // The one JSON codec for every manifest and summary line: case classes
  // map field-for-field (declaration order on write, constructor defaults
  // for fields an older writer did not know), and strings are fully
  // escaped — control characters included.
  private implicit val formats: Formats = DefaultFormats

  def toJson(value: AnyRef): String = Serialization.write(value)

  /** Write `value` as JSON at `dest` via [[writeAtomic]]. */
  def writeJson(dest: String, value: AnyRef): Unit = writeAtomic(dest, toJson(value))

  /** Read the JSON at `path` as an `A`; None if absent. Throws on
    * malformed JSON or a missing field that has no default.
    */
  def readJson[A: Manifest](path: String): Option[A] =
    readString(path).map(Serialization.read[A](_))

  /** Total bytes of regular files under `dir` (recursive; 0 if absent),
    * one LIST per directory.
    */
  def dirBytes(dir: String): Long =
    statusOf(hpath(dir)) match {
      case None => 0L
      case Some(st) if st.isFile => st.getLen
      case Some(_) => fileStatuses(dir).map(_.getLen).sum
    }

  /** Regular files under `p` (recursive), or `p` itself if a file. */
  def listFilesRecursive(s: String): Seq[String] = {
    val p = hpath(s)
    statusOf(p) match {
      case None => Seq.empty
      case Some(st) if st.isFile => Seq(p.toString)
      case Some(_) => fileStatuses(s).map(_.getPath.toString)
    }
  }

  /** Statuses of the regular files at or under `s`, depth-first in
    * listing order — what `fs.listFiles(s, true)` yields, from one
    * `listStatus` per directory (see the object doc). Throws
    * `FileNotFoundException` if `s` is absent.
    */
  private[pipeline] def fileStatuses(s: String): Seq[FileStatus] = {
    val p = hpath(s); val fs = fsOf(p)
    def walk(dir: HPath): Seq[FileStatus] =
      fs.listStatus(dir).toSeq.flatMap(st => if (st.isFile) Seq(st) else walk(st.getPath))
    walk(p)
  }

  /** Immediate subdirectory NAMES of `dir` (empty if absent). */
  def listDirNames(dir: String): Seq[String] = {
    val p = hpath(dir)
    try fsOf(p).listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSeq
    catch { case _: FileNotFoundException => Seq.empty }
  }

  /** Copy one file (overwrites; creates parent dirs). */
  def copyFile(src: String, dst: String): Unit = {
    val s = hpath(src); val d = hpath(dst)
    val sfs = fsOf(s); val dfs = fsOf(d)
    if (d.getParent != null) dfs.mkdirs(d.getParent)
    if (!FileUtil.copy(sfs, s, dfs, d, false, true, conf))
      throw new IOException(s"copy $src -> $dst failed")
  }

  /** Streaming md5 of a file. A file that cannot be read back cleanly
    * (missing, truncated, or failing the filesystem's OWN checksum —
    * Hadoop's local FS verifies `.crc` sidecars on open) reports as
    * `"unreadable:<reason>"`, which can never equal a real digest: bit
    * rot below the FS surfaces as an integrity mismatch, not a crash.
    */
  def md5(s: String): String = {
    val p = hpath(s)
    try {
      val fs = fsOf(p)
      val md = java.security.MessageDigest.getInstance("MD5")
      val in = fs.open(p)
      try {
        val buf = new Array[Byte](65536)
        var n = in.read(buf)
        while (n >= 0) { if (n > 0) md.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
      md.digest().map("%02x".format(_)).mkString
    } catch {
      case e: IOException => s"unreadable:${e.getClass.getSimpleName}"
    }
  }

  /** `child`'s path relative to `base` (scheme-insensitive). Both sides
    * are fully QUALIFIED against their filesystem first: listings return
    * absolute qualified paths (file:/abs/...), so a caller-supplied
    * RELATIVE base would otherwise never prefix-match its own children.
    */
  def relativize(base: String, child: String): String = {
    def qualified(s: String): String = {
      val p = hpath(s)
      fsOf(p).makeQualified(p).toUri.getPath
    }
    val b = qualified(base).stripSuffix("/")
    val c = qualified(child)
    require(c.startsWith(b + "/"), s"$child is not under $base")
    c.substring(b.length + 1)
  }
}
