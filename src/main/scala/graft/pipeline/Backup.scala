package graft.pipeline

/** Backup/restore of a [[Checkpoint]] output store — the engine-shaped
  * analog of the reference's backup manager
  * (/root/reference/src/mcp/backup_manager.py): full backups archive the
  * whole store (:281-341), incremental backups take only what changed
  * since the last completed backup for the same source (:342-417), every
  * file carries an md5 (:166-177), restore extracts a named backup into a
  * target path (:659-691) — here with integrity VALIDATION (hash + parse +
  * completeness) instead of blind extraction.
  *
  * Scale shape: all metadata decisions are made from the tiny per-bucket
  * manifests; file bytes are streamed copy+hash. The store layout
  * (bucket-granular manifests committed atomically) means an incremental
  * backup is "buckets whose identity changed since the chain last
  * captured them" — no file-tree diffing. All I/O rides the Hadoop
  * FileSystem seam ([[Fs]]),
  * so source and target can be local disk, HDFS, or a configured object
  * store; the backup manifest's commit-by-rename is atomic where the FS
  * provides it (see [[Fs]] for the object-store degradation, which only
  * ever exposes "backup absent" — invisible to listBackups/restore).
  */
object Backup {

  final case class BackupFile(relPath: String, md5: String, bytes: Long)

  final case class BackupManifest(
      backupId: String,
      sourceDir: String,
      mode: String, // "full" | "incremental"
      createdAtEpochMs: Long,
      watermarkEpochMs: Long, // latest bucket commit included
      buckets: Seq[Int],
      files: Seq[BackupFile],
      // per-bucket identity (runId@commitMs@rows@bytes) of what this backup
      // captured — incremental selection compares against the chain's
      // accumulated identities, so a bucket recommitted within the same
      // millisecond as a previous backup's watermark is still picked up
      bucketIdentities: Seq[BucketIdentity] = Seq.empty)

  final case class BucketIdentity(k: Int, id: String)

  /** The change-detection key for a committed bucket. */
  private def bucketIdentity(m: Checkpoint.Manifest): String =
    s"${m.runId}@${m.committedAtEpochMs}@${m.rows}@${m.bytes}"

  final case class RestoreReport(
      backupId: String,
      filesRestored: Int,
      bytesRestored: Long,
      corruptFiles: Seq[String], // md5 mismatches (restore is aborted)
      ok: Boolean)

  /** Read a backup's manifest. Returns None when the manifest is absent,
    * UNPARSEABLE (one corrupt/truncated backup.json must not brick
    * listBackups and with it every backup on the shared backupDir), or
    * when its DECLARED backupId differs from the directory name — a
    * hand-copied `b1-old` dir whose manifest still says `b1` would
    * otherwise alias two directories under one id, confusing incremental
    * selection and restore reporting. Such entries are
    * treated as absent and surfaced on stderr.
    */
  def readBackupManifest(backupDir: String, backupId: String): Option[BackupManifest] = {
    val path = s"$backupDir/$backupId/backup.json"
    val m =
      try Fs.readJson[BackupManifest](path)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[backup] skipping unparseable manifest $path: $e")
          return None
      }
    m.filter { b =>
      val matches = b.backupId == backupId
      if (!matches)
        System.err.println(s"[backup] skipping $path: declared backupId " +
          s"'${b.backupId}' does not match directory name '$backupId'")
      matches
    }
  }

  def listBackups(backupDir: String): Seq[BackupManifest] =
    Fs.listDirNames(backupDir)
      .filterNot(_.startsWith(".")) // in-flight ".id.tmp" staging dirs
      .flatMap(d => readBackupManifest(backupDir, d))
      .sortBy(_.createdAtEpochMs)

  /** The chain's view of what is already backed up for `sourceDir`:
    * per-bucket identities accumulated over all backups in commit order
    * (later backups win). The reference keys incrementals on a single
    * MAX(completed_at) timestamp (:349-353); a per-bucket identity map is
    * the lossless form — a bucket recommitted in the same millisecond as
    * the old watermark still differs in identity and is picked up.
    */
  private def backedUpIdentities(
      backupDir: String, sourceDir: String): Map[Int, String] =
    listBackups(backupDir).filter(_.sourceDir == sourceDir)
      .foldLeft(Map.empty[Int, String])((acc, m) =>
        acc ++ m.bucketIdentities.map(b => b.k -> b.id))

  /** Create a backup of the checkpoint store at `outDir`.
    *
    * `incremental = true` includes only buckets whose current identity
    * (runId@commitMs@rows@bytes) differs from what the backup chain
    * already captured — see [[backedUpIdentities]]; the manifest's
    * watermarkEpochMs records the newest commit included, as lineage
    * metadata only. With no prior backup it degrades to a full backup
    * (backup_manager.py:355-358
    * "Primeiro backup - executando backup completo"). The backup manifest
    * is written LAST via atomic rename — a crashed backup leaves no
    * manifest and is invisible to [[listBackups]]/restore, the same
    * commit discipline as the checkpoint store itself.
    *
    * Returns the manifest (empty `buckets` = nothing new to back up; no
    * backup directory is committed in that case).
    */
  def backup(
      outDir: String, numBuckets: Int, backupDir: String, backupId: String,
      incremental: Boolean = false,
      nowMs: Long = System.currentTimeMillis(),
      overwrite: Boolean = false): BackupManifest = {
    // a reused id must not silently replace an existing backup: if the
    // overwritten backup was a link in an incremental chain, later
    // incrementals would restore over DIFFERENT bucket contents with no
    // warning — require explicit overwrite
    if (!overwrite && Fs.exists(s"$backupDir/$backupId"))
      throw new IllegalStateException(
        s"backup id '$backupId' already exists in $backupDir; " +
          "pass overwrite=true to replace it")
    val already =
      if (incremental) backedUpIdentities(backupDir, outDir)
      else Map.empty[Int, String]
    val selected = (0 until numBuckets).flatMap { k =>
      Checkpoint.readManifest(outDir, k)
        .filter(m => !already.get(k).contains(bucketIdentity(m)))
        .map(m => (k, m))
    }
    val newWm = (selected.map(_._2.committedAtEpochMs) :+ 0L).max

    val stage = s"$backupDir/.$backupId.tmp"
    Fs.deleteTree(stage)
    Fs.mkdirs(s"$stage/files")
    val files = scala.collection.mutable.ListBuffer.empty[BackupFile]
    selected.foreach { case (k, _) =>
      // each bucket = its manifest file + its data directory
      val parts = Seq(
        Checkpoint.manifestPath(outDir, k), Checkpoint.bucketDir(outDir, k))
      parts.filter(Fs.exists).foreach { p =>
        Fs.listFilesRecursive(p).foreach { f =>
          val rel = Fs.relativize(outDir, f)
          val dst = s"$stage/files/$rel"
          Fs.copyFile(f, dst)
          val digest = Fs.md5(dst)
          // the "unreadable:" sentinel is for restore-side VERIFICATION;
          // at creation it means the just-staged copy cannot be read back
          // — committing it would record a backup that can never restore
          if (digest.startsWith("unreadable:"))
            throw new java.io.IOException(
              s"backup aborted: staged file $dst failed read-back ($digest)")
          files += BackupFile(rel, digest, Fs.fileSize(dst))
        }
      }
    }
    val manifest = BackupManifest(backupId, outDir,
      if (incremental) "incremental" else "full",
      nowMs, newWm, selected.map(_._1), files.toSeq,
      selected.map { case (k, m) => BucketIdentity(k, bucketIdentity(m)) })
    if (selected.isEmpty) { Fs.deleteTree(stage); return manifest }
    Fs.writeJson(s"$stage/backup.json", manifest)
    val finalDir = s"$backupDir/$backupId"
    Fs.deleteTree(finalDir)
    Fs.renameOverwrite(stage, finalDir)
    manifest
  }

  /** Restore a backup into `targetDir` (a checkpoint-store layout usable
    * by [[Checkpoint.readResult]]). Every file is hash-VALIDATED against
    * the backup manifest before any byte lands in the target; a corrupt
    * backup restores nothing (all-or-nothing, unlike the reference's
    * blind extractall — its validation gap, closed here).
    */
  def restore(backupDir: String, backupId: String, targetDir: String): RestoreReport = {
    val m = readBackupManifest(backupDir, backupId).getOrElse(
      return RestoreReport(backupId, 0, 0L, Seq("backup.json missing"), ok = false))
    val filesRoot = s"$backupDir/$backupId/files"
    val corrupt = m.files.filter { f =>
      val p = s"$filesRoot/${f.relPath}"
      // Fs.md5 reports unreadable/FS-checksum-failing files as a
      // non-digest sentinel, so bit rot below the filesystem also lands
      // here as a mismatch instead of aborting the scan
      !Fs.exists(p) || Fs.fileSize(p) != f.bytes || Fs.md5(p) != f.md5
    }.map(_.relPath)
    if (corrupt.nonEmpty) return RestoreReport(backupId, 0, 0L, corrupt, ok = false)
    // a bucket is the atomic unit: restoring it REPLACES its data dir and
    // manifest (layering an incremental over a full must not merge two
    // generations' part files into one directory)
    m.buckets.foreach { k =>
      Fs.deleteTree(Checkpoint.bucketDir(targetDir, k))
      Fs.deleteIfExists(Checkpoint.manifestPath(targetDir, k))
    }
    // DATA files first, checkpoint manifests LAST — the store's own
    // commit discipline (manifest present ⇒ data durable). A crash
    // mid-restore then leaves manifest-absent buckets that Checkpoint.run
    // simply recomputes, never a committed manifest over partial parquet
    val (manifestFiles, dataFiles) =
      m.files.partition(_.relPath.startsWith("manifests/"))
    var bytes = 0L
    (dataFiles ++ manifestFiles).foreach { f =>
      Fs.copyFile(s"$filesRoot/${f.relPath}", s"$targetDir/${f.relPath}")
      bytes += f.bytes
    }
    RestoreReport(backupId, m.files.size, bytes, Seq.empty, ok = true)
  }
}
