package graft

/** Filesystem layer shared by every table-maintenance sink — the MERGE
  * and OCC sinks (`operators.ReportUpsert`), bucketed-table cleanup and
  * small-file compaction (`sources.Formats`). All paths resolve through
  * the Hadoop `FileSystem`/`FileContext` API against the SAME
  * filesystem Spark writes to (r17 ported the OCC sinks off
  * `java.io.File`; r18 hoists the layer here so `Formats` can cross the
  * same bridge instead of re-growing a local-disk-only copy). Conf
  * resolution: active session's Hadoop conf, bare conf for
  * session-less callers.
  */
private[graft] object LakeFs {
  import org.apache.hadoop.fs.{FileStatus, Path}

  private def hadoopConf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private def fs(p: Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(hadoopConf)

  def exists(path: String): Boolean = {
    val p = new Path(path); fs(p).exists(p)
  }

  def mkdirs(path: String): Unit = {
    val p = new Path(path); fs(p).mkdirs(p)
  }

  /** Recursive delete; a missing path is a no-op. */
  def delete(path: String): Unit = {
    val p = new Path(path)
    val f = fs(p)
    if (f.exists(p)) f.delete(p, true)
  }

  /** Children of `dir` (empty when missing) — name + mtime + length,
    * one metadata listing. */
  def list(dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    val f = fs(p)
    if (!f.exists(p)) Seq.empty else f.listStatus(p).toSeq
  }

  /** Rename that FAILS LOUDLY: a silently-ignored rename failure
    * (cross-filesystem target, permissions) would leave the live
    * table stale or the swap half-done with readers none the wiser.
    * `FileSystem.rename` signals failure by RETURNING FALSE; this
    * throws instead, so the swap invariant (readers see old-complete
    * or new-complete, never partial) holds or the writer aborts —
    * and a `recover` on the next run restores the layout. */
  def move(src: String, dst: String): Unit = {
    val sp = new Path(src)
    if (!fs(sp).rename(sp, new Path(dst)))
      throw new java.io.IOException(s"rename $src -> $dst failed")
  }

  /** Atomic publish-if-absent — the commit primitive. FILES ONLY (the
    * manifest/lock claims it serves are single files).
    *
    * Two scheme-dependent primitives, each atomic on its filesystem:
    *
    *  - `file:` — hard-link creation (`Files.createLink`): link(2)
    *    fails EEXIST atomically on POSIX. `FileContext.rename(…,
    *    Rename.NONE)` is NOT safe here: `ChecksumFs`/`RawLocalFs`
    *    implements the no-replace check as getFileStatus-then-rename,
    *    and the underlying POSIX rename silently replaces — two
    *    concurrent claimants could both "win" in the TOCTOU window
    *    (r17 ADVICE). The r16 hard-link CAS returns for this scheme.
    *  - everything else — `FileContext.rename(…, Rename.NONE)`, the
    *    HDFS LogStore protocol: on HDFS the check-and-rename is one
    *    atomic namenode op; ABFS and GCS honor it too. Object stores
    *    WITHOUT atomic rename-no-replace (raw S3) need a coordination
    *    service here — the documented Delta-on-S3 caveat.
    *
    * Returns false on the lost race. */
  def renameNoReplace(src: String, dst: String): Boolean = {
    val sp = new Path(src)
    val f = fs(sp)
    val qsrc = f.makeQualified(sp)
    val qdst = f.makeQualified(new Path(dst))
    if (qsrc.toUri.getScheme == "file") {
      val srcNio = java.nio.file.Paths.get(qsrc.toUri.getPath)
      val dstNio = java.nio.file.Paths.get(qdst.toUri.getPath)
      try {
        java.nio.file.Files.createLink(dstNio, srcNio)
        java.nio.file.Files.deleteIfExists(srcNio)
        // FileContext.create on file: goes through ChecksumFs and
        // writes a `.name.crc` sibling next to the claim; the r17
        // rename carried it along, but link(2) + delete strands it —
        // one orphan per successful commit/lock claim, forever
        // (losers clean theirs via Fs.delete, which IS crc-aware).
        // Readers tolerate a missing crc on the published file.
        java.nio.file.Files.deleteIfExists(
          srcNio.resolveSibling("." + srcNio.getFileName + ".crc"))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        // r19 (ADVICE): keep the Boolean CAS contract's failure modes
        // explicit — a mount without hard-link support (or a vanished
        // parent dir) must name the requirement, not escape as an
        // unexplained crash from inside a commit.
        case e: UnsupportedOperationException =>
          throw new IllegalStateException(
            s"LakeFs.renameNoReplace: the file: commit path requires " +
              s"hard-link support (link(2) is the atomic " +
              s"publish-if-absent primitive) but the filesystem holding " +
              s"$dstNio does not provide it — use an HDFS-class scheme " +
              "or a mount with hard links", e)
        case e: java.nio.file.NoSuchFileException =>
          throw new IllegalStateException(
            s"LakeFs.renameNoReplace: claim source or destination parent " +
              s"vanished mid-commit ($srcNio -> $dstNio) — the staging " +
              "dir must outlive the claim", e)
      }
    } else {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        qsrc.toUri, hadoopConf)
      try {
        fc.rename(qsrc, qdst)
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case e: java.io.IOException
          if e.getMessage != null && e.getMessage.contains("already exists") =>
          false
      }
    }
  }

  def readUtf8(path: String): String = {
    val p = new Path(path)
    val in = fs(p).open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Write through `FileContext`, matching the non-local CAS path (a
    * FileContext rename carries whatever FileContext wrote). NOTE:
    * on file: this still goes through ChecksumFs and writes a
    * `.name.crc` sibling (verified empirically against the bundled
    * Hadoop) — the file:-scheme CAS above cleans it up after the
    * link, and `delete`/FileSystem renames are crc-aware. */
  def writeUtf8(path: String, content: String): Unit = {
    val p = new Path(path)
    val qualified = fs(p).makeQualified(p)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      qualified.toUri, hadoopConf)
    val out = fc.create(qualified,
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE),
      org.apache.hadoop.fs.Options.CreateOpts.createParent())
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }
}
