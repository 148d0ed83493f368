package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}

/** Driver-side state-file plumbing for the streaming maintainers
  * ([[StreamIngest]], [[StreamScd2]]): tiny pointer/marker files and
  * staging-directory swaps, driven through the Hadoop `FileSystem` API
  * so the maintained state lives WHEREVER the data lives. The previous
  * `java.nio` form silently pinned the pointer/marker/sweep side to the
  * DRIVER'S LOCAL DISK while the data itself went through Spark's
  * Hadoop path resolution — on any deployment whose default filesystem
  * is not the driver's local FS (HDFS, cluster NFS), the pointer and
  * the data landed on DIFFERENT filesystems and the documented
  * atomic-visibility contract was quietly void. [[graft.sources.IndexFreshness]]
  * already drives Hadoop `FileSystem`; this brings the streaming state
  * to the same posture.
  *
  * Atomicity boundary (documented once, here):
  *
  *   - '''HDFS and POSIX local paths''': `rename` onto an ABSENT
  *     destination is atomic (one NameNode metadata op / `rename(2)`),
  *     and creating a file makes its NAME visible atomically. Every
  *     swap in this module renames onto a destination it just cleared,
  *     and every commit point is either such a rename or the creation
  *     of a marker whose NAME (not content) carries the commitment —
  *     so a crash at any instruction leaves either the old state or
  *     the new, never a torn one.
  *   - '''Object stores (S3A/GCS)''': `rename` is COPY+DELETE — not
  *     atomic, O(data), and a crash mid-rename can leave both halves.
  *     Directory-swap state (the bucketed ingest state, the maintained
  *     aggregate, compacted tables) has ONE commit protocol, the
  *     dst-absent directory rename, so its owners call
  *     [[requireAtomicDirRename]] before their first swap and refuse
  *     these schemes loudly rather than corrupt silently. [[StreamScd2]]'s
  *     marker-file flip commits by creating a NEW, never-overwritten
  *     marker object, so it degrades gracefully where only the sweep
  *     of retired directories loses atomicity (stale data is re-swept,
  *     never resurrected). Every rename here throws when it returns
  *     false.
  */
private[graft] object StateFs {

  /** The Hadoop configuration of the active/default SparkSession (so
    * `fs.defaultFS`, object-store credentials, etc. apply), or a
    * vanilla `Configuration` outside any session — for state owners
    * constructed with only a directory string
    * ([[SketchMaintenance]]-family classes).
    */
  def activeHadoopConf(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** Read a small state file fully (the `InputStream` contract allows
    * short reads — see [[graft.sources.IndexFreshness.isFresh]]).
    */
  def readBytes(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream(256)
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  /** [[readBytes]] decoded as UTF-8. */
  def readString(fs: FileSystem, p: Path): String =
    new String(readBytes(fs, p), "UTF-8")

  /** Overwrite-write a small state file. NOT atomic w.r.t. content on
    * any filesystem (an overwrite truncates before it writes) — callers
    * either tolerate a torn advisory file (the checkpoint side-file,
    * re-derived from state on the next batch) or write into a STAGING
    * name and commit via [[renameInto]].
    */
  def writeString(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  /** Schemes whose `FileSystem.rename` is a COPY+DELETE emulation that
    * RETURNS TRUE (the object-store boundary in the class doc): a crash
    * mid-"rename" leaves both halves and no error ever surfaced, so the
    * directory-swap protocols must refuse these outright rather than
    * corrupt silently. ADLS Gen2 (`abfs`) is deliberately absent — its
    * directory rename is an atomic metadata op, like HDFS.
    */
  private val CopyRenameSchemes =
    Set("s3", "s3a", "s3n", "gs", "oss", "cos", "swift", "wasb", "wasbs")

  /** Fail loudly when `fs` cannot rename directories atomically —
    * called by every directory-swap state owner before its first swap
    * (Hadoop exposes no path capability for rename atomicity, so this
    * is a scheme judgment; `remedy` names what the caller can do instead).
    */
  def requireAtomicDirRename(fs: FileSystem, what: String,
                             remedy: String): Unit = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file").toLowerCase
    if (CopyRenameSchemes(scheme))
      throw new IllegalArgumentException(
        s"$what swaps directories by rename, which on '$scheme' is a " +
          "non-atomic copy+delete that reports success — a crash " +
          s"mid-swap would lose data silently. $remedy")
  }

  /** Rename `src` onto an absent `dst` — the atomic commit op on
    * rename-capable filesystems (see the object doc). The dst-absent
    * precondition is CHECKED, not assumed: HDFS `rename` returns false
    * on an existing destination, but the local filesystem delegates to
    * `File.renameTo`, which on Linux silently REPLACES an existing file
    * — a protocol bug (renaming onto live state) would clobber it
    * without a trace. Failure (either signal) throws with the pair
    * named; a silent false would let a swap half-complete and the next
    * read see retired state.
    */
  def renameInto(fs: FileSystem, src: Path, dst: Path): Unit =
    if (fs.exists(dst) || !fs.rename(src, dst))
      throw new IllegalStateException(
        s"state rename failed: $src -> $dst (destination present, source " +
          "missing, or a cross-filesystem move)")

  /** Recursive delete, no-op when absent. */
  def deleteRecursively(fs: FileSystem, p: Path): Unit =
    if (fs.exists(p)) { fs.delete(p, true); () }

  /** Child names of `dir` (empty when the directory is absent). */
  def listNames(fs: FileSystem, dir: Path): Seq[String] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)

  // ---- versioned small-state files (the sketch/drift maintainers) ----
  //
  // The exactly-once maintainers persist one small state blob whose
  // commit must be atomic WITH its batch id. java.nio offered
  // overwrite-ATOMIC_MOVE; no Hadoop filesystem does, portably. The
  // versioned scheme gets the same guarantee from two portable ops:
  // content goes to a HIDDEN staging name, then a dst-absent rename
  // commits it as `<prefix>-<batchId><suffix>` — the NAME carries the
  // id. Readers take the highest committed id; a crash mid-write
  // leaves only hidden staging garbage (overwritten next commit), a
  // crash between commit and sweep leaves two committed versions of
  // which the newer wins and the next commit sweeps the older.

  private def versionOf(name: String, prefix: String,
                        suffix: String): Option[Long] = {
    val p = s"$prefix-"
    if (name.startsWith(p) && name.endsWith(suffix) &&
        name.length > p.length + suffix.length)
      name.substring(p.length, name.length - suffix.length).toLongOption
    else None
  }

  /** Commit `bytes` as version `batchId` of the `<prefix>*<suffix>`
    * state file in `dir`, then sweep retired versions.
    */
  def writeVersioned(fs: FileSystem, dir: Path, prefix: String,
                     suffix: String, batchId: Long,
                     bytes: Array[Byte]): Unit = {
    fs.mkdirs(dir)
    val name = s"$prefix-$batchId$suffix"
    val tmp = new Path(dir, s".$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    // a same-id file can only be a REPLAY's re-commit (at-least-once
    // delivery re-running a batch whose commit already landed): its
    // content is identical by the exactly-once contract, so KEEP the
    // committed copy and drop the staging. The previous delete-then-
    // rename form opened a crash window in which NO version existed —
    // with the retired versions already swept, a crash between the
    // delete and the rename read the entire state as EMPTY (the silent
    // loss every guard here exists to prevent).
    if (fs.exists(new Path(dir, name))) deleteRecursively(fs, tmp)
    else renameInto(fs, tmp, new Path(dir, name))
    listNames(fs, dir).foreach { n =>
      if (versionOf(n, prefix, suffix).exists(_ != batchId))
        deleteRecursively(fs, new Path(dir, n))
    }
  }

  /** `(batchId, bytes)` of the highest committed version, None before
    * any commit.
    */
  def readVersioned(fs: FileSystem, dir: Path, prefix: String,
                    suffix: String): Option[(Long, Array[Byte])] = {
    val ids = listNames(fs, dir).flatMap(versionOf(_, prefix, suffix))
    if (ids.isEmpty) None
    else {
      val id = ids.max
      Some((id, readBytes(fs, new Path(dir, s"$prefix-$id$suffix"))))
    }
  }

  /** One-time migration of a LEGACY fixed-name state file (the pre-r12
    * java.nio overwrite-rename form) into the versioned scheme — without
    * it, upgrading a deployment with live state would read `(-1, empty)`
    * and the next batch would silently merge into NOTHING, the exact
    * silent-undercount the replay-margin guards exist to prevent.
    * `parse` extracts `(batchId, payload)` from the legacy bytes.
    * Idempotent and crash-safe: the versioned commit lands FIRST, the
    * legacy file deletes after; a crash between the two leaves both, and
    * the next call prefers the versioned copy and just re-deletes the
    * legacy file.
    */
  def migrateLegacy(fs: FileSystem, dir: Path, legacyName: String,
                    prefix: String, suffix: String)(
                    parse: Array[Byte] => (Long, Array[Byte])): Unit = {
    val legacy = new Path(dir, legacyName)
    if (fs.exists(legacy)) {
      if (readVersioned(fs, dir, prefix, suffix).isEmpty) {
        val (id, payload) = parse(readBytes(fs, legacy))
        writeVersioned(fs, dir, prefix, suffix, id, payload)
      }
      fs.delete(legacy, false)
      ()
    }
  }
}
