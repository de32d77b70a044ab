package graft.ops

/** The one lifecycle of every write-once persisted artifact. A family
  * supplies only its build body; `ensure` owns the rest:
  *
  *  1. PATH. `target/<kind>/sf<sf>_<fingerprint>`, where the fingerprint
  *     hashes the CONTENT of the source dataset the artifact derives from
  *     (salted with the builder's parameters), making each directory
  *     write-once: new data maps to a new name, and a rebuild never deletes
  *     a directory a concurrent reader is serving from. For a Spark-written
  *     dataset the source is a DIRECTORY — `File.length()` is the inode size
  *     and mtime granularity is coarse, so a regenerated corpus could
  *     silently alias a stale artifact. The fingerprint therefore hashes
  *     the sorted list of data-file (relative-name, size, mtime) tuples
  *     inside the dataset (hidden/metadata files excluded), recursively; a
  *     plain file hashes its own (size, mtime). [[path]] computes the
  *     directory without building anything, so the DuckDB oracle can name
  *     an artifact no query has touched yet.
  *  2. MARKER. A directory is committed iff it holds [[Marker]]; `ensure`
  *     writes it into the build's temp dir after the build returns, and the
  *     streaming sinks seal their segments and versions with the same
  *     [[commit]] / [[isCommitted]] pair.
  *  3. LOCK. The recheck-committed → delete-leftovers → ATOMIC_MOVE install
  *     runs under a JVM-global monitor (racing threads in one JVM) PLUS an
  *     OS file lock on `<base>/.install.lock` (builders in separate JVMs
  *     sharing a target dir, e.g. Verify racing Bench). The marker is
  *     re-checked inside the lock, so exactly one complete artifact is ever
  *     installed and a committed directory is never deleted.
  *  4. RECHECK. After the install `ensure` hands out the directory only if
  *     it is committed, and fails otherwise.
  *
  * Kinds, by source: `lex_index`, `bigram_lm`, `curation_stages`,
  * `bpe_tokenizer` (documents); `ivf_centroids`, `ivf_trained`, `pq`,
  * `sq8_codes` (embeddings); `nl_ground` (nation); `stats_scan`
  * (lineitem); `bench_scaled` (the whole sf dir).
  */
object ArtifactStore {

  /** The commit marker: a directory without it is an interrupted write. */
  val Marker = "_GRAFT_OK"

  def isCommitted(dir: java.io.File): Boolean = new java.io.File(dir, Marker).exists()

  def commit(dir: java.io.File): Unit = new java.io.File(dir, Marker).createNewFile(): Unit

  /** 8-hex-char content fingerprint of a dataset path (file or Spark
    * dataset directory), salted with builder parameters so differently
    * configured artifacts never alias. */
  def fingerprint(path: java.io.File, salt: String): String = {
    def entries(f: java.io.File, rel: String): Seq[String] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten
          .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
          .sortBy(_.getName)
          .flatMap(c => entries(c, s"$rel/${c.getName}"))
      else Seq(s"$rel:${f.length}:${f.lastModified}")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest((entries(path, "") :+ salt).mkString("|").getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString
  }

  /** Absolute directory of the `kind` artifact derived from
    * `<sf>/<table>.parquet` (the whole `sf` dir when `table` is empty) —
    * what [[ensure]] returns for the same arguments. Builds nothing. */
  def path(kind: String, sf: String, table: String, salt: String): String = {
    val src = if (table.isEmpty) new java.io.File(sf)
      else new java.io.File(s"$sf/$table.parquet")
    // the "sf" prefix keeps the dir name from starting with "_": Spark's
    // path filter treats _-prefixed names as hidden metadata and logs
    // "All paths were ignored" on every read of such a root
    new java.io.File(s"target/$kind",
      "sf" + sf.replaceAll("[^A-Za-z0-9._-]", "_") + "_" + fingerprint(src, salt))
      .getAbsolutePath
  }

  /** Build-if-absent: returns [[path]]'s directory, committed. When it is
    * not, `build` writes a complete artifact into a fresh temp dir, which
    * is then marked and installed under the lock. */
  def ensure(kind: String, sf: String, table: String, salt: String)(
      build: java.io.File => Unit): String = {
    val dir = new java.io.File(path(kind, sf, table, salt))
    if (!isCommitted(dir)) {
      val base = dir.getParentFile
      val tmp = new java.io.File(base,
        s"${dir.getName}.tmp.${java.util.UUID.randomUUID}")
      build(tmp)
      commit(tmp)
      install(base, dir, tmp)
      if (!isCommitted(dir))
        sys.error(s"$kind artifact at $dir could not be installed")
    }
    dir.toString
  }

  /** Committed `seg-*` children of `base` in name (batch) order — the
    * segments a streaming sink has sealed. */
  def sealedSegments(base: String): Seq[String] =
    committedChildren(base).filter(_.getName.startsWith("seg-"))
      .sortBy(_.getName).map(_.toString)

  /** The committed `v<batchId>` child of `base` with the largest batch id
    * below `beforeBatch`. Ids compare NUMERICALLY: lexicographic
    * 'v100000' < 'v99999' would fold a long-running stream into a stale
    * snapshot. */
  def latestVersion(base: String,
      beforeBatch: Long = Long.MaxValue): Option[String] =
    committedChildren(base)
      .filter(f => f.getName.matches("v[0-9]+") &&
        f.getName.drop(1).toLong < beforeBatch)
      .sortBy(_.getName.drop(1).toLong)
      .lastOption.map(_.toString)

  private def committedChildren(base: String): Seq[java.io.File] =
    Option(new java.io.File(base).listFiles()).toSeq.flatten.filter(isCommitted)

  /** Install `tmp` (a COMPLETE, marked build) as `dir`, unless a racing
    * builder already committed `dir` — then `tmp` is dropped. */
  private def install(base: java.io.File, dir: java.io.File,
      tmp: java.io.File): Unit = this.synchronized {
    base.mkdirs()
    val lockFile = new java.io.File(base, ".install.lock")
    val ch = java.nio.channels.FileChannel.open(lockFile.toPath,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val lock = ch.lock()
      try {
        if (isCommitted(dir)) VectorOps.deleteRecursively(tmp)
        else {
          VectorOps.deleteRecursively(dir) // uncommitted leftovers only
          java.nio.file.Files.move(tmp.toPath, dir.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
      } finally lock.release()
    } finally ch.close()
  }
}
