package graft.interop

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Observable counters for the table formats' optimistic-concurrency
  * REBASE paths (same introspection spirit as [[DvIntrospect]]): each
  * commit that landed after losing a race ([[OptimisticCommit.run]])
  * increments its format's counter. The graded contention entry
  * `require`s a real rebase happened; the race specs assert no silent
  * lost update. */
object CommitIntrospect {
  val deltaRebases = new java.util.concurrent.atomic.AtomicLong(0L)
  val icebergRebases = new java.util.concurrent.atomic.AtomicLong(0L)
  // lost-race rebases of MAINTENANCE rewrites (the compaction-vs-ingest
  // race) — a dataChange=false / `replace` rewrite whose file-identity
  // read set no rival touched
  val deltaRewriteRebases = new java.util.concurrent.atomic.AtomicLong(0L)
  val icebergRewriteRebases = new java.util.concurrent.atomic.AtomicLong(0L)
  // Versioned commits that claimed a later version past a rival
  val versionedRebases = new java.util.concurrent.atomic.AtomicLong(0L)
}

/** The one commit-file publish step every table format shares. */
object CommitFiles {

  /** Stores that publish an object only when its writer closes it, so a
    * create-if-absent there is already whole. */
  private val ObjectStores = Set("s3a", "s3", "s3n", "gs", "oss", "cosn", "obs", "wasb", "wasbs")

  /** Make `dest` exist with exactly `bytes`, or throw
    * ConcurrentModificationException when it already exists (a rival
    * committed first). The payload goes to a hidden temporary file
    * first and becomes visible in one put-if-absent, so no reader ever
    * sees an empty or half-written commit file, and a writer that dies
    * before the publish leaves the version free:
    *  - `file:` — a hard link (`java.nio`), which the kernel refuses
    *    when `dest` exists;
    *  - object stores — `create(overwrite = false)`, visible only once
    *    closed;
    *  - HDFS and other filesystems — `FileContext.rename` with
    *    `Rename.NONE`, which refuses an existing destination.
    * Any other IOException (disk full, permissions) propagates as is;
    * `onLost` says in the conflict's message what losing means. */
  def publish(fs: FileSystem, dest: HPath, bytes: Array[Byte],
      onLost: String = "a concurrent writer committed it first"): Unit = {
    val tmpName = s".${dest.getName}.${java.util.UUID.randomUUID()}.tmp"
    val lost = fs.getUri.getScheme match {
      case "file" =>
        val p = java.nio.file.Paths.get(dest.toUri.getPath)
        java.nio.file.Files.createDirectories(p.getParent)
        val tmp = java.nio.file.Files.write(p.resolveSibling(tmpName), bytes,
          java.nio.file.StandardOpenOption.CREATE_NEW)
        try { java.nio.file.Files.createLink(p, tmp); false }
        catch { case _: java.nio.file.FileAlreadyExistsException => true }
        finally java.nio.file.Files.deleteIfExists(tmp): Unit
      case s if ObjectStores.contains(s) =>
        try {
          val out = fs.create(dest, false)
          try out.write(bytes) finally out.close()
          false
        } catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => true }
      case _ =>
        val tmp = new HPath(dest.getParent, tmpName)
        val out = fs.create(tmp, false)
        try out.write(bytes) finally out.close()
        try {
          org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf)
            .rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.NONE)
          false
        } catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => true }
        finally fs.delete(tmp, false): Unit
    }
    if (lost) throw new java.util.ConcurrentModificationException(s"$dest: $onLost")
  }
}
