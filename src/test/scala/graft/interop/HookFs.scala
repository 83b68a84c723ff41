package graft.interop

import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataOutputStream, Path => HPath,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A local filesystem under the `graftrace:` scheme whose commit files
  * can be intercepted: the moment a Delta `_delta_log/N.json` or an
  * Iceberg `metadata/vN.metadata.json` is about to come into existence
  * (a create-if-absent of it, or a rename onto it), [[HookFs.beforeCommit]]
  * runs once, so a spec can land a rival commit exactly between a
  * writer's staging and its publish, or crash the writer there. A
  * rename onto an existing commit file fails, as on a store whose
  * rename never replaces. Register with [[HookFs.register]]. */
class HookFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${HookFs.Scheme}:///")
  override def getScheme: String = HookFs.Scheme

  override def create(f: HPath, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    if (!overwrite && HookFs.isCommitFile(f)) HookFs.fire(f, () =>
      super.create(f, permission, false, bufferSize, replication, blockSize, progress).close())
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: HPath, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    if (!overwrite && HookFs.isCommitFile(f)) HookFs.fire(f, () =>
      super.create(f, false, bufferSize, replication, blockSize, progress).close())
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: HPath, dst: HPath): Boolean = {
    if (HookFs.isCommitFile(dst)) {
      HookFs.fire(dst, () => ())
      if (exists(dst)) throw new org.apache.hadoop.fs.FileAlreadyExistsException(s"$dst exists")
    }
    super.rename(src, dst)
  }
}

/** The `AbstractFileSystem` face of [[HookFs]], which `FileContext`
  * renames go through. */
class HookAbstractFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new HookFs, conf, HookFs.Scheme, false)

object HookFs {
  val Scheme = "graftrace"

  /** What the next commit-file publish runs first: a rival commit
    * (`Right`), or a crash (`Left`: the writer dies there, after an
    * old-style claim has left the file empty). One-shot. */
  @volatile private var armed: Option[Either[String, () => Unit]] = None

  def beforeCommit(rival: => Unit): Unit = armed = Some(Right(() => rival))
  def crashAtCommit(): Unit = armed = Some(Left("injected crash before the commit file was published"))
  def disarm(): Unit = armed = None

  private[interop] def isCommitFile(p: HPath): Boolean = {
    val n = p.getName
    (p.getParent != null && p.getParent.getName == "_delta_log" &&
      n.length == 25 && n.endsWith(".json") && n.take(20).forall(_.isDigit)) ||
      n.matches("v\\d+\\.metadata\\.json")
  }

  private def fire(p: HPath, claim: () => Unit): Unit = {
    val now = synchronized { val a = armed; armed = None; a }
    now.foreach {
      case Right(rival) => rival()
      case Left(msg) => claim(); throw new java.io.IOException(s"$msg: $p")
    }
  }

  /** Bind the scheme in `conf` (the session's Hadoop configuration). */
  def register(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[HookFs].getName)
    conf.set(s"fs.AbstractFileSystem.$Scheme.impl", classOf[HookAbstractFs].getName)
  }

  /** `graftrace:` path of a fresh local directory named `name`. */
  def freshDir(name: String): String = {
    val p = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"), "graft_test", name)
    graft.ingest.Writers.deleteTree(p)
    s"$Scheme://${p.toAbsolutePath}"
  }
}
