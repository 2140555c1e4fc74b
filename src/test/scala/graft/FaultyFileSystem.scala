package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, Path, RawLocalFileSystem}

/** The local file system under its own scheme (`faultfs:///abs/path`) that
  * counts renames and, once armed, fails the Nth one before it changes
  * anything: a crash at that step of a commit protocol. Every rename counts
  * once, whether a FileSystem rename (promotes, file moves, Spark's task
  * commits) or a FileContext one (the record's overwriting rename).
  * Register it with `register`; the count is shared by every instance. */
class FaultyFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${FaultyFileSystem.Scheme}:///")
  override def getScheme: String = FaultyFileSystem.Scheme
  override def rename(src: Path, dst: Path): Boolean = {
    if (!FaultyFileSystem.inFileContext.get) FaultyFileSystem.renaming(src, dst)
    super.rename(src, dst)
  }
}

/** the `FileContext` side of the same scheme: its rename counts once, its
  * inner FileSystem rename not again */
class FaultyFs(uri: java.net.URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new FaultyFileSystem, conf,
      FaultyFileSystem.Scheme, false) {
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit = {
    FaultyFileSystem.renaming(src, dst)
    FaultyFileSystem.inFileContext.set(true)
    try super.renameInternal(src, dst, overwrite) finally FaultyFileSystem.inFileContext.set(false)
  }
}

object FaultyFileSystem {
  val Scheme = "faultfs"
  private val renames = new AtomicLong
  /** the rename count that fails; 0: disarmed */
  @volatile private var failAt = 0L
  private[graft] val inFileContext = ThreadLocal.withInitial[Boolean](() => false)

  def register(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[FaultyFileSystem].getName)
    conf.set(s"fs.AbstractFileSystem.$Scheme.impl", classOf[FaultyFs].getName)
  }

  /** `dir` under this scheme */
  def uri(dir: String): String = s"$Scheme://$dir"

  private[graft] def renaming(src: Path, dst: Path): Unit =
    if (renames.incrementAndGet() == failAt)
      throw new java.io.IOException(s"injected fault at rename $failAt: $src -> $dst")

  /** renames made during `body`, which runs disarmed */
  def renamesDuring(body: => Any): Long = {
    val before = renames.get
    body
    renames.get - before
  }

  /** Runs `body` with its `n`th rename failing and returns the failure
    * (fails if `body` does not fail). */
  def failingRename(n: Long)(body: => Any): Throwable = {
    failAt = renames.get + n
    try {
      body
      throw new AssertionError(s"no failure: rename $n was never reached")
    } catch {
      case e: AssertionError => throw e
      case e: Throwable => e
    } finally failAt = 0L
  }
}
