package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, RawLocalFileSystem}

/** The local file system under a scheme (`sessionfs:///abs/path`) that only
  * a session's Hadoop configuration registers (`register`): code that opens
  * a file system from a fresh `Configuration` cannot resolve it. Its cache
  * is off, so no instance made from the session's conf hides the miss. */
class SessionOnlyFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${SessionOnlyFileSystem.Scheme}:///")
  override def getScheme: String = SessionOnlyFileSystem.Scheme
}

/** the `FileContext` side of the same scheme (atomic overwriting renames) */
class SessionOnlyFs(uri: java.net.URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new SessionOnlyFileSystem, conf,
      SessionOnlyFileSystem.Scheme, false)

object SessionOnlyFileSystem {
  val Scheme = "sessionfs"

  def register(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[SessionOnlyFileSystem].getName)
    conf.setBoolean(s"fs.$Scheme.impl.disable.cache", true)
    conf.set(s"fs.AbstractFileSystem.$Scheme.impl", classOf[SessionOnlyFs].getName)
  }
}
