package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path, RawLocalFileSystem}

/** The local file system under its own scheme (`countfs:///abs/path`),
  * counting the metadata and open calls made through it. Register it with
  * `fs.countfs.impl`; the counts are shared by every instance. */
class CountingFileSystem extends RawLocalFileSystem {
  import CountingFileSystem._
  override def getUri: java.net.URI = java.net.URI.create(s"$Scheme:///")
  override def getScheme: String = Scheme
  override def listStatus(f: Path): Array[FileStatus] = { ListStatus.incrementAndGet(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { GetFileStatus.incrementAndGet(); super.getFileStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { Open.incrementAndGet(); super.open(f, bufferSize) }
}

object CountingFileSystem {
  val Scheme = "countfs"
  val ListStatus = new AtomicLong
  val GetFileStatus = new AtomicLong
  val Open = new AtomicLong

  /** (listStatus, getFileStatus, open) calls made during `body` */
  def callsDuring(body: => Any): (Long, Long, Long) = {
    val counters = Seq(ListStatus, GetFileStatus, Open)
    val before = counters.map(_.get)
    body
    val d = counters.zip(before).map { case (c, b) => c.get - b }
    (d(0), d(1), d(2))
  }
}
