package graft

import scala.collection.mutable.ArrayBuffer

import graft.sources.Dfs

/** Ordered log of every mutating seam call (delete, rename, atomic
  * publish), delegating to a real filesystem — the data path (Spark
  * parquet I/O) stays real while the PROTOCOL sequencing becomes
  * assertable, the [[DfsSpec]] mock's trick applied where a pure mock
  * can't carry Spark reads.
  *
  * `crashAt = k > 0` makes the k-th mutating call throw
  * [[LoggingDfs.Crash]] instead of running: the process dies just
  * before that commit point. Sweeping k over every call of an
  * uncrashed run's log enumerates every crash point of a protocol. */
final class LoggingDfs(inner: Dfs, crashAt: Int = 0) extends Dfs {
  val log = ArrayBuffer.empty[String]

  private def mutate(entry: String)(op: => Unit): Unit = {
    if (log.size + 1 == crashAt) throw new LoggingDfs.Crash(entry)
    log += entry
    op
  }

  override def exists(p: String): Boolean = inner.exists(p)
  override def mkdirs(p: String): Unit = inner.mkdirs(p)
  override def delete(p: String): Unit = mutate(s"delete $p")(inner.delete(p))
  override def rename(s: String, d: String): Unit =
    mutate(s"rename $s -> $d")(inner.rename(s, d))
  override def listNames(p: String): Seq[String] = inner.listNames(p)
  override def listDirNames(p: String): Seq[String] = inner.listDirNames(p)
  override def listFileSizes(p: String): Seq[(String, Long)] =
    inner.listFileSizes(p)
  override def touch(p: String): Unit = inner.touch(p)
  override def readString(p: String): String = inner.readString(p)
  override def writeStringAtomic(p: String, c: String): Unit =
    mutate(s"publish $p")(inner.writeStringAtomic(p, c))
}

object LoggingDfs {
  final class Crash(at: String) extends RuntimeException(s"injected crash before $at")
}
