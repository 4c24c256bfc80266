package graft.sources

import java.io.IOException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** The filesystem seam under the table-layout protocols: Merge's
  * staging/swap/manifest publish, MergeStream's high-water marks,
  * AnnStream's write-ahead intent, and the [[Artifact]] meta protocol
  * (persisted IVF/IVF-PQ/LSH indexes, merge fixtures, the WikiStream
  * view) with its reuse-or-rebuild and maintenance bracket.
  *
  * The protocols themselves — stage, marker, per-bucket rename,
  * manifest-atomic publish — are storage-agnostic; what varies is how
  * a path is listed, renamed, deleted. Round 3 hard-coded
  * `java.io.File`/`renameTo`, which silently returns false on any
  * non-local scheme and so bricked every merge on HDFS/S3. This trait
  * is the one junction: production code calls [[Dfs.default]] (the
  * Hadoop `FileSystem` API — file://, hdfs://, s3a://, resolved
  * per-path from the active Hadoop configuration, exactly what Spark
  * itself uses to read the table), tests can inject a mock to prove
  * the protocol sequences its calls correctly.
  *
  * Atomicity note: `rename` inherits the FileSystem contract — an
  * atomic metadata move on HDFS/local, a copy+delete emulation on
  * S3A. The Merge protocols are designed so the only rename that
  * PUBLISHES state is a single small manifest file (versioned path)
  * or is replayable from a marker (swap path) — the layout survives a
  * non-atomic data-dir rename either way.
  */
trait Dfs {
  def exists(path: String): Boolean
  def mkdirs(path: String): Unit
  /** Recursive delete; silently a no-op when the path is absent. */
  def delete(path: String): Unit
  /** Move `src` to `dst` (same scheme); throws [[IOException]] when
    * the filesystem refuses — callers rely on loud failure. */
  def rename(src: String, dst: String): Unit
  /** Names (not paths) of the immediate children; empty when absent. */
  def listNames(path: String): Seq[String]
  /** Names of the immediate child DIRECTORIES; empty when absent. */
  def listDirNames(path: String): Seq[String]
  /** (name, byte size) of the immediate child FILES; empty when
    * absent. The size-tiered compaction planner's input. */
  def listFileSizes(path: String): Seq[(String, Long)]
  /** Create an empty file (completion markers). */
  def touch(path: String): Unit
  def readString(path: String): String
  /** Publish a small text file atomically: write `<path>.tmp`, then
    * rename over `path` — the read side never sees a torn write. */
  def writeStringAtomic(path: String, content: String): Unit
}

/** Hadoop-FileSystem-backed [[Dfs]]. One instance serves mixed
  * schemes: each call resolves the owning FileSystem from its path. */
final class HadoopDfs(confOf: () => Configuration) extends Dfs {
  private def fs(p: Path): FileSystem = p.getFileSystem(confOf())

  override def exists(path: String): Boolean = {
    val p = new Path(path); fs(p).exists(p)
  }
  override def mkdirs(path: String): Unit = {
    val p = new Path(path)
    if (!fs(p).mkdirs(p)) throw new IOException(s"mkdirs failed: $path")
  }
  override def delete(path: String): Unit = {
    val p = new Path(path); fs(p).delete(p, true); ()
  }
  override def rename(src: String, dst: String): Unit = {
    val s = new Path(src); val d = new Path(dst)
    if (!fs(s).rename(s, d))
      throw new IOException(s"rename failed: $src -> $dst")
  }
  override def listNames(path: String): Seq[String] = {
    val p = new Path(path)
    val f = fs(p)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).map(_.getPath.getName).toSeq
  }
  override def listDirNames(path: String): Seq[String] = {
    val p = new Path(path)
    val f = fs(p)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSeq
  }
  override def listFileSizes(path: String): Seq[(String, Long)] = {
    val p = new Path(path)
    val f = fs(p)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).filter(_.isFile)
      .map(s => s.getPath.getName -> s.getLen).toSeq
  }
  override def touch(path: String): Unit = {
    val p = new Path(path)
    fs(p).create(p, true).close()
  }
  override def readString(path: String): String = {
    val p = new Path(path)
    val in = fs(p).open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }
  override def writeStringAtomic(path: String, content: String): Unit = {
    val tmp = new Path(path + ".tmp")
    val dst = new Path(path)
    val f = fs(dst)
    val out = f.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // Publish must stay atomic ALSO when overwriting (the CDC
    // high-water sidecar republishes every micro-batch; a
    // delete-then-rename window would leave NO file across a crash
    // and reset the replay guard). FileContext.rename(OVERWRITE) is
    // the portable atomic replace (local, HDFS, viewfs); schemes with
    // no AbstractFileSystem binding (s3a) fall back to plain rename —
    // which is copy+delete there anyway, so nothing atomic is lost.
    try {
      org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, confOf())
        .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        if (!f.rename(tmp, dst)) {
          f.delete(dst, false)
          if (!f.rename(tmp, dst))
            throw new IOException(s"atomic publish failed: $path")
        }
    }
  }
}

object Dfs {
  /** Production seam: the Hadoop FileSystem with a fresh default
    * Configuration per call site (picks up the cluster's
    * core-site.xml / fs.defaultFS from the classpath, the same config
    * Spark's own readers use; local runs resolve file:// exactly as
    * before). */
  lazy val default: Dfs = new HadoopDfs(() => new Configuration())
}
