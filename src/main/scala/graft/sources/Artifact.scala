package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, coalesce, col, count, lit, pmod, sum, xxhash64}

/** A restart-safe on-disk artifact: a directory of data plus ONE small
  * `key⇥value` meta record inside it, published atomically AFTER the
  * data. The record is both the layout description (build parameters,
  * corpus [[Artifact.Fingerprint]]) and the completion marker: a torn
  * build has no meta, reads as absent and is rebuilt — never reused.
  * Every persisted index, demo fixture and streamed view is one of
  * these ([[Artifact.index]], [[Artifact.fixture]], [[Artifact.view]]);
  * all of their meta I/O goes through this class over the [[Dfs]]
  * seam, so one crash-point sweep covers every user of the protocol. */
final class Artifact private (path: String, metaName: String, fs: Dfs) {
  private val metaPath = s"$path/$metaName"

  /** The published record; None when never built, torn, or inside a
    * [[maintain]] bracket. */
  def read: Option[Artifact.Meta] =
    if (fs.exists(metaPath)) Some(Artifact.Meta.parse(fs.readString(metaPath)))
    else None

  /** The published record of an artifact that must exist. */
  def meta: Artifact.Meta = read.getOrElse(
    throw new IllegalStateException(s"$path has no published $metaName"))

  /** True when the published record is byte-equal to `want`. */
  def isCurrent(want: Artifact.Meta): Boolean =
    fs.exists(metaPath) && fs.readString(metaPath) == want.render

  def publish(m: Artifact.Meta): Unit = fs.writeStringAtomic(metaPath, m.render)

  def unpublish(): Unit = fs.delete(metaPath)

  /** Delete the whole artifact, run `build` (which writes under
    * `path`), then publish `m` last. A crash anywhere leaves no meta. */
  def rebuild(m: Artifact.Meta)(build: => Unit): Unit = {
    fs.delete(path)
    build
    publish(m)
  }

  /** Reuse-or-rebuild: true when the published record equals `m` and
    * the on-disk data is reused untouched; otherwise [[rebuild]] and
    * false. */
  def ensure(m: Artifact.Meta)(build: => Unit): Boolean =
    isCurrent(m) || { rebuild(m)(build); false }

  /** Maintenance bracket for in-place rewrites (file swaps) of a live
    * artifact: the meta is unpublished BEFORE `body` touches any file
    * and `body`'s result republished after its last swap. A crash
    * inside leaves no meta, so a torn pass reads as absent and the
    * next ensure rebuilds — the published record never describes a
    * half-swapped layout. `body` gets the record it replaces (None
    * when there was none) and returns the one to publish (None
    * publishes nothing). */
  def maintain(body: Option[Artifact.Meta] => Option[Artifact.Meta]): Unit = {
    val saved = read
    unpublish()
    body(saved).foreach(publish)
  }
}

object Artifact {

  /** Persisted ANN/LSH indexes. */
  def index(path: String, fs: Dfs = Dfs.default): Artifact =
    new Artifact(path, "_index_meta.tsv", fs)

  /** The m_* gates' merge fixtures. */
  def fixture(path: String, fs: Dfs = Dfs.default): Artifact =
    new Artifact(path, "_fixture_meta.tsv", fs)

  /** The incrementally maintained WikiStream view. */
  def view(path: String, fs: Dfs = Dfs.default): Artifact =
    new Artifact(path, "_GRAFT_VIEW_META", fs)

  /** An ordered `key⇥value` record; renders one `key\tvalue\n` line
    * per field, which is the on-disk byte format every layout written
    * so far uses. */
  final case class Meta(fields: Seq[(String, String)]) {
    def render: String = fields.map { case (k, v) => s"$k\t$v\n" }.mkString
    def get(key: String): Option[String] = fields.collectFirst { case (`key`, v) => v }
    def apply(key: String): String = get(key).getOrElse(
      throw new IllegalStateException(s"no $key in meta record"))
    def ++(more: Meta): Meta = Meta(fields ++ more.fields)
  }

  object Meta {
    def apply(kv: (String, Any)*)(implicit d: DummyImplicit): Meta =
      Meta(kv.map { case (k, v) => k -> v.toString })
    def parse(s: String): Meta = Meta(s.linesIterator.map(_.split("\t", 2))
      .collect { case Array(k, v) => k -> v }.toSeq)
  }

  /** Content-sensitive corpus fingerprint: (row count, sum of key
    * residues mod 1e9+7, order-independent XOR of per-row xxhash64
    * over every column). A regenerated corpus with the same keys but
    * new values changes `contentSig`, so it rebuilds instead of
    * reusing stale data into a hash gate.
    *
    * The key component sums RESIDUES, not raw keys: replica offsets
    * put keys near 1e13, and a raw sum over ~10^7 such rows overflows
    * long, which under ANSI (the Spark 4 default) throws instead of
    * wrapping. Residue sums stay within long for any table under
    * ~9·10⁹ rows and equal the raw sum for non-negative keys below
    * 1e9+7; bit_xor cannot overflow. */
  final case class Fingerprint(count: Long, keySum: Long, contentSig: Long) {
    /** The composition law: the fingerprint of a disjoint union is the
      * component-wise sum/sum/xor — what makes append maintenance
      * O(batch) and lets a write-ahead intent predict the post-append
      * meta exactly. */
    def +(o: Fingerprint): Fingerprint =
      Fingerprint(count + o.count, keySum + o.keySum, contentSig ^ o.contentSig)

    /** The record fields, with the key-sum field named `keySumName`. */
    def meta(keySumName: String): Meta =
      Meta("count" -> count, keySumName -> keySum, "contentSig" -> contentSig)
  }

  object Fingerprint {
    def of(df: DataFrame, key: String): Fingerprint = {
      val r = df.agg(count(lit(1)),
        coalesce(sum(pmod(col(key), lit(1000000007L))), lit(0L)),
        coalesce(bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*)), lit(0L)))
        .head()
      Fingerprint(r.getLong(0), r.getLong(1), r.getLong(2))
    }

    def from(m: Meta, keySumName: String): Fingerprint =
      Fingerprint(m("count").toLong, m(keySumName).toLong, m("contentSig").toLong)
  }

  /** Stable home of a corpus dir's artifact of one `kind`, so separate
    * driver runs (fresh JVMs) land on the SAME layout and reuse it:
    * `<root>/<kind>/<12-hex md5 of dir>`. The root is the one
    * deployment setting `spark.graft.artifactDir` (on a cluster, a
    * shared filesystem); unset, it is `java.io.tmpdir`. */
  def stableDir(spark: SparkSession, kind: String, dir: String): String = {
    val root = spark.conf.getOption("spark.graft.artifactDir")
      .getOrElse(sys.props("java.io.tmpdir")).stripSuffix("/")
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    s"$root/$kind/$key"
  }
}
