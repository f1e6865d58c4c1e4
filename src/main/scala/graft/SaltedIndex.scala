package graft

import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.Path
import scala.util.control.NonFatal
import graft.pipeline.Memo

/** Shared machinery for the persisted content-addressed indexes —
  * DedupIndex, IvfIndex, PqIndex, PhraseIndex, Bpe, the near-dup cluster
  * labels (`Dedup.nearDupClusters`) and the Graph edge relations
  * (tradeArcs, coPurchaseEdges, custPartEdges): the salted directory
  * scheme, build-once through `Memo.commit` (the committer pipeline
  * stages use), and the corpus file stamp that invalidates an index
  * when its source data changes.
  *
  * The directory key covers the corpus FILE STAMPS (names + lengths +
  * modification times), the build parameters, and the index version —
  * regenerated data at the same path, a parameter change, or a code
  * version bump each relocate the index, so a stale index can never be
  * silently reused (the same lineage-salt idea as pipeline.Salt
  * stages). */
object SaltedIndex {

  def root: String =
    sys.env.getOrElse("GRAFT_INDEX_ROOT",
      s"${sys.props("java.io.tmpdir")}/graft-ivf")

  /** Stable stamp of the file(s) behind `src` (a parquet file or a
    * directory of parts); it also keys `Tables.parquet`'s schema memo.
    * "absent" when missing or unreadable, so dir() still resolves and
    * the build fails with the real read error. Only non-fatal errors
    * read as "absent": an interrupt (a cancelled job group's thread) or
    * an OOM propagates. */
  def stamp(spark: SparkSession, src: String): String =
    try {
      val f = Memo.fs(spark, src)
      val st = f.getFileStatus(new Path(src))
      val parts =
        if (st.isDirectory)
          f.listStatus(new Path(src)).toSeq
            .map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
            .sortBy(_._1)
        else Seq((st.getPath.getName, st.getLen, st.getModificationTime))
      parts.map { case (n, l, m) => s"$n:$l:$m" }.mkString(",")
    } catch { case NonFatal(_) => "absent" }

  /** Content-addressed index dir `<root>/<prefix>-<salt>`. */
  def dir(spark: SparkSession, prefix: String, version: String, src: String,
      params: Seq[(String, String)]): String =
    s"$root/$prefix-${pipeline.Salt.of(Nil, prefix, version,
      ("stamp" -> stamp(spark, src)) +: params)}"

  private val built = new java.util.concurrent.ConcurrentHashMap[String, Integer]

  /** Observability for specs: builds of `prefix` this JVM has written. */
  def builds(prefix: String): Int = built.getOrDefault(prefix, 0)

  /** Commit the index dir `p` (a `dir(...)`) once through `Memo.commit`
    * and return it: `write` writes the index under `p`. A build counts
    * under the prefix of `p`'s `<prefix>-<salt>` name. A warm call pays
    * one flag check and takes no lock. */
  def build(spark: SparkSession, p: String)(write: String => Unit): String = {
    if (Memo.commit(spark, p)(write(p))) {
      val name = new Path(p).getName
      built.merge(name.substring(0, name.lastIndexOf('-')), 1, (a, b) => a + b)
    }
    p
  }
}
