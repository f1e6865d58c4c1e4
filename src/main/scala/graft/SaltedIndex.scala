package graft

import org.apache.spark.sql.SparkSession
import org.apache.hadoop.fs.Path
import graft.pipeline.Memo

/** Shared machinery for the persisted content-addressed indexes —
  * DedupIndex, IvfIndex, PqIndex, PhraseIndex, Bpe, the near-dup cluster
  * labels (`Dedup.nearDupClusters`) and the Graph edge relations
  * (tradeArcs, coPurchaseEdges, custPartEdges): the salted directory
  * scheme, build-once under the `Memo` completion flag, and the
  * corpus file stamp that invalidates an index when its source data
  * changes.
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
    * directory of parts); "absent" when unreadable so dir() still
    * resolves and the build fails with the real read error. */
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
    } catch { case _: Throwable => "absent" }

  /** Content-addressed index dir `<root>/<prefix>-<salt>`. */
  def dir(spark: SparkSession, prefix: String, version: String, src: String,
      params: Seq[(String, String)]): String =
    s"$root/$prefix-${pipeline.Salt.of(Nil, prefix, version,
      ("stamp" -> stamp(spark, src)) +: params)}"

  /** Check-then-build with in-JVM serialization: two concurrent cold
    * callers must not overwrite each other's half-written index (the
    * loser of the race would mode("overwrite")-delete files the winner
    * already marked done). Double-checked under one JVM-wide lock —
    * builds are rare, so coarse is fine; cross-PROCESS safety rests on
    * the content-addressed dir scheme (a production deployment would
    * commit via write-to-temp + atomic rename). The build is one
    * `CacheScope`: its caches are released when it has written. `build`
    * only writes under `p`; the dir is marked done here once it
    * returns, and a build that throws leaves it unmarked. */
  private val buildLock = new Object
  def ensureBuilt(spark: SparkSession, p: String)(build: => Unit): Unit =
    if (!Memo.done(spark, p)) buildLock.synchronized {
      if (!Memo.done(spark, p)) {
        CacheScope.scope(build)
        Memo.mark(spark, p)
      }
    }
}
