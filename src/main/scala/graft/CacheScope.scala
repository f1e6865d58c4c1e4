package graft

import org.apache.spark.sql.DataFrame

/** Persist lifetime for operator-internal caches, named by the caller.
  *
  * The dedup/similarity operators persist a heavyweight intermediate
  * (shingle sets, LSH signatures) that is referenced several times by
  * the ONE result plan they return. The result is lazy, so the operator
  * cannot unpersist before returning: the cache has to outlive the
  * operator and die with the caller's unit of work.
  *
  * `scope(body)` is that unit. Every `cached(df)` made on this thread
  * while `body` runs is unpersisted when `body` exits, normally or by an
  * exception, so a failed stage releases what it cached. Scopes nest:
  * a cache belongs to the innermost scope open on its thread. The
  * scope must enclose the terminal action on every result that reads
  * a cache. Internal actions an operator runs inside the scope
  * (counts, driver collects) leave its caches in place.
  *
  * Who opens a scope: `pipeline.Memo.commit` around each unit it
  * writes (a stage's `run` or a salted index build), `pipeline.Runner`
  * around each run of a stage with no output dir, q290 around each
  * grid point it runs concurrently, and the specs around each test. Outside
  * any scope `cached` only persists and the caller releases, as Bench,
  * Verify, `tools.Explain` and the benchmark harness do with one
  * `clearCache()` per query.
  *
  * The stack is per thread, so a cache registered while another
  * thread's action runs is untouched by that action and is released
  * when its own owner's scope ends. */
object CacheScope {
  private val open = new ThreadLocal[List[collection.mutable.ArrayBuffer[DataFrame]]] {
    override def initialValue() = Nil
  }

  /** Run `body`; unpersist every DataFrame `cached` in it on exit. */
  def scope[T](body: => T): T = {
    val mine = collection.mutable.ArrayBuffer.empty[DataFrame]
    open.set(mine :: open.get)
    try body
    finally {
      open.set(open.get.tail)
      mine.foreach(_.unpersist())
    }
  }

  /** Persist `df` and hand it to the innermost open scope on this
    * thread, if any. */
  def cached(df: DataFrame): DataFrame = {
    df.persist()
    open.get.headOption.foreach(_ += df)
    df
  }

  /** Lineage truncation for driver-synchronized rounds: rebuild `df`
    * from its (persisted, already materialized) RDD, so the next
    * round's plan starts at a leaf instead of embedding this round's
    * full lineage. */
  private[graft] def truncate(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)
}
