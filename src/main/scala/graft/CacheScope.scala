package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Scoped persist lifecycle for operator-internal caches.
  *
  * The dedup/similarity operators persist a heavyweight intermediate
  * (shingle sets, LSH signatures) that is referenced several times by
  * the ONE result plan they return. The result is lazy, so the operator
  * cannot unpersist before returning — but leaning on the session's
  * `clearCache()` (as Verify/Bench do between queries) pins executor
  * storage memory indefinitely in a long-lived user session that
  * composes operators and never clears.
  *
  * `cached(df)` persists and registers the intermediate; a per-session
  * `QueryExecutionListener` unpersists every registered intermediate
  * after the next completed action on the session — for the intended
  * call pattern (build the operator's DataFrame, run one action on it)
  * that is exactly "release after the terminal action". A second action
  * on the same returned DataFrame recomputes without the cache: correct,
  * just unaccelerated — callers wanting multi-action reuse should
  * persist the RESULT themselves, which is theirs to release.
  *
  * Two deliberate containment properties of the registry itself:
  *
  *  - **No session pinning.** Sessions are weak keys: a JVM that cycles
  *    many short-lived sessions must not accumulate them here. The
  *    `Releaser` is referenced only by its own session's
  *    listenerManager (a cycle the GC collects whole), and stopped
  *    sessions with still-pending registrations — whose strong
  *    DataFrame values would otherwise keep their weak key alive — are
  *    purged opportunistically on the next `adopt` from any session.
  *
  *  - **Release is scoped to actions that could be the registrant's
  *    terminal action.** A completed action only claims registrations
  *    made BEFORE it started (listener-observed end minus durationNs;
  *    the bus delay shifts the estimate later, which only widens the
  *    claim, never orphans a cache). An action already running on
  *    another thread when a cache is registered can therefore no longer
  *    release that fresh cache on completion — the silent N-fold
  *    recompute under concurrency is closed up to the bus-delay window.
  *    Over-release inside that residual window stays recompute-only,
  *    never a wrong answer.
  */
object CacheScope {
  private final case class Entry(df: DataFrame, registeredAt: Long)
  // Weak session keys; the lock covers both maps. Entries are
  // short-lived by contract (claimed by the next completed action), so
  // the strong Entry→DataFrame→session chain only pins a session while
  // a registration is genuinely pending.
  private val pending =
    new java.util.WeakHashMap[SparkSession, List[Entry]]()
  private val installed =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())
  private val lock = new Object

  /** Spec observability: when set on the calling thread, every
    * DataFrame registered by that thread is also appended here, so a
    * spec can assert its operator's own caches were released even while
    * unrelated suites share the session. */
  private[graft] val capture = new ThreadLocal[java.util.List[DataFrame]]()

  /** Persist `df` and release it after the next completed action. */
  def cached(df: DataFrame): DataFrame = { df.persist(); adopt(df) }

  /** Register an already-persisted DataFrame for release after the next
    * completed action on its session (for operators that materialize
    * their cache eagerly and only need the deferred release).
    *
    * The listener bus is drained FIRST: an operator that just ran an
    * internal action (the cluster loop's counts, a cold index build's
    * writes) would otherwise race that action's still-queued completion
    * event, which could claim and release the new registration before
    * the caller's terminal action ever starts. Draining makes "the next
    * completed action" mean an action completing after this call; the
    * registration timestamp then shields it from actions that were
    * already running when it was made. */
  def adopt(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    org.apache.spark.sql.GraftShim.drainListenerBus(s)
    val entry = Entry(df, System.nanoTime())
    lock.synchronized {
      // purge registrations of stopped sessions: their listener will
      // never fire again, and their strong values would otherwise keep
      // the weak key alive forever
      val it = pending.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey.sparkContext.isStopped) {
          e.getValue.foreach(x => try x.df.unpersist() catch { case _: Throwable => () })
          it.remove()
        }
      }
      if (installed.add(s)) s.listenerManager.register(new Releaser(s))
      pending.put(s, entry :: Option(pending.get(s)).getOrElse(Nil))
    }
    val c = capture.get()
    if (c != null) c.add(df)
    df
  }

  /** Lineage truncation for driver-synchronized rounds: rebuild `df`
    * from its (persisted, already materialized) RDD, so the next
    * round's plan starts at a leaf instead of embedding this round's
    * full lineage. */
  private[graft] def truncate(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

  private[graft] def pendingCount(s: SparkSession): Int =
    lock.synchronized(Option(pending.get(s)).map(_.size).getOrElse(0))

  private final class Releaser(s: SparkSession) extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = release(durationNs)
    // onFailure carries no durationNs, so the action's start is
    // unknowable — claiming with startedAt = now would claim caches
    // registered while the failed action was mid-flight, reopening the
    // concurrent over-release the timestamp scoping exists to close.
    // Claim NOTHING instead: the registrant's own terminal action (or
    // any later successful action) releases them, so the trade is a
    // slightly longer cache lifetime on failure, never a lost cache.
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
    private def release(durationNs: Long): Unit = {
      // claim only registrations made before this action started —
      // newer ones belong to an operator whose terminal action is
      // still ahead
      val startedAt = System.nanoTime() - durationNs
      val claimed = lock.synchronized {
        val all = Option(pending.get(s)).getOrElse(Nil)
        val (mine, later) = all.partition(_.registeredAt <= startedAt)
        if (later.isEmpty) pending.remove(s) else pending.put(s, later)
        mine
      }
      claimed.foreach(_.df.unpersist())
    }
  }
}
