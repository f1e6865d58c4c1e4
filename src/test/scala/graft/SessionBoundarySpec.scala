package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The 30-minute session rule at its edge: a gap of exactly
  * `SessionGapNs` stays in the session, one nanosecond more starts a
  * new one. q19, q141, q181 and q292 all number sessions through
  * `Queries.sessionStarts` / `sessionIds`; this spec pins the helper
  * and q19 on the planted fixture, and the q141, q181 and q292 specs
  * run their local recomputes over it too. */
class SessionBoundarySpec extends SparkSpec {
  import SessionFixture._

  test("a gap of exactly 30 minutes stays in the session, 1 ns more starts one") {
    val got = Queries.sessionIds(Tables.eventsNs(spark, dir(spark)))
      .select(col("user_id"), col("event_id"), col("sid")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == Users.size * PlantedSids.size)
    got.groupBy(_._1).values.foreach { g =>
      assert(g.sortBy(_._2).map(_._3).toSeq == PlantedSids)
    }
  }

  test("q19 counts the planted sessions") {
    val got = Queries.eventsSessionize(spark, dir(spark)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Users.map(u => (u, PlantedSids.size.toLong, PlantedSids.max)))
  }
}

/** Six users' events with planted gaps of exactly `SessionGapNs` (same
  * session) and `SessionGapNs` + 1 ns (new session), written once per
  * JVM with a BIGINT epoch-nanos `ts` — the only events vintage that
  * carries a 1 ns step. */
object SessionFixture {
  private val G = Queries.SessionGapNs
  private val T0 = 1704067200000000000L // 2024-01-01T00:00:00Z
  // gaps before events 1..7: G (same), G+1 (new), 1 s, G (same),
  // G+1 (new), 5 s, G (same)
  private val Gaps = Seq(G, G + 1, 1000000000L, G, G + 1, 5000000000L, G)
  /** Each user's session numbers in event order under those gaps. */
  val PlantedSids: Seq[Long] = Seq(1L, 1L, 2L, 2L, 2L, 3L, 3L, 3L)
  val Users: Seq[Long] = 1L to 6L
  private val Types = Seq("view", "click", "purchase", "error")

  private var written: Option[String] = None

  /** The fixture's data dir (holding `events.parquet`). */
  def dir(spark: SparkSession): String = synchronized {
    written.getOrElse {
      import spark.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("sessions").toString
      Users.flatMap { u =>
        Gaps.scanLeft(T0 + 7L * u)(_ + _).zipWithIndex.map { case (t, k) =>
          (100L * u + k, t, u, Types(((u + k) % Types.size).toInt), 1.0)
        }
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.parquet(s"$tmp/events.parquet")
      written = Some(tmp)
      tmp
    }
  }
}
