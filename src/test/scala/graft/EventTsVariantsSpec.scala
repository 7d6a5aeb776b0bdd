package graft

import org.scalatest.funsuite.AnyFunSuite

/** The q_sessionize class of bug (round-6 red): the driver's events.parquet
  * has shipped `ts` both as TIMESTAMP(NANOS) (readable only as epoch-nanos
  * BIGINT under the legacy conf) and as timestamp[us]/NTZ. Every events
  * consumer must produce IDENTICAL results on either physical encoding.
  * This spec materializes the same logical events in both encodings and
  * cross-checks the contract queries. */
class EventTsVariantsSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark

  /** same logical rows; ts = epoch micros */
  private def logicalEvents: Seq[(Long, Long, Long, String, Double)] = {
    // user 1: gaps 10min, 40min (2 sessions); user 2: one event
    val base = 1700000000000000L
    Seq(
      (1L, base, 1L, "view", 1.0),
      (2L, base + 600L * 1000000, 1L, "purchase", 2.0),
      (3L, base + 3000L * 1000000, 1L, "view", 3.0),
      (4L, base + 100L * 1000000, 2L, "view", 4.0))
  }

  private def writeVariant(micros: Boolean): String = {
    val dir = tempDir(
      s"graft_events_${if (micros) "us" else "ns"}").toString
    import spark.implicits._
    val df = logicalEvents.toDF("event_id", "ts_us", "user_id", "event_type", "value")
    val out =
      if (micros) df.selectExpr("event_id", "timestamp_micros(ts_us) AS ts",
        "user_id", "event_type", "value", "'{}' AS props")
      else df.selectExpr("event_id", "ts_us * 1000 AS ts",
        "user_id", "event_type", "value", "'{}' AS props")
    out.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("q_sessionize and q_asof_join agree across ts encodings") {
    val usDir = writeVariant(micros = true)
    val nsDir = writeVariant(micros = false)
    for (name <- Seq("q_sessionize", "q_event_stats", "q_asof_join")) {
      val us = SparkEntry.queries(name)(spark, usDir).collect().map(_.toString).sorted.toSeq
      val ns = SparkEntry.queries(name)(spark, nsDir).collect().map(_.toString).sorted.toSeq
      assert(us == ns, s"$name differs across ts encodings:\nus=$us\nns=$ns")
      assert(us.nonEmpty, s"$name returned nothing")
    }
    // sessionize semantics themselves: user 1 has exactly 2 sessions
    val rows = SparkEntry.queries("q_sessionize")(spark, usDir).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows(1L) == 2 && rows(2L) == 1, rows.toString)
  }
}
