package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class StreamingSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark

  test("geo source streams newly-arrived files as micro-batches with restart-stable offsets") {
    val dir = tempDir("graft_geostream").toString
    val ckpt = tempDir("graft_geostream_ckpt").toString
    def writeFile(name: String, ids: Range): Unit = {
      val lines = ids.map(i =>
        s"""{"type":"Feature","id":"$i","geometry":{"type":"Point","coordinates":[$i,${i * 2}]},"properties":{"k":"$i"}}""")
      // write-then-rename so the listing never sees a half-written file
      val tmp = java.nio.file.Paths.get(dir, name + ".tmp")
      java.nio.file.Files.write(tmp, lines.mkString("\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(dir, name))
    }
    writeFile("a.geojsonl", 0 until 3)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    def startQuery() = spark.readStream.format("geo").load(dir)
      .selectExpr("id", "st_x(geom) as x")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => got.add((r.getString(0), r.getDouble(1)))); ()
      }.start()
    import scala.jdk.CollectionConverters._
    val q = startQuery()
    try {
      q.processAllAvailable()
      assert(got.size == 3)
      writeFile("b.geojsonl", 10 until 15)
      q.processAllAvailable()
      val rows = got.asScala.toSeq.sortBy(_._1.toInt)
      assert(rows.map(_._1) == Seq("0", "1", "2", "10", "11", "12", "13", "14"))
      assert(rows.last._2 == 14.0)
    } finally q.stop()
    // restart from the checkpoint: already-consumed files are NOT re-read,
    // files that arrived while stopped come through as the next batch
    got.clear()
    writeFile("c.geojsonl", 20 until 22)
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      val ids = got.asScala.toSeq.map(_._1).sorted
      assert(ids == Seq("20", "21"), s"restart re-read or missed files: $ids")
    } finally q2.stop()
  }

  test("windowed counts with watermark over a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Long)]
    val df = input.toDF().toDF("ts", "event_type", "user_id")
    val q = StreamOps.windowedCounts(df, "ts", "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("wc").outputMode("update").start()
    try {
      input.addData(
        (Timestamp.valueOf("2026-01-01 10:01:00"), "click", 1L),
        (Timestamp.valueOf("2026-01-01 10:02:00"), "click", 2L),
        (Timestamp.valueOf("2026-01-01 10:11:00"), "view", 1L))
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_type, n FROM wc ORDER BY event_type").collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("click", 2L), ("view", 1L)))
    } finally q.stop()
  }

  test("streaming dedup within watermark drops re-deliveries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val df = input.toDF().toDF("ts", "text")
    val q = StreamOps.dedupWithinWatermark(df, "text", "ts", "1 hour")
      .writeStream.format("memory").queryName("dd").outputMode("append").start()
    try {
      input.addData(
        (Timestamp.valueOf("2026-01-01 10:00:00"), "hello world"),
        (Timestamp.valueOf("2026-01-01 10:00:01"), "HELLO   world"), // same fingerprint after normalize
        (Timestamp.valueOf("2026-01-01 10:00:02"), "different"))
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM dd").collect()(0).getLong(0) == 2L)
    } finally q.stop()
  }

  test("stateful sessionize via mapGroupsWithState") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val df = input.toDF().toDF("user_id", "ts_millis")
    val q = StreamOps.sessionize(spark, df, gapMillis = 1000L)
      .writeStream.format("memory").queryName("sess").outputMode("update").start()
    try {
      input.addData((1L, 0L), (1L, 500L), (1L, 5000L)) // gap after 500 → second session
      q.processAllAvailable()
      val r = spark.sql("SELECT sessionId, events FROM sess WHERE userId = 1").collect()(0)
      assert(r.getLong(0) == 1L && r.getInt(1) == 1)
    } finally q.stop()
  }

  test("stream-static spatial enrichment broadcasts the region side") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    Graft.register(spark)
    val regions = spark.sql("""
      SELECT 'west' AS region, st_geomfromtext('POLYGON ((0 0, 5 0, 5 10, 0 10, 0 0))') AS rgeom
      UNION ALL
      SELECT 'east', st_geomfromtext('POLYGON ((5 0, 10 0, 10 10, 5 10, 5 0))')""")
    val input = MemoryStream[(Long, Double, Double)]
    val df = input.toDF().toDF("id", "x", "y")
    val q = StreamOps.enrichWithRegions(df, "x", "y", regions, "rgeom")
      .select("id", "region")
      .writeStream.format("memory").queryName("enr").outputMode("append").start()
    try {
      input.addData((1L, 2.0, 2.0), (2L, 7.0, 3.0), (3L, 50.0, 50.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT id, region FROM enr ORDER BY id").collect()
      assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((1L, "west"), (2L, "east"), (3L, null)))
    } finally q.stop()
  }

  test("streaming LSH near-dup candidates: colliders emit against first-seen") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    val q = StreamOps.lshNearDupCandidates(spark, df, "doc_id", "text",
        k = 32, shingle = 4, bands = 8, seed = 42)
      .writeStream.format("memory").queryName("nd").outputMode("append").start()
    try {
      input.addData(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (3L, "completely unrelated text about spark streaming state"))
      q.processAllAvailable()
      input.addData((2L, "the quick brown fox jumps over the lazy cat")) // near-dup of 1
      q.processAllAvailable()
      val cands = spark.sql("SELECT DISTINCT docId, firstDocId FROM nd").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(cands.contains((2L, 1L)), s"expected doc 2 to collide with 1, got $cands")
      assert(!cands.exists(c => c._1 == 3L || c._2 == 3L), s"unrelated doc collided: $cands")
    } finally q.stop()
  }

  test("streaming geofence uses spatial expressions per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Double, Double)]
    val df = input.toDF().toDF("x", "y")
    val q = StreamOps.geofence(df, "x", "y", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
      .writeStream.format("memory").queryName("gf").outputMode("append").start()
    try {
      input.addData((5.0, 5.0), (20.0, 20.0), (1.0, 9.0))
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM gf").collect()(0).getLong(0) == 2L)
    } finally q.stop()
  }

  test("round-5 text functions compose with streaming plans unchanged") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    Graft.register(spark)
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("id", "text")
      .selectExpr("id", "gopher_stats(text).bullet_line_frac AS bullets",
        "url_normalize(text) AS nurl", "hash_bucket(text, 10) AS b",
        "size(chunk_text(text, 2, 0)) AS chunks")
    val q = df.writeStream.format("memory").queryName("r5fns").outputMode("append").start()
    try {
      input.addData((1L, "HTTP://WWW.Site.COM/a/?utm_source=x"), (2L, "- item\nplain text here"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT id, bullets, nurl, chunks FROM r5fns ORDER BY id").collect()
      assert(rows(0).getString(2) == "http://site.com/a")
      assert(rows(1).getDouble(1) == 0.5 && rows(1).getInt(3) == 3)
    } finally q.stop()
  }

  test("streaming as-of enrichment keeps marker state across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // (key, ts, isMarker, payload)
    val input = MemoryStream[(Long, Long, Boolean, Double)]
    val df = input.toDF().toDF("k", "ts", "m", "v")
    val q = StreamOps.streamingAsof(spark, df, "k", "ts", "m", "v")
      .writeStream.format("memory").queryName("asf").outputMode("append").start()
    try {
      // batch 1: marker@10 then events at 5, 10, 15 (same-batch, tie at 10)
      input.addData((1L, 10L, true, 1.0), (1L, 5L, false, 0.0),
                    (1L, 10L, false, 0.0), (1L, 15L, false, 0.0))
      q.processAllAvailable()
      // batch 2: marker@20, event@25; key 2 has no marker
      input.addData((1L, 20L, true, 2.0), (1L, 25L, false, 0.0),
                    (2L, 7L, false, 0.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT key, ts, payload FROM asf ORDER BY key, ts").collect()
        .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toSeq
      assert(rows == Seq((1L, 5L, -1.0), (1L, 10L, 1.0), (1L, 15L, 1.0),
                         (1L, 25L, 2.0), (2L, 7L, -1.0)))
    } finally q.stop()
  }
}
