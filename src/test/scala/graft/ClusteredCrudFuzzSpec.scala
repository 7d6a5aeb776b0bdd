package graft

import graft.io.GeoWriter
import org.scalatest.funsuite.AnyFunSuite

/** Randomized CRUD consistency over the clustered layout — the analogue of
  * the reference's rtree fuzz harness (test/python/rtree_fuzz.py: randomized
  * insert/delete/query rounds against its R-tree). Rounds of
  * appendAndRecluster / deleteWhere / updateWhere are mirrored in an
  * in-memory model; after every round the full table AND a window query must
  * match the model exactly. */
class ClusteredCrudFuzzSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark

  test("randomized append/delete/update rounds match an in-memory model") {
    Graft.register(spark)
    val dir = tempDir("graft_crud_fuzz").toString + "/t"
    val rnd = new scala.util.Random(1234)

    // id -> (x, y, flag); coordinates integral so window-boundary semantics
    // (st_within excludes the boundary) mirror exactly in the model
    var model = Map.empty[Long, (Double, Double, Long)]
    def df(rows: Seq[(Long, Double, Double, Long)]) = {
      import spark.implicits._
      rows.toDF("id", "x", "y", "flag")
        .selectExpr("id", "flag", "st_aswkb(st_point(x, y)) AS geom")
    }
    def inWin(x: Double, y: Double, x0: Int, y0: Int, x1: Int, y1: Int): Boolean =
      x > x0 && x < x1 && y > y0 && y < y1

    val init = (0L until 2000L).map(i =>
      (i, rnd.nextInt(1000).toDouble, rnd.nextInt(1000).toDouble, 0L))
    model = init.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    GeoWriter.clusteredParquet(df(init), "geom", dir, targetPartitions = 6)
    var nextId = 2000L

    for (round <- 1 to 4) {
      // INSERT: a fresh batch, then re-cluster (the OPTIMIZE pairing)
      val batch = (nextId until nextId + 500).map(i =>
        (i, rnd.nextInt(1000).toDouble, rnd.nextInt(1000).toDouble, 0L))
      nextId += 500
      model ++= batch.map(r => r._1 -> ((r._2, r._3, r._4)))
      GeoWriter.appendAndRecluster(df(batch), "geom", dir, targetPartitions = 6)

      // DELETE: a random window
      val dx = rnd.nextInt(800); val dy = rnd.nextInt(800)
      val dPred = s"st_within(geom, st_makeenvelope($dx.0d, $dy.0d, ${dx + 120}.0d, ${dy + 120}.0d))"
      val expectDel = model.values.count { case (x, y, _) => inWin(x, y, dx, dy, dx + 120, dy + 120) }
      val removed = GeoWriter.deleteWhere(spark, dir, dPred)
      assert(removed == expectDel, s"round $round delete: $removed vs model $expectDel")
      model = model.filterNot { case (_, (x, y, _)) => inWin(x, y, dx, dy, dx + 120, dy + 120) }

      // UPDATE: stamp the round number onto a random vertical band
      val ux = rnd.nextInt(800)
      val uPred = s"st_within(geom, st_makeenvelope($ux.0d, -1.0d, ${ux + 100}.0d, 1001.0d))"
      val expectUpd = model.values.count { case (x, y, _) => inWin(x, y, ux, -1, ux + 100, 1001) }
      val updated = GeoWriter.updateWhere(spark, dir, uPred, Map("flag" -> round.toString))
      assert(updated == expectUpd, s"round $round update: $updated vs model $expectUpd")
      model = model.map { case (id, (x, y, f)) =>
        id -> ((x, y, if (inWin(x, y, ux, -1, ux + 100, 1001)) round.toLong else f))
      }

      // full-table and window-query consistency vs the model
      val got = spark.read.parquet(dir)
        .selectExpr("id", "flag", "st_x(st_geomfromwkb(geom)) AS x", "st_y(st_geomfromwkb(geom)) AS y")
        .collect().map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(3), r.getLong(1)))).toMap
      assert(got.size == model.size, s"round $round size: ${got.size} vs ${model.size}")
      assert(got == model, s"round $round full-table mismatch")
      val qx = rnd.nextInt(700)
      val winGot = spark.read.parquet(dir)
        .where(s"st_within(geom, st_makeenvelope($qx.0d, 100.0d, ${qx + 200}.0d, 600.0d))")
        .selectExpr("id").collect().map(_.getLong(0)).toSet
      val winModel = model.collect {
        case (id, (x, y, _)) if inWin(x, y, qx, 100, qx + 200, 600) => id
      }.toSet
      assert(winGot == winModel, s"round $round window query mismatch")
    }
  }

  test("incremental recluster: appends only touch overlapping files; " +
       "content and pruning survive 10 cycles") {
    Graft.register(spark)
    val dir = tempDir("graft_inc_recluster").toString + "/t"
    import spark.implicits._
    def pts(ids: Seq[Long], cell: Long => (Double, Double)) =
      ids.map { i => val (x, y) = cell(i); (i, x, y) }.toDF("id", "x", "y")
        .selectExpr("id", "st_aswkb(st_point(x, y)) AS geom")
    // initial layout: 4000 points over [0,1000]^2, explicit bounds so
    // in-bounds appends never need a footer restamp
    var model = (0L until 4000L).map(i => i -> ((i * 37 % 1000).toDouble, (i * 91 % 1000).toDouble)).toMap
    GeoWriter.clusteredParquet(pts(model.keys.toSeq.sorted, i => model(i)),
      "geom", dir, bounds = Some((0.0, 0.0, 1000.0, 1000.0)), targetPartitions = 8)
    def fileStamps(): Map[String, Long] = {
      val d = new java.io.File(dir)
      d.listFiles().filter(f => f.isFile && f.getName.startsWith("part-"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    var nextId = 4000L
    for (cycle <- 1 to 10) {
      val before = fileStamps()
      // append lands in ONE corner cell (50x50 at a cycle-dependent spot)
      val cx = (cycle * 97) % 900; val cy = (cycle * 53) % 900
      val batch = (nextId until nextId + 200).map(i =>
        i -> ((cx + i % 50).toDouble, (cy + i % 47).toDouble))
      nextId += 200
      model ++= batch
      GeoWriter.appendAndRecluster(pts(batch.map(_._1), batch.toMap.apply),
        "geom", dir, targetPartitions = 8)
      val after = fileStamps()
      // incremental: at least one pre-existing file must be byte/mtime
      // untouched (the 8-file layout always has files clear of a 50x50 cell)
      val untouched = before.keySet.intersect(after.keySet)
        .count(k => before(k) == after(k))
      assert(untouched > 0, s"cycle $cycle rewrote the world (no untouched file)")
      // full-content parity with the model
      val got = spark.read.parquet(dir)
        .selectExpr("id", "st_x(st_geomfromwkb(geom)) AS x", "st_y(st_geomfromwkb(geom)) AS y")
        .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      assert(got == model, s"cycle $cycle content diverged (${got.size} vs ${model.size})")
      // pruning quality: a window query over the append cell finds the new
      // rows (bbox sidecars + footers in sync), and one far away is correct
      val winGot = spark.read.parquet(dir)
        .where(s"st_within(geom, st_makeenvelope(${cx - 1}.0d, ${cy - 1}.0d, ${cx + 51}.0d, ${cy + 48}.0d))")
        .selectExpr("id").collect().map(_.getLong(0)).toSet
      val winModel = model.collect { case (id, (x, y))
        if x > cx - 1 && x < cx + 51 && y > cy - 1 && y < cy + 48 => id }.toSet
      assert(winGot == winModel, s"cycle $cycle window mismatch")
    }
  }

  test("updateWhere on the geometry column recomputes the bbox sidecar " +
       "(window queries see moved rows)") {
    Graft.register(spark)
    val dir = tempDir("graft_crud_geomupd").toString + "/t"
    import spark.implicits._
    // 200 points around (10,10); move ids 0..9 far away to (900+id, 900)
    val init = (0L until 200L).map(i => (i, 10.0 + (i % 20), 10.0 + (i / 20)))
      .toDF("id", "x", "y")
      .selectExpr("id", "st_aswkb(st_point(x, y)) AS geom")
    GeoWriter.clusteredParquet(init, "geom", dir, targetPartitions = 4)
    assert(spark.read.parquet(dir).columns.contains("geom_bbox"))
    val n = GeoWriter.updateWhere(spark, dir, "id < 10",
      Map("geom" -> "st_aswkb(st_point(900.0d + CAST(id AS DOUBLE), 900.0d))"))
    assert(n == 10)
    // BboxSkippingRule conjoins geom_bbox range predicates: if the sidecar
    // were stale (still near (10,10)) these rows would be silently excluded
    val moved = spark.read.parquet(dir)
      .where("st_within(geom, st_makeenvelope(899.0d, 899.0d, 911.0d, 901.0d))")
      .selectExpr("id").collect().map(_.getLong(0)).toSet
    assert(moved == (0L until 10L).toSet, s"stale bbox hid moved rows: $moved")
    // and the bbox column itself matches the new geometry exactly
    val bad = spark.read.parquet(dir)
      .where("geom_bbox.min_x <> st_xmin(st_geomfromwkb(geom)) OR " +
             "geom_bbox.max_y <> st_ymax(st_geomfromwkb(geom))").count()
    assert(bad == 0, s"$bad rows have a bbox sidecar out of sync with the geometry")
  }
}
