package graft

import graft.operators.KMeans
import org.apache.spark.BroadcastBlocks
import org.scalatest.funsuite.AnyFunSuite

class KMeansSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("two tight blobs separate; centroids are exact means") {
    import spark.implicits._
    // blob A around (0..1, 0), blob B around (100..101, 0); seeds = ids 0, 1
    val pts = Seq((0L, 0.0, 0.0), (1L, 100.0, 0.0), (2L, 1.0, 0.0), (3L, 101.0, 0.0),
                  (4L, 0.0, 1.0), (5L, 100.0, 1.0)).toDF("id", "x", "y")
    val rows = KMeans.cluster(spark, pts, k = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rows.map(_._2).toSeq == Seq(0, 1, 0, 1, 0, 1))
    // cluster 0 mean = ((0+1+0)/3, (0+0+1)/3)
    assert(rows(0)._3 == 1.0 / 3 && rows(0)._4 == 1.0 / 3)
    assert(rows(1)._3 == 301.0 / 3 && rows(1)._4 == 1.0 / 3)
  }

  test("null coordinates are dropped, not crashed on") {
    import spark.implicits._
    val pts = Seq((Some(0L), Some(0.0), Some(0.0)), (Some(1L), Some(10.0), Some(0.0)),
                  (Some(2L), None: Option[Double], Some(1.0)), (Some(3L), Some(1.0), Some(0.0)))
      .toDF("id", "x", "y")
    val rows = KMeans.cluster(spark, pts, k = 2, iters = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 3L)) // id 2 dropped
  }

  test("empty clusters keep their centroid; iters=0 assigns against seeds") {
    import spark.implicits._
    val pts = Seq((0L, 0.0, 0.0), (1L, 1000.0, 0.0), (2L, 1.0, 0.0), (3L, 2.0, 0.0))
      .toDF("id", "x", "y")
    // seed 1 at x=1000 attracts nothing after round 1? no — id 1 itself stays.
    val zero = KMeans.cluster(spark, pts, k = 2, iters = 0)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    assert(zero.map(_._2).toSeq == Seq(0, 1, 0, 0))
    val two = KMeans.cluster(spark, pts, k = 2, iters = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    assert(two.map(_._2).toSeq == Seq(0, 1, 0, 0))
  }

  /** Lloyd's trajectory in plain Scala with KMeans's seeding and
    * (distance, cid) tie rule: each point's final cluster. */
  private def reference(xs: Array[Double], ys: Array[Double], k: Int, iters: Int): Map[Long, Int] = {
    val n = xs.length
    var cents = Array.tabulate(k)(i => (i, xs(i), ys(i)))
    def assign(x: Double, y: Double): Int = {
      var best = Double.PositiveInfinity; var bc = Int.MaxValue
      cents.foreach { case (c, cx, cy) =>
        val d = (x - cx) * (x - cx) + (y - cy) * (y - cy)
        if (d < best || (d == best && c < bc)) { best = d; bc = c }
      }
      bc
    }
    for (_ <- 0 until iters) {
      val acc = scala.collection.mutable.HashMap.empty[Int, (Double, Double, Long)]
      (0 until n).foreach { i =>
        val c = assign(xs(i), ys(i))
        val (sx, sy, cnt) = acc.getOrElse(c, (0.0, 0.0, 0L))
        acc(c) = (sx + xs(i), sy + ys(i), cnt + 1)
      }
      cents = cents.map { case (c, cx, cy) =>
        acc.get(c) match {
          case Some((sx, sy, cnt)) => (c, sx / cnt, sy / cnt)
          case None => (c, cx, cy)
        }
      }
    }
    (0 until n).map(i => i.toLong -> assign(xs(i), ys(i))).toMap
  }

  private def points(n: Int): (Array[Double], Array[Double]) =
    (Array.tabulate(n)(i => ((i * 37) % 100).toDouble), Array.tabulate(n)(i => ((i * 53) % 100).toDouble))

  test("large k takes the path and matches a brute-force reference") {
    // k = 200 is past the 128 centroids where assignment once left the plan
    // for a broadcast; verify the full trajectory against an in-test Lloyd
    // implementation with the identical (distance, cid) tie rule
    val n = 600; val k = 200; val iters = 3
    val (xs, ys) = points(n)
    import spark.implicits._
    val pts = (0 until n).map(i => (i.toLong, xs(i), ys(i))).toDF("id", "x", "y")
    val got = KMeans.cluster(spark, pts, k, iters)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = reference(xs, ys, k, iters)
    (0 until n).foreach { i =>
      assert(got(i.toLong) == want(i.toLong), s"id=$i")
    }
  }

  test("large k leaves no centroid broadcast behind") {
    // the centroids travel in the plan as a literal: no round broadcasts
    // them, and cx/cy come from the same literal rather than a broadcast join
    val n = 400; val k = 150; val iters = 4
    val (xs, ys) = points(n)
    import spark.implicits._
    val pts = (0 until n).map(i => (i.toLong, xs(i), ys(i))).toDF("id", "x", "y")
    val centroids = (v: Any) => v.isInstanceOf[Array[(_, _, _)]] ||
      v.getClass.getName.endsWith("HashedRelation") // a broadcast join's build
    val before = BroadcastBlocks.live(centroids)
    val result = KMeans.cluster(spark, pts, k, iters)
    val got = result.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == reference(xs, ys, k, iters))
    val left = BroadcastBlocks.live(centroids) -- before
    assert(left.isEmpty, s"centroid broadcasts left: $left")
    assert(!result.queryExecution.executedPlan.toString.contains("Broadcast"),
      result.queryExecution.executedPlan.toString)
  }

  test("NaN coordinates are dropped: k = 2 and k = 150 give the rows of the input without them") {
    import spark.implicits._
    val (xs, ys) = points(400)
    val pts = (0 until 400).map(i => (i.toLong, xs(i), ys(i)))
    // the NaN points take low ids, where they would seed clusters
    val nans = Seq((-2L, Double.NaN, 5.0), (-1L, 7.0, Double.NaN), (1000L, Double.NaN, Double.NaN))
    Seq(2, 150).foreach { k =>
      def rows(df: org.apache.spark.sql.DataFrame) = KMeans.cluster(spark, df, k, iters = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getDouble(3))).sortBy(_._1).toSeq
      assert(rows((pts ++ nans).toDF("id", "x", "y")) == rows(pts.toDF("id", "x", "y")), s"k=$k")
    }
  }
}
