package graft

import graft.functions.VecFns
import graft.operators.{KMeans, SemDeDup}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, functions => F}
import org.apache.spark.sql.catalyst.util.{GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The nearest-centroid decisions that `VecFns.Centroids` replaced, kept as
  * differential references. */
private object NearestCentroidReference {

  /** The sort-based `ivf_probe` kernel: every centroid's L2 distance (with
    * the square root), fully sorted by (distance, index), then truncated. */
  def ivfProbe(v: Array[Double], cs: Seq[Array[Double]], nprobe: Int): Seq[Int] = {
    def l2(a: Array[Double], b: Array[Double]): Double = {
      val n = math.min(a.length, b.length)
      var s = 0.0
      var i = 0
      while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
      math.sqrt(s)
    }
    val dists = Array.tabulate(cs.length)(i => (l2(v, cs(i)), i))
    java.util.Arrays.sort(dists, Ordering.by((t: (Double, Int)) => t)(
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)))
    dists.take(math.min(nprobe, dists.length)).map(_._2).toSeq
  }

  /** SemDeDup's struct-maximum assignment: the cid of the largest
    * (`vec_cosine`, -cid) pair. */
  def semDeDupCid(df: DataFrame, vecCol: String, centroids: Seq[(Int, Array[Double])]): DataFrame = {
    val best = F.array_max(F.zip_with(
      F.typedLit(centroids.map(_._2.toSeq)), F.typedLit(centroids.map(_._1)),
      (c, cid) => F.struct(F.call_function("vec_cosine", F.col(vecCol), c).as("s"),
        (-cid.cast("long")).as("n"))))
    df.withColumn("cid", (-best.getField("n")).cast("int"))
  }

  /** `KMeans.cluster` with its two assignment paths: an `array_min` over
    * (distance, cid) structs up to k = 128, and above that a broadcast
    * centroid array scanned by `mapPartitions`; then a broadcast join for
    * `cx`/`cy`. */
  def kmeans(spark: SparkSession, points: DataFrame, k: Int, iters: Int): DataFrame = {
    import spark.implicits._
    val p = points.selectExpr("CAST(id AS LONG) AS id", "CAST(x AS DOUBLE) AS x",
      "CAST(y AS DOUBLE) AS y")
      .where("id IS NOT NULL AND x IS NOT NULL AND y IS NOT NULL")
    var cents: Array[(Int, Double, Double)] = p.orderBy("id").limit(k).collect()
      .zipWithIndex.map { case (r, i) => (i, r.getDouble(1), r.getDouble(2)) }

    def assignCol(cs: Array[(Int, Double, Double)]): Column = {
      val alts = cs.map { case (cid, cx, cy) =>
        F.struct(
          (F.col("x") - F.lit(cx)) * (F.col("x") - F.lit(cx)) +
            (F.col("y") - F.lit(cy)) * (F.col("y") - F.lit(cy)) as "d",
          F.lit(cid) as "c")
      }
      F.array_min(F.array(alts: _*)).getField("c")
    }
    def assigned(cs: Array[(Int, Double, Double)]): DataFrame =
      if (cs.length <= 128)
        p.select(F.col("id"), F.col("x"), F.col("y"), assignCol(cs).cast("int").as("c"))
      else {
        val bc = spark.sparkContext.broadcast(cs)
        p.as[(Long, Double, Double)].mapPartitions { it =>
          val arr = bc.value
          it.map { case (id, x, y) =>
            var best = Double.PositiveInfinity
            var bestC = Int.MaxValue
            var i = 0
            while (i < arr.length) {
              val dx = x - arr(i)._2; val dy = y - arr(i)._3
              val d = dx * dx + dy * dy
              if (d < best || (d == best && arr(i)._1 < bestC)) { best = d; bestC = arr(i)._1 }
              i += 1
            }
            (id, x, y, bestC)
          }
        }.toDF("id", "x", "y", "c")
      }

    for (_ <- 0 until iters) {
      val sums = assigned(cents).groupBy("c")
        .agg(F.sum("x").as("sx"), F.sum("y").as("sy"), F.count(F.lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3))).toMap
      cents = cents.map { case (cid, cx, cy) =>
        sums.get(cid) match {
          case Some((sx, sy, n)) if n > 0 => (cid, sx / n, sy / n)
          case _ => (cid, cx, cy)
        }
      }
    }
    val centsDf = F.broadcast(cents.toSeq.toDF("cluster", "cx", "cy"))
    assigned(cents).select(F.col("id"), F.col("c").as("cluster"))
      .join(centsDf, "cluster")
      .select(F.col("id"), F.col("cluster"), F.col("cx"), F.col("cy"))
  }
}

class NearestCentroidSpec extends AnyFunSuite {
  import NearestCentroidReference._

  private lazy val spark = SparkTestSession.spark

  private val vecSchema = StructType(Seq(
    StructField("id", LongType), StructField("v", ArrayType(DoubleType))))

  private def vecDf(rows: Seq[Array[Double]]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.zipWithIndex.map { case (v, i) =>
      Row(i.toLong, if (v == null) null else v.toSeq) }: _*), vecSchema)

  /** Vectors over a small integer grid, so they hold exact distance and
    * similarity ties, plus NaN components, zero and null vectors, and now
    * and then one component more than the centroids. */
  private def vectors(rnd: scala.util.Random, n: Int, d: Int): Seq[Array[Double]] =
    Seq.fill(n)(rnd.nextInt(16) match {
      case 0 => null
      case 1 => Array.fill(d)(0.0)
      case 2 => Array.tabulate(d)(i => if (i == rnd.nextInt(d)) Double.NaN else rnd.nextInt(3).toDouble)
      case 3 => Array.fill(d + 1)(rnd.nextInt(4) - 1.0)
      case _ => Array.fill(d)(rnd.nextInt(4) - 1.0)
    })

  /** k grid centroids, with a repeated vector whenever k > 1 and, if `nan`,
    * a NaN component in one of them. */
  private def centroids(rnd: scala.util.Random, k: Int, d: Int, nan: Boolean): Seq[Array[Double]] = {
    val cs = Array.fill(k)(Array.fill(d)(rnd.nextInt(3) - 0.5 * rnd.nextInt(2)))
    if (k > 1) cs(k - 1) = cs(rnd.nextInt(k - 1)).clone()
    if (nan) cs(rnd.nextInt(k))(rnd.nextInt(d)) = Double.NaN
    cs.toSeq
  }

  private def probeRows(df: DataFrame, probe: Column): Seq[Option[Seq[Int]]] =
    df.select(F.col("id"), probe).collect().toSeq.sortBy(_.getLong(0))
      .map(r => if (r.isNullAt(1)) None else Some(r.getSeq[Int](1)))

  /** The seeded cases every differential test walks: (k, n, d, nan). */
  private def cases(rnd: scala.util.Random): Seq[(Int, Int, Int, Boolean)] =
    Seq((1, 30, 2, false), (2, 40, 2, true), (5, 40, 3, false), (16, 60, 2, true)) ++
      Seq.fill(4)((1 + rnd.nextInt(12), 20 + rnd.nextInt(40), 1 + rnd.nextInt(4), rnd.nextBoolean()))

  test("differential: ivf_probe (L2) equals the sort-based kernel for nprobe 1, 2, k, k+3") {
    val rnd = new scala.util.Random(7101)
    cases(rnd).zipWithIndex.foreach { case ((k, n, d, nan), i) =>
      val vs = vectors(rnd, n, d)
      val cs = centroids(rnd, k, d, nan)
      val df = vecDf(vs)
      val lit = F.typedLit(cs.map(_.toSeq))
      Seq(1, 2, k, k + 3).foreach { nprobe =>
        val ctx = s"case $i: k=$k n=$n d=$d nan=$nan nprobe=$nprobe"
        val want = vs.map(v => Option(v).map(ivfProbe(_, cs, nprobe)))
        val got = probeRows(df, F.call_function("ivf_probe", F.col("v"), lit, F.lit(nprobe)))
        assert(got == want, ctx)
        assert(probeRows(df, F.call_function("ivf_probe", F.col("v"), lit, F.lit(nprobe), F.lit("l2")))
          == want, s"$ctx ('l2')")
        // the same kernel with the centroids as a column, decoded per row
        val perRow = df.withColumn("cs", lit).withColumn("cs", F.when(F.col("id") >= 0, F.col("cs")))
        assert(probeRows(perRow, F.call_function("ivf_probe", F.col("v"), F.col("cs"), F.lit(nprobe)))
          == want, s"$ctx (per-row centroids)")
      }
    }
  }

  test("differential: cosine ranks bit for bit by vec_cosine, NaN first, ties to the smaller index") {
    val rnd = new scala.util.Random(7102)
    def ad(v: Array[Double]) = new GenericArrayData(v.map(x => x: Any))
    cases(rnd).zipWithIndex.foreach { case ((k, n, d, nan), i) =>
      val vs = vectors(rnd, n, d)
      val cs = centroids(rnd, k, d, nan)
      val df = vecDf(vs)
      Seq(1, 2, k, k + 3).foreach { nprobe =>
        val want = vs.map(v => Option(v).map { v =>
          val s = cs.map(c => VecFns.cosine(ad(v), ad(c)))
          cs.indices.sortWith { (a, b) =>
            val o = SQLOrderingUtil.compareDoubles(s(b), s(a))
            o < 0 || (o == 0 && a < b)
          }.take(nprobe)
        })
        val got = probeRows(df, F.call_function("ivf_probe", F.col("v"),
          F.typedLit(cs.map(_.toSeq)), F.lit(nprobe), F.lit("cosine")))
        assert(got == want, s"case $i: k=$k n=$n d=$d nan=$nan nprobe=$nprobe")
      }
    }
  }

  test("differential: SemDeDup assigns the same cid as the zip_with struct maximum") {
    val rnd = new scala.util.Random(7103)
    cases(rnd).zipWithIndex.foreach { case ((k, n, d, nan), i) =>
      // no NaN row: two of them are NaN-similar, which is above any tau
      val vs = vectors(rnd, n, d).filterNot(v => v != null && v.exists(_.isNaN))
      // cids shuffled against the centroid order, so the operator must sort
      val cents = rnd.shuffle((0 until k).map(j => 5 + 3 * j)).zip(centroids(rnd, k, d, nan))
      val df = vecDf(vs)
      // tau above every similarity: nothing drops, so every row shows its cid
      val got = SemDeDup.dedup(df, "id", "v", cents, tau = 2.0)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val want = semDeDupCid(df, "v", cents).collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
      assert(got == want, s"case $i: k=$k n=$n d=$d nan=$nan")
    }
  }

  test("differential: KMeans equals both previous assignment paths at k = 1, 2, 150, 200") {
    import spark.implicits._
    val rnd = new scala.util.Random(7104)
    Seq((1, 40, 2), (2, 60, 3), (150, 400, 2), (200, 450, 3)).foreach { case (k, n, iters) =>
      // a coarse grid: repeated points make repeated centroids and exact ties
      val pts = (0 until n).map { i =>
        val x = if (rnd.nextInt(40) == 0) None else Some(rnd.nextInt(30).toDouble)
        (i.toLong, x, rnd.nextInt(30).toDouble)
      }
      val df = rnd.shuffle(pts).toDF("id", "x", "y")
      val nanDf = df.union(Seq((n.toLong, Option(Double.NaN), 3.0), (-1L, Some(4.0), Double.NaN))
        .toDF("id", "x", "y"))
      def rows(d: DataFrame) = d.collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
        .sortBy(_._1).toSeq
      val want = rows(kmeans(spark, df, k, iters))
      assert(rows(KMeans.cluster(spark, df, k, iters)) == want, s"k=$k")
      assert(rows(KMeans.cluster(spark, nanDf, k, iters)) == want, s"k=$k with NaN points")
    }
  }

  test("contract: null vectors, null centroids, NaN, ties and metric, one row each") {
    val nan = "double('NaN')"
    val table = Seq(
      // (vector, centroids, nprobe and metric, result)
      ("CAST(NULL AS array<double>)", "array(array(1d))", "1", null),
      ("array(0d, 0d)", "CAST(NULL AS array<array<double>>)", "1", null),
      ("array(0d, 0d)", "array(NULL, array(1d, 1d), array(0d, 0d))", "3", Seq(2, 1)),
      ("array(0d, 0d)", "array(CAST(NULL AS array<double>))", "2", Seq()),
      ("array(0d)", "array(array(1d), array(-1d), array(1d))", "3", Seq(0, 1, 2)),
      ("array(0d)", s"array(array($nan), array(5d))", "2", Seq(1, 0)),
      ("array(0d)", s"array(array($nan), array($nan), array(5d))", "3, 'l2'", Seq(2, 0, 1)),
      ("array(1d, 0d)", s"array(array(1d, 0d), array(1d, $nan), array($nan, 0d))", "3, 'cosine'", Seq(1, 2, 0)),
      ("array(1d, 0d)", "array(array(2d, 0d), array(1d, 0d), array(0d, 1d))", "2, 'cosine'", Seq(0, 1)),
      (s"array($nan, 0d)", "array(array(2d, 0d), array(1d, 0d))", "1, 'cosine'", Seq(0)),
      ("array(0d, 0d)", "array(array(1d, 0d), array(0d, 1d))", "1, 'cosine'", Seq(0)),
      ("array(0d)", "array(array(1d))", "0", Seq()),
      ("array(0d)", "array(array(1d))", "-2", Seq()),
      ("array(0d)", "array(array(1d))", "CAST(NULL AS INT)", null))
    table.foreach { case (v, cs, rest, want) =>
      val sql = s"SELECT ivf_probe($v, $cs, $rest)"
      val got = spark.sql(sql).collect()(0)
      if (want == null) assert(got.isNullAt(0), sql)
      else assert(got.getSeq[Int](0) == want, sql)
    }
    val err = intercept[Exception](spark.sql("SELECT ivf_probe(array(0d), array(array(1d)), 1, 'dot')").collect())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("ivf_probe: metric must be 'l2' or 'cosine'")), err.toString)
  }
}
