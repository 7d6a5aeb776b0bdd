package graft

import graft.functions.FnRegistry
import graft.geom.{Geo, Wkb}
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The one kernel result memo: bounded in bytes under adversarial input,
  * never serving one kernel's result to another, and counted in
  * `LruCache.counters`. */
class KernelMemoSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def wkb(wkt: String): Array[Byte] = Wkb.write(Geo.fromWkt(wkt))
  private def utf(s: String) = UTF8String.fromString(s)

  /** The registered kernel `name`, evaluated directly on `args`. */
  private def kernel(name: String, args: Any*): Array[Any] => Any = {
    val types = args.map {
      case _: Array[Byte] => BinaryType
      case _: Double => DoubleType
      case _: Int => IntegerType
      case _: Boolean => BooleanType
      case _: UTF8String => StringType
    }
    FnRegistry(name).make(types.map(Literal(null, _)))
  }
  private def eval(name: String, args: Any*): Any = kernel(name, args: _*)(args.toArray)

  /** A value comparable by content: bytes, rows and arrays as Seqs. */
  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case r: GenericInternalRow => r.values.toSeq.map(norm)
    case a: GenericArrayData => a.array.toSeq.map(norm)
    case u: UTF8String => u.toString
    case other => other
  }

  /** The memo-cold result: every kernel memo dropped first. */
  private def cold(name: String, args: Any*): Any = { Graft.clearKernelMemos(); norm(eval(name, args: _*)) }

  private val lonLat = utf("EPSG:4326"); private val merc = utf("EPSG:3857")

  /** A distinct simple polygon per `i`: a star with `n` vertices. */
  private def star(i: Int, n: Int): Array[Byte] = {
    val pts = (0 until n).map { k =>
      val a = 2 * math.Pi * k / n
      val r = if (k % 2 == 0) 10.0 else 4.0 + (i % 97) * 0.05
      f"${i * 0.001 + r * math.cos(a)}%.6f ${r * math.sin(a)}%.6f"
    }
    wkb(s"POLYGON ((${(pts :+ pts.head).mkString(", ")}))")
  }

  test("a byte budget holds under adversarial distinct inputs, and results stay exact") {
    val budget = 256L * 1024
    val memo = new KernelMemo(budget)
    val blade = wkb("LINESTRING (-20 0.5, 20 0.5)")
    val buffer = kernel("st_buffer", star(0, 4), 0.5)
    val transform = kernel("st_transform", wkb("POINT (1 2)"), lonLat, merc)
    val relate = kernel("st_relate", blade, blade)
    val split = kernel("st_split", blade, blade)
    // (kernel, args, result) of every call made through `memo`
    val calls = Seq.newBuilder[(String, Array[Any], Any)]
    def check(name: String, args: Array[Any], v: Any): Unit = {
      assert(memo.bytes <= budget, s"$name: ${memo.bytes} accounted bytes > budget $budget")
      calls += ((name, args, norm(v)))
    }
    // distinct polygons up to the 16 KB entry limit through st_buffer
    for (i <- 1 to 300) {
      val g = star(i, 4 + (i * 37) % 1000)
      assert(g.length <= KernelMemo.EntryLimit)
      val args = Array[Any](g, 0.5)
      check("st_buffer", args, memo(KernelMemo.Op.Buffer, g, 0.5)(buffer(args).asInstanceOf[AnyRef]))
    }
    // distinct points through st_transform
    for (i <- 1 to 20000) {
      val p = wkb(s"POINT (${i * 0.001} ${45 - i * 0.0005})")
      val args = Array[Any](p, lonLat, merc)
      check("st_transform", args, memo(KernelMemo.Op.Transform, p, s = lonLat, t = merc)(
        transform(args).asInstanceOf[AnyRef]))
    }
    // distinct pairs through st_relate and st_split
    for (i <- 1 to 1000) {
      val g = star(i, 8 + i % 40)
      val b = wkb(s"LINESTRING (${-20 + i * 0.01} 0.5, 20 ${i * 0.002})")
      val args = Array[Any](g, b)
      check("st_relate", args, memo.pair(KernelMemo.Op.Relate, g, b)(relate(args).asInstanceOf[AnyRef]))
      check("st_split", args, memo.pair(KernelMemo.Op.Split, g, b)(split(args).asInstanceOf[AnyRef]))
    }
    val clears = memo.counters.toMap.apply("clears")
    assert(clears > 10, s"the stream never filled the budget ($clears clears)")
    // every result, served before or after a budget-triggered clear, is the
    // memo-cold result
    val all = calls.result()
    for ((name, args, v) <- all.take(50) ++ all.takeRight(50) ++ all.filter(_._1 == "st_split").take(20))
      assert(v == cold(name, args.toIndexedSeq: _*), s"$name differs from its memo-cold result")
    // the first inputs were dropped by a clear; asked again, they recompute
    // the same bytes
    for ((_, args, v) <- all.take(20))
      assert(norm(memo(KernelMemo.Op.Buffer, args(0), 0.5)(buffer(args).asInstanceOf[AnyRef])) == v)
    memo.clear()
    assert(memo.bytes == 0)
  }

  test("racing threads overshoot the budget by at most one entry each") {
    val budget = 64L * 1024
    val memo = new KernelMemo(budget)
    val threads = 4
    val transform = kernel("st_transform", wkb("POINT (1 2)"), lonLat, merc)
    val worst = new java.util.concurrent.atomic.AtomicLong
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val jobs = (0 until threads).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = for (i <- 1 to 5000) {
            val p = wkb(s"POINT (${t + i * 0.0001} ${i * 0.0002})")
            val args = Array[Any](p, lonLat, merc)
            memo(KernelMemo.Op.Transform, p, s = lonLat, t = merc)(
              transform(args).asInstanceOf[AnyRef])
            worst.accumulateAndGet(memo.bytes, (a, b) => math.max(a, b))
          }
        })
      }
      jobs.foreach(_.get())
    } finally pool.shutdown()
    // a transform entry is well under 1 KB: key, two CRS names, two points
    assert(worst.get <= budget + threads * 1024L, s"peak ${worst.get} bytes, budget $budget")
    assert(memo.counters.toMap.apply("clears") > 0)
  }

  test("no kernel is served another kernel's result for the same input and params") {
    val poly = wkb("POLYGON ((0 0, 10 0, 10 10, 5 3, 0 10, 0 0))")
    val line = wkb("LINESTRING (0 0, 4 4, 8 0, 12 4)")
    val points = wkb("MULTIPOINT ((0 0), (1 5), (4 1), (9 9), (6 2), (3 7))")
    val other = wkb("LINESTRING (-1 2, 13 2)")
    val (p, n) = (0.5, 8)
    // every memoized kernel (every arity that keys differently), each on the
    // input it accepts; `x` is the geometry, `other` the second operand
    val kernels: Seq[(String, Array[Byte], Array[Byte] => Seq[Any])] = Seq(
      ("st_isvalid", poly, x => Seq(x)),
      ("st_simplify", poly, x => Seq(x, p)),
      ("st_simplifypreservetopology", poly, x => Seq(x, p)),
      ("st_makevalid", poly, x => Seq(x)),
      ("st_convexhull", poly, x => Seq(x)),
      ("st_reduceprecision", poly, x => Seq(x, p)),
      ("st_buffer", poly, x => Seq(x, p)),
      ("st_buffer", line, x => Seq(x, p, n, utf("CAP_FLAT"), utf("JOIN_MITRE"), p)),
      ("st_buffer_area", poly, x => Seq(x, p)),
      ("st_buffer_area", line, x => Seq(x, p, n, utf("CAP_FLAT"), utf("JOIN_MITRE"), p)),
      ("st_transform", poly, x => Seq(x, lonLat, merc)),
      ("st_transform", poly, x => Seq(x, lonLat, merc, true)),
      ("st_segmentize", poly, x => Seq(x, p)),
      ("st_orientedenvelope", poly, x => Seq(x)),
      ("st_minimumrotatedrectangle", poly, x => Seq(x)),
      ("st_minimumboundingcircle", poly, x => Seq(x)),
      ("st_minimumboundingradius", poly, x => Seq(x)),
      ("st_delaunaytriangles", points, x => Seq(x)),
      ("st_voronoipolygons", points, x => Seq(x)),
      ("st_voronoilines", points, x => Seq(x)),
      ("st_concavehull", points, x => Seq(x, p)),
      ("st_subdivide", poly, x => Seq(x, n)),
      ("st_relate", poly, x => Seq(x, other)),
      ("st_maximuminscribedcircle", poly, x => Seq(x, p)),
      ("st_largestemptycircle", points, x => Seq(x, p)),
      ("st_node", line, x => Seq(x)),
      ("st_forcepolygoncw", poly, x => Seq(x)),
      ("st_forcepolygonccw", poly, x => Seq(x)),
      ("st_ispolygoncw", poly, x => Seq(x)),
      ("st_ispolygonccw", poly, x => Seq(x)),
      ("st_unaryunion", poly, x => Seq(x)),
      ("st_polygonize", line, x => Seq(x)),
      ("st_buildarea", line, x => Seq(x)),
      ("st_offsetcurve", line, x => Seq(x, p)),
      ("st_triangulatepolygon", poly, x => Seq(x)),
      ("st_minimumclearance", poly, x => Seq(x)),
      ("st_minimumclearanceline", poly, x => Seq(x)),
      ("st_geometricmedian", points, x => Seq(x, p)),
      ("st_clusterintersecting", points, x => Seq(x)),
      ("st_clusterwithin", points, x => Seq(x, p)),
      ("st_lineinterpolatepoints", line, x => Seq(x, p, true)),
      ("st_clusterkmeans", points, x => Seq(x, n)),
      ("st_clusterdbscan", points, x => Seq(x, p, n)),
      ("st_split", poly, x => Seq(x, other)),
      ("st_sharedpaths", line, x => Seq(x, other)),
      ("st_hausdorffdistance", line, x => Seq(x, other)),
      ("st_hausdorffdistance", line, x => Seq(x, other, p)),
      ("st_frechetdistance", line, x => Seq(x, other)),
      ("st_frechetdistance", line, x => Seq(x, other, p)))
    def run(name: String, args: Seq[Any]): Any = norm(eval(name, args: _*))
    for (((name, x, args), i) <- kernels.zipWithIndex) {
      val expected = cold(name, args(x): _*)
      assert(KernelMemo.shared.bytes > 0, s"$name${args(x).length}: result not memoized")
      // warm the memo with every other kernel on the same input bytes and
      // param values (a kernel that rejects this input caches nothing)
      Graft.clearKernelMemos()
      for (((other, _, otherArgs), j) <- kernels.zipWithIndex if j != i)
        try run(other, otherArgs(x)) catch { case _: Exception => }
      assert(run(name, args(x)) == expected, s"$name/${args(x).length} served another kernel's result")
    }
  }

  test("a repeated st_transform input counts hits; Graft.clearKernelMemos empties the memo") {
    Graft.clearKernelMemos()
    val before = LruCache.counters
    val rows = spark.sql(
      """SELECT st_transform(st_point(1.0d + 0.0d * id, 2.0d), 'EPSG:4326', 'EPSG:3857')
         FROM range(0, 200, 1, 1)""").collect()
    assert(rows.length == 200)
    val after = LruCache.counters
    def delta(k: String) = after(k) - before.getOrElse(k, 0L)
    assert(delta("kernelMemo.misses") == 1)
    assert(delta("kernelMemo.hits") == 199)
    assert(after("kernelMemo.bytes") > 0)
    assert(after.contains("kernelMemo.clears"))
    Graft.clearKernelMemos()
    assert(KernelMemo.shared.bytes == 0)
    assert(LruCache.counters("kernelMemo.bytes") == 0)
  }
}
