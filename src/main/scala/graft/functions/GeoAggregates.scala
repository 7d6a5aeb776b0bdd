package graft.functions

import graft.geom.{Geo, Wkb}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.operation.union.UnaryUnionOp
import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable.ArrayBuffer

/**
 * Spatial aggregates (reference: st_extent_agg.cpp:14-123 and
 * geos/functions/aggregate.cpp:34-215). All are TypedImperativeAggregates with
 * real merge, so Spark's partial aggregation (map-side combine) applies — at
 * 100 TB the shuffle carries one small state per partition per group, not rows.
 */
object GeoAggregates {

  /** ST_Extent_Agg / ST_Envelope_Agg — min/max bbox merge; finalize → bbox
   *  polygon. State is 4 doubles, the cheapest possible shuffle payload. */
  case class StExtentAgg(
      child: Expression,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Array[Double]] with UnaryLike[Expression] {

    override def createAggregationBuffer(): Array[Double] =
      Array(Double.PositiveInfinity, Double.PositiveInfinity, Double.NegativeInfinity, Double.NegativeInfinity)

    override def update(b: Array[Double], input: InternalRow): Array[Double] = {
      val v = child.eval(input)
      if (v != null) {
        // envelope straight off the WKB bytes (no JTS parse); fall back to
        // the reader for bytes the scanner doesn't recognize
        val bytes = v.asInstanceOf[Array[Byte]]
        val e =
          try Wkb.envelope(bytes)
          catch {
            case _: Exception =>
              val g = Geo.read(bytes)
              if (g.isEmpty) null
              else {
                val je = g.getEnvelopeInternal
                Array(je.getMinX, je.getMinY, je.getMaxX, je.getMaxY)
              }
          }
        if (e != null) {
          if (e(0) < b(0)) b(0) = e(0)
          if (e(1) < b(1)) b(1) = e(1)
          if (e(2) > b(2)) b(2) = e(2)
          if (e(3) > b(3)) b(3) = e(3)
        }
      }
      b
    }

    override def merge(b: Array[Double], o: Array[Double]): Array[Double] = {
      if (o(0) < b(0)) b(0) = o(0)
      if (o(1) < b(1)) b(1) = o(1)
      if (o(2) > b(2)) b(2) = o(2)
      if (o(3) > b(3)) b(3) = o(3)
      b
    }

    override def eval(b: Array[Double]): Any =
      if (b(0).isInfinite) null else Wkb.write(Geo.box(b(0), b(1), b(2), b(3)))

    override def serialize(b: Array[Double]): Array[Byte] = {
      val buf = ByteBuffer.allocate(32).order(ByteOrder.LITTLE_ENDIAN)
      b.foreach(buf.putDouble)
      buf.array()
    }
    override def deserialize(bytes: Array[Byte]): Array[Double] = {
      val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      Array.fill(4)(buf.getDouble())
    }

    override def dataType: DataType = BinaryType
    override def nullable: Boolean = true
    override def withNewMutableAggBufferOffset(o: Int): StExtentAgg = copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): StExtentAgg = copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(newChild: Expression): StExtentAgg = copy(child = newChild)
    override def prettyName: String = "st_extent_agg"
  }

  private def serializeGeoms(gs: Seq[Geometry]): Array[Byte] = {
    val blobs = gs.map(Wkb.write)
    val buf = ByteBuffer.allocate(4 + blobs.map(_.length + 4).sum).order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(blobs.length)
    blobs.foreach { b => buf.putInt(b.length); buf.put(b) }
    buf.array()
  }
  private def deserializeGeoms(bytes: Array[Byte]): ArrayBuffer[Geometry] = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val n = buf.getInt()
    val out = new ArrayBuffer[Geometry](n)
    var i = 0
    while (i < n) {
      val len = buf.getInt()
      val b = new Array[Byte](len)
      buf.get(b)
      out += Geo.read(b)
      i += 1
    }
    out
  }

  /** ST_Union_Agg — buffers geometries and cascades the union (JTS
   *  UnaryUnionOp) every `collapseAt` inputs, mirroring the reference's
   *  GEOSUnion cascade (geos/functions/aggregate.cpp:106-172). */
  case class StUnionAgg(
      child: Expression,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[ArrayBuffer[Geometry]] with UnaryLike[Expression] {

    private val collapseAt = 64

    override def createAggregationBuffer(): ArrayBuffer[Geometry] = new ArrayBuffer[Geometry]()

    private def collapse(b: ArrayBuffer[Geometry]): ArrayBuffer[Geometry] = {
      if (b.length > 1) {
        val u = UnaryUnionOp.union(scala.jdk.CollectionConverters.SeqHasAsJava(b.toSeq).asJava)
        b.clear()
        b += u
      }
      b
    }

    override def update(b: ArrayBuffer[Geometry], input: InternalRow): ArrayBuffer[Geometry] = {
      val v = child.eval(input)
      if (v != null) {
        b += Geo.read(v.asInstanceOf[Array[Byte]])
        if (b.length >= collapseAt) collapse(b)
      }
      b
    }

    override def merge(b: ArrayBuffer[Geometry], o: ArrayBuffer[Geometry]): ArrayBuffer[Geometry] = {
      b ++= o
      if (b.length >= collapseAt) collapse(b)
      b
    }

    override def eval(b: ArrayBuffer[Geometry]): Any =
      if (b.isEmpty) null else Wkb.write(collapse(b).head)

    override def serialize(b: ArrayBuffer[Geometry]): Array[Byte] = serializeGeoms(collapse(b).toSeq)
    override def deserialize(bytes: Array[Byte]): ArrayBuffer[Geometry] = deserializeGeoms(bytes)

    override def dataType: DataType = BinaryType
    override def nullable: Boolean = true
    override def withNewMutableAggBufferOffset(o: Int): StUnionAgg = copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): StUnionAgg = copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(newChild: Expression): StUnionAgg = copy(child = newChild)
    override def prettyName: String = "st_union_agg"
  }

  /** ST_Intersection_Agg — running pairwise intersection (associative, so
   *  partial merge is just another intersection). */
  case class StIntersectionAgg(
      child: Expression,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[ArrayBuffer[Geometry]] with UnaryLike[Expression] {

    override def createAggregationBuffer(): ArrayBuffer[Geometry] = new ArrayBuffer[Geometry](1)

    private def add(b: ArrayBuffer[Geometry], g: Geometry): ArrayBuffer[Geometry] = {
      if (b.isEmpty) b += g
      else b(0) = b(0).intersection(g)
      b
    }

    override def update(b: ArrayBuffer[Geometry], input: InternalRow): ArrayBuffer[Geometry] = {
      val v = child.eval(input)
      if (v != null) add(b, Geo.read(v.asInstanceOf[Array[Byte]]))
      b
    }
    override def merge(b: ArrayBuffer[Geometry], o: ArrayBuffer[Geometry]): ArrayBuffer[Geometry] = {
      if (o.nonEmpty) add(b, o(0))
      b
    }
    override def eval(b: ArrayBuffer[Geometry]): Any =
      if (b.isEmpty) null else Wkb.write(b(0))

    override def serialize(b: ArrayBuffer[Geometry]): Array[Byte] = serializeGeoms(b.toSeq)
    override def deserialize(bytes: Array[Byte]): ArrayBuffer[Geometry] = deserializeGeoms(bytes)

    override def dataType: DataType = BinaryType
    override def nullable: Boolean = true
    override def withNewMutableAggBufferOffset(o: Int): StIntersectionAgg = copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): StIntersectionAgg = copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(newChild: Expression): StIntersectionAgg = copy(child = newChild)
    override def prettyName: String = "st_intersection_agg"
  }

  /** ST_Collect_Agg — gathers inputs into a MULTI-x/GEOMETRYCOLLECTION (the
   *  aggregate companion of scalar ST_Collect; skips empties like st_collect.cpp). */
  case class StCollectAgg(
      child: Expression,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[ArrayBuffer[Geometry]] with UnaryLike[Expression] {

    override def createAggregationBuffer(): ArrayBuffer[Geometry] = new ArrayBuffer[Geometry]()

    override def update(b: ArrayBuffer[Geometry], input: InternalRow): ArrayBuffer[Geometry] = {
      val v = child.eval(input)
      if (v != null) {
        val g = Geo.read(v.asInstanceOf[Array[Byte]])
        if (!g.isEmpty) b += g
      }
      b
    }
    override def merge(b: ArrayBuffer[Geometry], o: ArrayBuffer[Geometry]): ArrayBuffer[Geometry] = { b ++= o; b }

    override def eval(b: ArrayBuffer[Geometry]): Any = {
      val f = Geo.factory
      if (b.isEmpty) Wkb.write(f.createGeometryCollection())
      else if (b.forall(_.isInstanceOf[org.locationtech.jts.geom.Point]))
        Wkb.write(f.createMultiPoint(b.map(_.asInstanceOf[org.locationtech.jts.geom.Point]).toArray))
      else if (b.forall(_.isInstanceOf[org.locationtech.jts.geom.LineString]))
        Wkb.write(f.createMultiLineString(b.map(_.asInstanceOf[org.locationtech.jts.geom.LineString]).toArray))
      else if (b.forall(_.isInstanceOf[org.locationtech.jts.geom.Polygon]))
        Wkb.write(f.createMultiPolygon(b.map(_.asInstanceOf[org.locationtech.jts.geom.Polygon]).toArray))
      else Wkb.write(f.createGeometryCollection(b.toArray))
    }

    override def serialize(b: ArrayBuffer[Geometry]): Array[Byte] = serializeGeoms(b.toSeq)
    override def deserialize(bytes: Array[Byte]): ArrayBuffer[Geometry] = deserializeGeoms(bytes)

    override def dataType: DataType = BinaryType
    override def nullable: Boolean = false
    override def withNewMutableAggBufferOffset(o: Int): StCollectAgg = copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): StCollectAgg = copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(newChild: Expression): StCollectAgg = copy(child = newChild)
    override def prettyName: String = "st_collect_agg"
  }

  /** Hash key over WKB bytes. Mutable so the update hot path can probe with
    * one reusable per-thread instance (the KernelMemo probe pattern) —
    * stored keys are always fresh instances over cloned arrays and are never
    * mutated after insertion. */
  final class WkbKey(w0: Array[Byte]) {
    var w: Array[Byte] = w0
    private var h: Int = java.util.Arrays.hashCode(w0)
    def reset(nw: Array[Byte]): WkbKey = { w = nw; h = java.util.Arrays.hashCode(nw); this }
    override def hashCode: Int = h
    override def equals(o: Any): Boolean = o match {
      case k: WkbKey => java.util.Arrays.equals(k.w, w)
      case _ => false
    }
  }

  /** ST_ClusterIntersecting_Agg / ST_ClusterWithin_Agg — the PostGIS
   *  aggregate forms of the collection-level st_clusterintersecting /
   *  st_clusterwithin (reference surface: GEOS cluster functions).
   *
   *  Scale shape: the buffer is a WKB→count multiset, NOT a geometry list —
   *  real corpora repeat geometries heavily, so update is one hash insert
   *  with zero parsing, partial merge sums counts, and the shuffle carries
   *  each distinct geometry once per partition per group. JTS parsing and
   *  the STRtree + union-find transitive closure (TopoFns.clusterIds) run
   *  once per DISTINCT member at finalize (duplicates are at distance 0
   *  from their twin, so they always share its cluster — the expanded
   *  output is identical to clustering the full multiset).
   *
   *  Returns ARRAY<BINARY>: one GeometryCollection WKB per cluster, empties
   *  skipped (st_collect semantics), members canonically sorted (envelope,
   *  then WKB bytes) so the result is deterministic regardless of partition
   *  arrival order; clusters ordered by min member minX, ids by that order.
   *  Scale bound = the group's DISTINCT member set — GROUP BY a tile/region
   *  key to keep groups bounded at 100 TB. */
  case class StClusterAgg(
      child: Expression,
      dist: Double,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[java.util.LinkedHashMap[WkbKey, Array[Long]]]
      with UnaryLike[Expression] {

    // count cells are single-element long arrays: the hot update path is one
    // hash probe + an in-place increment — no boxing, no closure, and the
    // key is cloned only on first insertion (1.2B update calls at the sf100
    // scale point made the allocating version the bottleneck)
    private type Buf = java.util.LinkedHashMap[WkbKey, Array[Long]]
    override def createAggregationBuffer(): Buf = new java.util.LinkedHashMap[WkbKey, Array[Long]]()

    override def update(b: Buf, input: InternalRow): Buf = {
      val v = child.eval(input)
      if (v != null) {
        val w0 = v.asInstanceOf[Array[Byte]]
        // probe with the reusable per-thread key (update runs on the task
        // thread): zero allocation on the hit path that dominates at scale
        val cell = b.get(StClusterAgg.probe.get().reset(w0))
        if (cell != null) cell(0) += 1L
        else b.put(new WkbKey(w0.clone()), Array(1L))
      }
      b
    }
    override def merge(b: Buf, o: Buf): Buf = {
      val it = o.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val cell = b.get(e.getKey)
        if (cell != null) cell(0) += e.getValue()(0)
        else b.put(e.getKey, e.getValue)
      }
      b
    }

    override def eval(b: Buf): Any = {
      val f = Geo.factory
      // parse each distinct once; skip empties (st_collect semantics)
      import scala.jdk.CollectionConverters._
      val parsed = b.entrySet().iterator().asScala
        .map(e => (Geo.read(e.getKey.w), e.getKey.w, e.getValue()(0)))
        .filter(!_._1.isEmpty).toArray
      // canonical distinct order → deterministic cluster ids + member order
      // (duplicates expand adjacent to their twin)
      val sorted = parsed.sortWith { case ((ga, wa, _), (gb, wb, _)) =>
        val ea = ga.getEnvelopeInternal; val eb = gb.getEnvelopeInternal
        if (ea.getMinX != eb.getMinX) ea.getMinX < eb.getMinX
        else if (ea.getMinY != eb.getMinY) ea.getMinY < eb.getMinY
        else if (ea.getMaxX != eb.getMaxX) ea.getMaxX < eb.getMaxX
        else if (ea.getMaxY != eb.getMaxY) ea.getMaxY < eb.getMaxY
        else java.util.Arrays.compareUnsigned(wa, wb) < 0
      }
      val ids = TopoFns.clusterIds(sorted.map(_._1), dist)
      val nClusters = if (ids.isEmpty) 0 else ids.max + 1
      // cluster order: by min member env minX, exactly TopoFns.cluster's sort
      val minX = Array.fill(nClusters)(Double.PositiveInfinity)
      sorted.indices.foreach { i =>
        val x = sorted(i)._1.getEnvelopeInternal.getMinX
        if (x < minX(ids(i))) minX(ids(i)) = x
      }
      val rank = new Array[Int](nClusters)
      (0 until nClusters).sortBy(minX(_)).zipWithIndex.foreach { case (c, r) => rank(c) = r }
      // fast finalize: plain-2D little-endian member WKBs concatenate
      // verbatim into the collection WKB (exactly Wkb.write's layout for a
      // 2D GEOMETRYCOLLECTION) — the expanded multiset is never
      // materialized as JTS objects. At 100× scale the expansion is
      // hundreds of millions of objects; the bytes are the output either
      // way, so build only them.
      def plain2d(wb: Array[Byte]): Boolean =
        wb.length > 5 && wb(0) == 1 && {
          val t = (wb(1) & 0xff) | ((wb(2) & 0xff) << 8) | ((wb(3) & 0xff) << 16) | ((wb(4) & 0xff) << 24)
          t >= 1 && t <= 7
        }
      if (sorted.forall(t => plain2d(t._2))) {
        val bytesOf = new Array[Long](nClusters)
        val countOf = new Array[Long](nClusters)
        sorted.indices.foreach { i =>
          val r = rank(ids(i))
          bytesOf(r) += sorted(i)._2.length.toLong * sorted(i)._3
          countOf(r) += sorted(i)._3
        }
        val bufs = Array.tabulate(nClusters) { c =>
          require(countOf(c) <= Int.MaxValue && bytesOf(c) + 9 <= Int.MaxValue,
            s"st_cluster*_agg: a cluster of ${countOf(c)} members / ${bytesOf(c)} bytes exceeds the 2 GiB geometry bound — GROUP BY a finer region key")
          val buf = ByteBuffer.allocate(9 + bytesOf(c).toInt).order(ByteOrder.LITTLE_ENDIAN)
          buf.put(1.toByte).putInt(7).putInt(countOf(c).toInt)
          buf
        }
        sorted.indices.foreach { i =>
          val buf = bufs(rank(ids(i)))
          var k = sorted(i)._3
          while (k > 0) { buf.put(sorted(i)._2); k -= 1 }
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          bufs.map(_.array(): AnyRef))
      } else {
        // Z/M or foreign-endian members: JTS construction (re-canonicalizes)
        val groups = Array.fill(nClusters)(new ArrayBuffer[Geometry]())
        sorted.indices.foreach { i =>
          val g = groups(rank(ids(i)))
          var c = sorted(i)._3
          while (c > 0) { g += sorted(i)._1; c -= 1 }
        }
        val out = new Array[AnyRef](nClusters)
        var i = 0
        while (i < nClusters) {
          out(i) = Wkb.write(f.createGeometryCollection(groups(i).toArray))
          i += 1
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
      }
    }

    override def serialize(b: Buf): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.writeInt(b.size)
      val it = b.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        out.writeInt(e.getKey.w.length); out.write(e.getKey.w); out.writeLong(e.getValue()(0))
      }
      out.flush(); bos.toByteArray
    }
    override def deserialize(bytes: Array[Byte]): Buf = {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
      val n = in.readInt()
      val b = new java.util.LinkedHashMap[WkbKey, Array[Long]]()
      var i = 0
      while (i < n) {
        val w = new Array[Byte](in.readInt()); in.readFully(w)
        b.put(new WkbKey(w), Array(in.readLong()))
        i += 1
      }
      b
    }

    override def dataType: DataType = ArrayType(BinaryType)
    override def nullable: Boolean = false
    override def withNewMutableAggBufferOffset(o: Int): StClusterAgg = copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): StClusterAgg = copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(newChild: Expression): StClusterAgg = copy(child = newChild)
    override def prettyName: String =
      if (dist == 0.0) "st_clusterintersecting_agg" else "st_clusterwithin_agg"
  }

  object StClusterAgg {
    private[functions] val probe = new ThreadLocal[WkbKey] {
      override def initialValue(): WkbKey = new WkbKey(Array.emptyByteArray)
    }
  }

  /** ST_AsMVT analogue: aggregate rows already in tile-local coordinates
   *  (see st_asmvtgeom) into one Mapbox Vector Tile layer's protobuf bytes —
   *  `st_asmvt_agg(geom [, props MAP<STRING,STRING> [, 'layer' [, extent]]])`
   *  GROUP BY the tile address. Scale shape: one tile's features per group
   *  (bounded by construction, like the pyramid writer's per-tile groups);
   *  partial aggregation merges feature lists, the protobuf encode happens
   *  once at finalize. */
  case class StAsMvtAgg(
      geom: Expression,
      props: Expression,
      layerName: String,
      extent: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[ArrayBuffer[(Array[Byte], Seq[(String, String)])]] {

    override def children: Seq[Expression] = Seq(geom, props)
    override def createAggregationBuffer(): ArrayBuffer[(Array[Byte], Seq[(String, String)])] =
      new ArrayBuffer[(Array[Byte], Seq[(String, String)])]()

    override def update(
        b: ArrayBuffer[(Array[Byte], Seq[(String, String)])],
        input: InternalRow): ArrayBuffer[(Array[Byte], Seq[(String, String)])] = {
      val v = geom.eval(input)
      if (v != null) {
        val kv = ArrayBuffer.empty[(String, String)]
        props.eval(input) match {
          case m: org.apache.spark.sql.catalyst.util.MapData =>
            m.foreach(StringType, StringType, { (k, pv) =>
              if (k != null && pv != null) kv += ((k.toString, pv.toString))
            })
          case _ =>
        }
        b += ((v.asInstanceOf[Array[Byte]].clone(), kv.toSeq))
      }
      b
    }
    override def merge(
        b: ArrayBuffer[(Array[Byte], Seq[(String, String)])],
        o: ArrayBuffer[(Array[Byte], Seq[(String, String)])]): ArrayBuffer[(Array[Byte], Seq[(String, String)])] = {
      b ++= o; b
    }

    override def eval(b: ArrayBuffer[(Array[Byte], Seq[(String, String)])]): Any = {
      val feats = b.iterator.zipWithIndex.map { case ((wkb, kv), i) =>
        (i + 1L, Geo.read(wkb), kv)
      }.toSeq
      graft.io.Mvt.writeTile(layerName, extent, feats)
    }

    override def serialize(b: ArrayBuffer[(Array[Byte], Seq[(String, String)])]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.writeInt(b.length)
      b.foreach { case (wkb, kv) =>
        out.writeInt(wkb.length); out.write(wkb)
        out.writeInt(kv.length)
        kv.foreach { case (k, v) => out.writeUTF(k); out.writeUTF(v) }
      }
      out.flush(); bos.toByteArray
    }
    override def deserialize(bytes: Array[Byte]): ArrayBuffer[(Array[Byte], Seq[(String, String)])] = {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
      val n = in.readInt()
      val b = new ArrayBuffer[(Array[Byte], Seq[(String, String)])](n)
      var i = 0
      while (i < n) {
        val wkb = new Array[Byte](in.readInt()); in.readFully(wkb)
        val np = in.readInt()
        val kv = (0 until np).map(_ => (in.readUTF(), in.readUTF()))
        b += ((wkb, kv))
        i += 1
      }
      b
    }

    override def dataType: DataType = BinaryType
    override def nullable: Boolean = false
    override def withNewMutableAggBufferOffset(o: Int): StAsMvtAgg = copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): StAsMvtAgg = copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): StAsMvtAgg =
      copy(geom = newChildren(0), props = newChildren(1))
    override def prettyName: String = "st_asmvt_agg"
  }

  // ------------------------------------------------ fused measure aggregates
  // MeasureFusionRule rewrite targets: st_area(st_union_agg(g)) /
  // st_area(st_intersection_agg(g)) never materialize the overlay geometry.

  /** Area of the union of N rects: Bentley's sweep — x-sorted open/close
   *  events over a segment tree on compressed y-intervals, O(n log n). The
   *  previous per-slab rescan was O(slabs × rects): at the dedupCap of 2^16
   *  distinct rects that is ~10^10 inner iterations inside ONE aggregate
   *  eval — a task stall the JTS degrade path never gets to intercept. */
  def rectUnionArea(rects: Iterable[Array[Double]]): Double = {
    val rs = rects.iterator.filter(r => r(2) > r(0) && r(3) > r(1)).toArray
    if (rs.isEmpty) return 0.0
    // compressed distinct y coordinates
    val yAll = new Array[Double](rs.length * 2)
    var i = 0
    while (i < rs.length) { yAll(2 * i) = rs(i)(1); yAll(2 * i + 1) = rs(i)(3); i += 1 }
    java.util.Arrays.sort(yAll)
    val ys = new Array[Double](yAll.length)
    var ny = 0
    i = 0
    while (i < yAll.length) {
      if (ny == 0 || yAll(i) != ys(ny - 1)) { ys(ny) = yAll(i); ny += 1 }
      i += 1
    }
    val m = ny - 1 // elementary y-intervals
    if (m <= 0) return 0.0
    // segment tree: count = full-cover multiplicity, covered = covered y-length
    val count = new Array[Int](4 * m)
    val covered = new Array[Double](4 * m)
    def update(node: Int, lo: Int, hi: Int, l: Int, r: Int, delta: Int): Unit = {
      if (r <= lo || hi <= l) return
      if (l <= lo && hi <= r) count(node) += delta
      else {
        val mid = (lo + hi) >>> 1
        update(2 * node + 1, lo, mid, l, r, delta)
        update(2 * node + 2, mid, hi, l, r, delta)
      }
      covered(node) =
        if (count(node) > 0) ys(hi) - ys(lo)
        else if (hi - lo == 1) 0.0
        else covered(2 * node + 1) + covered(2 * node + 2)
    }
    def yIdx(v: Double): Int = {
      var lo = 0; var hi = ny - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ys(mid) < v) lo = mid + 1 else hi = mid
      }
      lo
    }
    // events: (x, +1/-1, y0Idx, y1Idx), x-sorted with opens before closes at
    // equal x (order is irrelevant to the integral — zero-width span)
    val n2 = rs.length * 2
    val evIdx = Array.tabulate(n2)(identity)
    val evX = new Array[Double](n2)
    val evDelta = new Array[Int](n2)
    val evY0 = new Array[Int](n2)
    val evY1 = new Array[Int](n2)
    i = 0
    while (i < rs.length) {
      val y0 = yIdx(rs(i)(1)); val y1 = yIdx(rs(i)(3))
      evX(2 * i) = rs(i)(0); evDelta(2 * i) = 1; evY0(2 * i) = y0; evY1(2 * i) = y1
      evX(2 * i + 1) = rs(i)(2); evDelta(2 * i + 1) = -1; evY0(2 * i + 1) = y0; evY1(2 * i + 1) = y1
      i += 1
    }
    val order = evIdx.sortBy(evX)
    var area = 0.0
    var prevX = evX(order(0))
    i = 0
    while (i < n2) {
      val e = order(i)
      val x = evX(e)
      if (x > prevX) { area += covered(0) * (x - prevX); prevX = x }
      update(0, 0, m, evY0(e), evY1(e), evDelta(e))
      i += 1
    }
    area
  }

  /** Buffer: deduped rect set while every input is an axis-aligned rectangle
   *  (corpora repeat geometries, so distinct count stays small); any
   *  non-rect input, or blowing the cap, degrades to the exact JTS path. */
  final class UnionAreaBuf {
    var rects: scala.collection.mutable.LinkedHashSet[(Double, Double, Double, Double)] =
      scala.collection.mutable.LinkedHashSet.empty
    var geoms: ArrayBuffer[Geometry] = _ // non-null ⇒ fallback mode
  }

  case class StUnionAreaAgg(
      child: Expression,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[UnionAreaBuf] with UnaryLike[Expression] {

    private val dedupCap = 1 << 16
    private val collapseAt = 64

    override def createAggregationBuffer(): UnionAreaBuf = new UnionAreaBuf

    private def rectToGeom(r: (Double, Double, Double, Double)): Geometry = {
      val f = Geo.factory
      import org.locationtech.jts.geom.Coordinate
      f.createPolygon(Array(new Coordinate(r._1, r._2), new Coordinate(r._3, r._2),
        new Coordinate(r._3, r._4), new Coordinate(r._1, r._4), new Coordinate(r._1, r._2)))
    }

    private def degrade(b: UnionAreaBuf): Unit = if (b.geoms == null) {
      b.geoms = ArrayBuffer.empty
      b.rects.foreach(r => b.geoms += rectToGeom(r))
      b.rects = null
      collapse(b)
    }

    private def collapse(b: UnionAreaBuf): Unit =
      if (b.geoms.length > 1) {
        val u = UnaryUnionOp.union(scala.jdk.CollectionConverters.SeqHasAsJava(b.geoms.toSeq).asJava)
        b.geoms.clear(); b.geoms += u
      }

    private def addGeom(b: UnionAreaBuf, g: Geometry): Unit = {
      degrade(b)
      b.geoms += g
      if (b.geoms.length >= collapseAt) collapse(b)
    }

    override def update(b: UnionAreaBuf, input: InternalRow): UnionAreaBuf = {
      val v = child.eval(input)
      if (v != null) {
        val g = Geo.read(v.asInstanceOf[Array[Byte]])
        if (b.geoms == null && g.isRectangle) {
          val e = g.getEnvelopeInternal
          b.rects += ((e.getMinX, e.getMinY, e.getMaxX, e.getMaxY))
          if (b.rects.size > dedupCap) degrade(b)
        } else addGeom(b, g)
      }
      b
    }

    override def merge(b: UnionAreaBuf, o: UnionAreaBuf): UnionAreaBuf = {
      if (b.geoms == null && o.geoms == null) {
        b.rects ++= o.rects
        if (b.rects.size > dedupCap) degrade(b)
      } else {
        degrade(b)
        if (o.geoms == null) o.rects.foreach(r => addGeom(b, rectToGeom(r)))
        else o.geoms.foreach(g => addGeom(b, g))
      }
      b
    }

    override def eval(b: UnionAreaBuf): Any =
      if (b.geoms != null) {
        if (b.geoms.isEmpty) null else { collapse(b); b.geoms.head.getArea }
      } else if (b.rects.isEmpty) null
      else rectUnionArea(b.rects.iterator.map(r => Array(r._1, r._2, r._3, r._4)).to(Iterable))

    override def serialize(b: UnionAreaBuf): Array[Byte] =
      if (b.geoms == null) {
        val bb = ByteBuffer.allocate(5 + b.rects.size * 32).order(ByteOrder.LITTLE_ENDIAN)
        bb.put(0: Byte).putInt(b.rects.size)
        b.rects.foreach { r => bb.putDouble(r._1).putDouble(r._2).putDouble(r._3).putDouble(r._4) }
        bb.array()
      } else {
        collapse(b)
        val gs = serializeGeoms(b.geoms.toSeq)
        val bb = ByteBuffer.allocate(1 + gs.length)
        bb.put(1: Byte).put(gs)
        bb.array()
      }

    override def deserialize(bytes: Array[Byte]): UnionAreaBuf = {
      val b = new UnionAreaBuf
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      if (bb.get() == 0) {
        val n = bb.getInt
        var i = 0
        while (i < n) {
          b.rects += ((bb.getDouble, bb.getDouble, bb.getDouble, bb.getDouble)); i += 1
        }
      } else {
        b.rects = null
        b.geoms = deserializeGeoms(java.util.Arrays.copyOfRange(bytes, 1, bytes.length))
      }
      b
    }

    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def withNewMutableAggBufferOffset(o: Int): StUnionAreaAgg = copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): StUnionAreaAgg = copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(newChild: Expression): StUnionAreaAgg = copy(child = newChild)
    override def prettyName: String = "st_union_area_agg"
  }

  /** Buffer: running rect intersection (8 doubles of state!) while every
   *  input is a rect; first non-rect degrades to running JTS intersection. */
  final class IntAreaBuf {
    var seen = false
    var rect: Array[Double] = _ // non-null ⇒ rect mode (after seen)
    var geom: Geometry = _
  }

  case class StIntersectionAreaAgg(
      child: Expression,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[IntAreaBuf] with UnaryLike[Expression] {

    override def createAggregationBuffer(): IntAreaBuf = new IntAreaBuf

    private def rectGeom(r: Array[Double]): Geometry = {
      import org.locationtech.jts.geom.Coordinate
      if (r(0) > r(2) || r(1) > r(3)) Geo.factory.createPolygon()
      else Geo.factory.createPolygon(Array(new Coordinate(r(0), r(1)), new Coordinate(r(2), r(1)),
        new Coordinate(r(2), r(3)), new Coordinate(r(0), r(3)), new Coordinate(r(0), r(1))))
    }

    private def toGeom(b: IntAreaBuf): Geometry =
      if (b.geom != null) b.geom else rectGeom(b.rect)

    private def addRect(b: IntAreaBuf, e: org.locationtech.jts.geom.Envelope): Unit =
      if (!b.seen) { b.seen = true; b.rect = Array(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY) }
      else if (b.rect != null) {
        b.rect(0) = math.max(b.rect(0), e.getMinX); b.rect(1) = math.max(b.rect(1), e.getMinY)
        b.rect(2) = math.min(b.rect(2), e.getMaxX); b.rect(3) = math.min(b.rect(3), e.getMaxY)
      } else b.geom = b.geom.intersection(
        rectGeom(Array(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)))

    private def addGeom(b: IntAreaBuf, g: Geometry): Unit =
      if (!b.seen) { b.seen = true; b.geom = g }
      else { b.geom = toGeom(b).intersection(g); b.rect = null }

    override def update(b: IntAreaBuf, input: InternalRow): IntAreaBuf = {
      val v = child.eval(input)
      if (v != null) {
        val g = Geo.read(v.asInstanceOf[Array[Byte]])
        if (g.isRectangle && b.geom == null) addRect(b, g.getEnvelopeInternal)
        else addGeom(b, g)
      }
      b
    }

    override def merge(b: IntAreaBuf, o: IntAreaBuf): IntAreaBuf = {
      if (o.seen) {
        if (o.rect != null && b.geom == null) {
          val e = new org.locationtech.jts.geom.Envelope(o.rect(0), o.rect(2), o.rect(1), o.rect(3))
          if (o.rect(0) <= o.rect(2) && o.rect(1) <= o.rect(3)) addRect(b, e)
          else addGeom(b, Geo.factory.createPolygon()) // empty running rect
        } else addGeom(b, toGeom(o))
      }
      b
    }

    override def eval(b: IntAreaBuf): Any =
      if (!b.seen) null
      else if (b.rect != null)
        math.max(0.0, b.rect(2) - b.rect(0)) * math.max(0.0, b.rect(3) - b.rect(1))
      else b.geom.getArea

    override def serialize(b: IntAreaBuf): Array[Byte] =
      if (!b.seen) Array(2: Byte)
      else if (b.rect != null) {
        val bb = ByteBuffer.allocate(33).order(ByteOrder.LITTLE_ENDIAN)
        bb.put(0: Byte)
        b.rect.foreach(bb.putDouble)
        bb.array()
      } else {
        val gs = Wkb.write(b.geom)
        val bb = ByteBuffer.allocate(1 + gs.length)
        bb.put(1: Byte).put(gs)
        bb.array()
      }

    override def deserialize(bytes: Array[Byte]): IntAreaBuf = {
      val b = new IntAreaBuf
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      bb.get() match {
        case 0 => b.seen = true; b.rect = Array(bb.getDouble, bb.getDouble, bb.getDouble, bb.getDouble)
        case 1 => b.seen = true
          b.geom = Geo.read(java.util.Arrays.copyOfRange(bytes, 1, bytes.length))
        case _ => ()
      }
      b
    }

    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def withNewMutableAggBufferOffset(o: Int): StIntersectionAreaAgg = copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): StIntersectionAreaAgg = copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(newChild: Expression): StIntersectionAreaAgg = copy(child = newChild)
    override def prettyName: String = "st_intersection_area_agg"
  }
}
