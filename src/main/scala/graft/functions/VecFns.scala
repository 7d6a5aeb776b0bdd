package graft.functions

import org.apache.spark.sql.{Column, functions => F}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.util.hashing.MurmurHash3

/**
 * Embedding-vector primitives (similarity search) and the multimodal column
 * stubs. Inputs are ARRAY<DOUBLE> — Spark's ImplicitTypeCasts upcast the
 * testdata's ARRAY<FLOAT> automatically. Dot products accumulate sequentially
 * in index order so results are bit-reproducible.
 */
object VecFns {

  private val AD = ArrayType(DoubleType)
  private val I = IntegerType
  private val D = DoubleType
  private val L = LongType

  private def arr(a: Any): ArrayData = a.asInstanceOf[ArrayData]
  private def int(a: Any): Int = a.asInstanceOf[Int]

  private def fn(name: String, out: DataType, in: Seq[DataType]*)(eval: Array[Any] => Any): Unit =
    FnRegistry.add(FnSpec(name, in.map(s => s.length -> s).toMap, out, _ => eval))

  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }
  def norm(a: ArrayData): Double = {
    var s = 0.0
    var i = 0
    while (i < a.numElements()) { val v = a.getDouble(i); s += v * v; i += 1 }
    math.sqrt(s)
  }
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val na = norm(a); val nb = norm(b)
    if (na == 0.0 || nb == 0.0) 0.0 else dot(a, b) / (na * nb)
  }
  def l2(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { val d = a.getDouble(i) - b.getDouble(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** The nearest-centroid kernel behind `ivf_probe` (so KMeans, SemDeDup,
   *  IVF) and st_clusterkmeans: k centroids in one flat array, ranked by L2
   *  (squared distance over the shared prefix, from 0.0 in index order;
   *  smallest first) or cosine (bit for bit `vec_cosine`; largest first),
   *  compared as Spark orders doubles (NaN above every number, -0.0 equal to
   *  0.0). Ties go to the smaller index; a null centroid never ranks. */
  final class Centroids(cs: Array[Array[Double]]) extends Serializable {
    private val ids = cs.indices.filter(cs(_) != null).toArray // the centroids that rank
    private val vals = ids.flatMap(cs(_))
    private val offs = ids.scanLeft(0)(_ + cs(_).length) // centroid i is vals(offs(i) until offs(i + 1))
    private val norms = ids.map(i => norm(cs(i)))
    // KMeans, IVF and SemDeDup give every centroid one length: read at that stride
    private val dim = if (ids.nonEmpty && ids.forall(cs(_).length == offs(1))) offs(1) else -1

    /** `vec_norm`'s value (a square added to 0.0 is itself) */
    private def norm(v: Array[Double]): Double = math.sqrt(v.map(x => x * x).sum)

    /** Indices of the best `n` centroids for `q`, best first: one pass keeps
     *  the n best so far in a sorted buffer, and a later centroid gets ahead
     *  only by a strictly better score, so ties go to the smaller index. */
    def top(q: Array[Double], n: Int, cosine: Boolean): Array[Int] = {
      // Spark's double order without its call: a NaN ties a NaN and beats every number
      def ahead(a: Double, b: Double) =
        if (cosine) a > b || (a != a && b == b) else a < b || (b != b && a == a)
      val cap = math.max(0, math.min(n, ids.length))
      val bs = new Array[Double](cap)
      val bi = new Array[Int](cap)
      val qNorm = if (cosine) norm(q) else 0.0
      val q0 = if (q.length > 1) q(0) else 0.0 // read in the 2-D case only
      val q1 = if (q.length > 1) q(1) else 0.0
      var size = 0
      var c = 0
      while (c < ids.length && cap > 0) {
        val o = if (dim >= 0) c * dim else offs(c)
        val m = math.min(if (dim >= 0) dim else offs(c + 1) - o, q.length)
        var s = 0.0
        var j = 0
        if (cosine) {
          while (j < m) { s += q(j) * vals(o + j); j += 1 }
          s = if (qNorm == 0.0 || norms(c) == 0.0) 0.0 else s / (qNorm * norms(c))
        } else if (m == 2) {
          // KMeans' 2-D case: the JIT leaves a loop this short slow
          val d0 = q0 - vals(o); val d1 = q1 - vals(o + 1)
          s = d0 * d0 + d1 * d1
        } else
          while (j < m) { val d = q(j) - vals(o + j); s += d * d; j += 1 }
        if (size < cap || ahead(s, bs(cap - 1))) {
          if (size < cap) size += 1
          var i = size - 1
          while (i > 0 && ahead(s, bs(i - 1))) { bs(i) = bs(i - 1); bi(i) = bi(i - 1); i -= 1 }
          bs(i) = s; bi(i) = ids(c)
        }
        c += 1
      }
      java.util.Arrays.copyOf(bi, size)
    }
  }

  /** `cs` as one plan literal, which every task binary carries (about 15 bytes per value) */
  def centroidsLit(cs: Seq[Array[Double]]): Column = F.typedLit(cs.map(_.toSeq))

  /** `ivf_probe`: the indices of `v`'s best `n` centroids in `cs` by `metric`, best first */
  def probe(v: Column, cs: Column, n: Int, metric: String = "l2"): Column =
    F.call_function("ivf_probe", v, cs, F.lit(n), F.lit(metric))

  private def zipWith(a: ArrayData, b: ArrayData, f: (Double, Double) => Double): ArrayData = {
    val n = math.min(a.numElements(), b.numElements())
    val out = new Array[Any](n)
    var i = 0
    while (i < n) { out(i) = f(a.getDouble(i), b.getDouble(i)); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Deterministic ±1 pseudo-random hyperplane component for (seed, plane, dim). */
  private def sign(seed: Int, plane: Int, dim: Int): Double = {
    val h = MurmurHash3.productHash((seed, plane, dim))
    if ((h & 1) == 0) 1.0 else -1.0
  }

  /** Random-hyperplane LSH bucket: nbits sign bits of projections onto seeded
   *  ±1 hyperplanes. Cosine-similar vectors collide with high probability —
   *  bucket-join on this for candidate generation, then rerank exactly. */
  def rhpBucket(v: ArrayData, nbits: Int, seed: Int): Long = {
    var bucket = 0L
    var p = 0
    while (p < nbits) {
      var s = 0.0
      var i = 0
      while (i < v.numElements()) { s += v.getDouble(i) * sign(seed, p, i); i += 1 }
      if (s >= 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** Symmetric int8 scalar quantization: scale = max|x| / 127, code =
   *  floor(x/scale + 0.5). The 32x-smaller codes are what a 100 TB ANN scan
   *  reads; exact re-rank on the float column only for the final candidates.
   *  floor(x/s + 0.5) is used (not rint) because it is expressible verbatim
   *  in plain SQL, so oracles can replay the arithmetic bit-for-bit. */
  def quantI8(v: ArrayData): Array[Any] = {
    val n = v.numElements()
    var mx = 0.0
    var i = 0
    while (i < n) { val x = math.abs(v.getDouble(i)); if (x > mx) mx = x; i += 1 }
    val s = mx / 127.0
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      out(i) = if (s == 0.0) 0 else math.floor(v.getDouble(i) / s + 0.5).toInt
      i += 1
    }
    out
  }

  def load(): Unit = {
    fn("vec_i8_quant", ArrayType(I), Seq(AD))(a => new GenericArrayData(quantI8(arr(a(0)))))
    fn("vec_i8_dequant", AD, Seq(ArrayType(I), D)) { a =>
      val q = arr(a(0)); val s = a(1).asInstanceOf[Double]
      val out = new Array[Any](q.numElements())
      var i = 0
      while (i < out.length) { out(i) = q.getInt(i) * s; i += 1 }
      new GenericArrayData(out)
    }
    fn("vec_dot", D, Seq(AD, AD))(a => dot(arr(a(0)), arr(a(1))))
    fn("vec_norm", D, Seq(AD))(a => norm(arr(a(0))))
    fn("vec_cosine", D, Seq(AD, AD))(a => cosine(arr(a(0)), arr(a(1))))
    fn("vec_l2", D, Seq(AD, AD))(a => l2(arr(a(0)), arr(a(1))))
    fn("rhp_lsh_bucket", L, Seq(AD, I, I))(a => rhpBucket(arr(a(0)), int(a(1)), int(a(2))))
    // embedding arithmetic: the everyday companions of the similarity ops
    fn("vec_normalize", AD, Seq(AD)) { a =>
      val v = arr(a(0))
      val n = norm(v)
      val out = new Array[Any](v.numElements())
      var i = 0
      while (i < out.length) { out(i) = if (n == 0.0) 0.0 else v.getDouble(i) / n; i += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
    fn("vec_add", AD, Seq(AD, AD))(a => zipWith(arr(a(0)), arr(a(1)), _ + _))
    fn("vec_sub", AD, Seq(AD, AD))(a => zipWith(arr(a(0)), arr(a(1)), _ - _))
    fn("vec_scale", AD, Seq(AD, D)) { a =>
      val v = arr(a(0)); val s = a(1).asInstanceOf[Double]
      val out = new Array[Any](v.numElements())
      var i = 0
      while (i < out.length) { out(i) = v.getDouble(i) * s; i += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
    // the nprobe best centroids by 'l2' (the default) or 'cosine'; foldable
    // centroids decode once per expression instance
    FnRegistry.add(FnSpec("ivf_probe",
      Map(3 -> Seq(AD, ArrayType(AD), I), 4 -> Seq(AD, ArrayType(AD), I, StringType)),
      ArrayType(I), { children =>
        val fixed = children(1).foldable
        val metrics = Map("l2" -> false, "cosine" -> true)
        var cs: Centroids = null
        a => {
          if (cs == null || !fixed) cs = new Centroids(arr(a(1)).toArray[ArrayData](AD)
            .map(c => if (c == null) null else c.toDoubleArray()))
          val cosine = a.length == 4 && metrics.getOrElse(a(3).toString,
            throw new IllegalArgumentException(s"ivf_probe: metric must be 'l2' or 'cosine', got '${a(3)}'"))
          new GenericArrayData(cs.top(arr(a(0)).toDoubleArray(), int(a(2)), cosine).map(i => i: Any))
        }
      }))

    // ---- product quantization (Jegou/Douze/Schmid, TPAMI 2011): the
    // billion-scale ANN memory path. Codebooks are ARRAY<ARRAY<ARRAY<DOUBLE>>>
    // (subspace m × codeword k × dim/M); a 64-dim float vector encodes to
    // M small ints (8 bytes at M=8 — 32x smaller than the float[64]). All
    // loops accumulate in index order for bit-reproducibility.
    val AAD = ArrayType(AD)
    val AAAD = ArrayType(AAD)
    // squared L2 between v's m-th subvector and a codeword
    def subDist(v: ArrayData, base: Int, c: ArrayData): Double = {
      var s = 0.0
      var j = 0
      while (j < c.numElements()) {
        val d = v.getDouble(base + j) - c.getDouble(j)
        s += d * d
        j += 1
      }
      s
    }
    fn("pq_encode", ArrayType(I), Seq(AD, AAAD)) { a =>
      val v = arr(a(0)); val cbs = arr(a(1))
      val m = cbs.numElements()
      val sub = if (m == 0) 0 else v.numElements() / m
      val out = new Array[Any](m)
      var mi = 0
      while (mi < m) {
        val cb = cbs.getArray(mi)
        var best = 0
        var bestD = Double.MaxValue
        var ki = 0
        while (ki < cb.numElements()) {
          val d = subDist(v, mi * sub, cb.getArray(ki))
          if (d < bestD) { bestD = d; best = ki } // strict < : ties keep lowest k
          ki += 1
        }
        out(mi) = best
        mi += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
    fn("pq_decode", AD, Seq(ArrayType(I), AAAD)) { a =>
      val codes = arr(a(0)); val cbs = arr(a(1))
      val m = cbs.numElements()
      val parts = Array.tabulate(m)(mi => cbs.getArray(mi).getArray(codes.getInt(mi)))
      val sub = if (m == 0) 0 else parts(0).numElements()
      val out = new Array[Any](m * sub)
      var mi = 0
      while (mi < m) {
        var j = 0
        while (j < sub) { out(mi * sub + j) = parts(mi).getDouble(j); j += 1 }
        mi += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
    // query-side lookup table: lut[m][k] = ||q_m - codebook[m][k]||^2
    fn("pq_lut", AAD, Seq(AD, AAAD)) { a =>
      val v = arr(a(0)); val cbs = arr(a(1))
      val m = cbs.numElements()
      val sub = if (m == 0) 0 else v.numElements() / m
      val out = new Array[Any](m)
      var mi = 0
      while (mi < m) {
        val cb = cbs.getArray(mi)
        val row = new Array[Any](cb.numElements())
        var ki = 0
        while (ki < cb.numElements()) { row(ki) = subDist(v, mi * sub, cb.getArray(ki)); ki += 1 }
        out(mi) = new org.apache.spark.sql.catalyst.util.GenericArrayData(row)
        mi += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
    // asymmetric distance computation: approximate ||q - n||^2 from n's codes
    // and q's lut — by construction EXACTLY ||q - pq_decode(codes)||^2
    fn("pq_adc", D, Seq(ArrayType(I), AAD)) { a =>
      val codes = arr(a(0)); val lut = arr(a(1))
      var s = 0.0
      var mi = 0
      while (mi < codes.numElements()) { s += lut.getArray(mi).getDouble(codes.getInt(mi)); mi += 1 }
      s
    }

    // Multimodal column stubs: the container has no image/audio codecs, so the
    // decode step is a DETERMINISTIC FAKE computed from the raw bytes; the
    // Spark-side plumbing (binary column in, typed metadata struct out,
    // codegen-safe expression) is real. Swap `mmDecodeStub` for a real decoder
    // when codecs are available.
    fn("mm_decode_stub",
      StructType(Seq(StructField("width", I), StructField("height", I),
        StructField("channels", I), StructField("format", StringType), StructField("nbytes", LongType))),
      Seq(BinaryType)) { a =>
      val b = a(0).asInstanceOf[Array[Byte]]
      val n = b.length
      new GenericInternalRow(Array[Any](
        (n % 640) + 1, ((n * 7) % 480) + 1, 3, UTF8String.fromString("fake/rgb8"), n.toLong))
    }

    // mm_decode: REAL pure-JVM container-header parse (PNG IHDR / JPEG SOF /
    // GIF LSD / BMP header — public formats, no codec); unrecognized blobs
    // fall back to the deterministic stub so synthetic pipelines keep working
    fn("mm_decode",
      StructType(Seq(StructField("width", I), StructField("height", I),
        StructField("channels", I), StructField("format", StringType), StructField("nbytes", LongType))),
      Seq(BinaryType)) { a =>
      val m = graft.mm.MultiModal.decode(a(0).asInstanceOf[Array[Byte]])
      new GenericInternalRow(Array[Any](
        m.width, m.height, m.channels, UTF8String.fromString(m.format), m.nbytes))
    }

    // resize: deterministic byte resample standing in for a pixel resample
    // (the output SHAPE — w*h-bounded binary — is what the pipeline consumes)
    fn("mm_resize_stub", BinaryType, Seq(BinaryType, I, I)) { a =>
      graft.mm.MultiModal.resizeStub(a(0).asInstanceOf[Array[Byte]], int(a(1)), int(a(2)))
    }

    // frame sampling: n evenly-spaced "frames" (16-byte windows) from a video
    // blob → explode() gives the per-frame rows a real decoder would emit
    fn("mm_frame_sample_stub", ArrayType(BinaryType), Seq(BinaryType, I)) { a =>
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        frameStub(a(0).asInstanceOf[Array[Byte]], math.max(1, int(a(1)))).map(x => x: Any))
    }

    // feature extraction: deterministic unit-scale embedding from the bytes —
    // the bridge from media blobs into the ANN/near-dup pipeline
    fn("mm_feature_stub", AD, Seq(BinaryType, I)) { a =>
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        featureStub(a(0).asInstanceOf[Array[Byte]], math.max(1, int(a(1)))))
    }

    // ---------------------------------------------------------- real kernels
    // Pixel-level kernels on the JDK's built-in decoders (PNG/JPEG/GIF/BMP).
    // Non-image blobs fall back to the matching deterministic stub so the
    // synthetic-blob pipelines keep working on the same function names.

    // real bilinear resample → packed row-major RGB (w*h*3 bytes)
    fn("mm_resize", BinaryType, Seq(BinaryType, I, I)) { a =>
      val bytes = a(0).asInstanceOf[Array[Byte]]
      val w = math.max(1, int(a(1))); val h = math.max(1, int(a(2)))
      graft.mm.MultiModal.decodePixels(bytes) match {
        case Some(px) => graft.mm.MultiModal.resizePixels(px, w, h).rgb
        case None     => graft.mm.MultiModal.resizeStub(bytes, w, h)
      }
    }

    // real block-mean luma embedding (mean-centered, L2-normalized)
    fn("mm_feature", AD, Seq(BinaryType, I)) { a =>
      val bytes = a(0).asInstanceOf[Array[Byte]]
      val dim = math.max(1, int(a(1)))
      val v: Array[Double] = graft.mm.MultiModal.decodePixels(bytes) match {
        case Some(px) => graft.mm.MultiModal.featurePixels(px, dim)
        case None     => featureStub(bytes, dim)
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(v.map(x => x: Any))
    }

    // real frame extraction (animated GIF multi-frame; stills → 1 frame),
    // frames re-encoded as PNG; explode() for per-frame rows
    fn("mm_frames", ArrayType(BinaryType), Seq(BinaryType, I)) { a =>
      val bytes = a(0).asInstanceOf[Array[Byte]]
      val n = math.max(1, int(a(1)))
      val frames: Array[Array[Byte]] =
        graft.mm.MultiModal.framePixels(bytes, n).getOrElse(frameStub(bytes, n))
      new org.apache.spark.sql.catalyst.util.GenericArrayData(frames.map(x => x: Any))
    }

    // perceptual average-hash (64-bit); non-images hash the raw bytes, which
    // degrades gracefully to exact-duplicate semantics
    fn("mm_ahash", L, Seq(BinaryType)) { a =>
      val bytes = a(0).asInstanceOf[Array[Byte]]
      graft.mm.MultiModal.decodePixels(bytes) match {
        case Some(px) => graft.mm.MultiModal.ahashPixels(px)
        case None     => mix64(MurmurHash3.bytesHash(bytes, 0x7fea1e5).toLong)
      }
    }

    // REAL audio/video metadata — WAV RIFF header, MP4 box walk (public
    // formats, pure JVM, header-only: no sample decode at 100 TB)
    fn("mm_wav_meta",
      StructType(Seq(StructField("sample_rate", I), StructField("channels", I),
        StructField("bits", I), StructField("n_samples", L), StructField("duration_ms", D))),
      Seq(BinaryType)) { a =>
      graft.mm.MultiModal.wavMeta(a(0).asInstanceOf[Array[Byte]]) match {
        case Some(m) => new GenericInternalRow(Array[Any](
          m.sampleRate, m.channels, m.bits, m.nSamples, m.durationMs))
        case None => null
      }
    }
    fn("mm_mp4_meta",
      StructType(Seq(StructField("width", I), StructField("height", I),
        StructField("timescale", L), StructField("duration", L), StructField("duration_ms", D))),
      Seq(BinaryType)) { a =>
      graft.mm.MultiModal.mp4Meta(a(0).asInstanceOf[Array[Byte]]) match {
        case Some(m) => new GenericInternalRow(Array[Any](
          m.width, m.height, m.timescale, m.duration, m.durationMs))
        case None => null
      }
    }
  }

  private def mix64(seed: Long): Long = {
    var x = seed
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private def frameStub(b: Array[Byte], n: Int): Array[Array[Byte]] =
    Array.tabulate(n) { i =>
      if (b.isEmpty) Array.emptyByteArray
      else {
        val start = (i.toLong * b.length / n).toInt
        java.util.Arrays.copyOfRange(b, start, math.min(b.length, start + 16))
      }
    }

  private def featureStub(b: Array[Byte], dim: Int): Array[Double] = {
    val base = MurmurHash3.bytesHash(b, 0x7fea1e5).toLong
    Array.tabulate(dim) { j =>
      (mix64(base + j * 0x9e3779b97f4a7c15L) >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
  }
}
