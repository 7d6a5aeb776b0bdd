package graft.io

import graft.LruCache
import graft.geom.Wkb
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import java.nio.file.{Files, Paths}
import java.util.{Collections => JCollections}
import scala.jdk.CollectionConverters._

/**
 * `spark.read.format("geo").load(path)`: a DataSourceV2 reader for every
 * format in [[GeoFormat.all]] (SURVEY §2.4). The format comes from the
 * extension (a `.json` is sniffed) or is forced with option("format", name).
 *
 * Scale design: each file is read on executors in splits its format plans
 * (.shx record ranges, FlatGeobuf index leaves, GeoPackage subtrees,
 * newline-aligned byte ranges, PBF blob runs), sized like Spark's own file
 * scans from `spark.sql.files.maxPartitionBytes`; other files are one
 * split each. That is more parallel than the reference's single GDAL
 * stream (st_read.cpp:381-444). Column pruning is pushed down.
 */
class GeoDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "geo"

  private def source(options: CaseInsensitiveStringMap): GeoSource = {
    // load(a, b, ...) arrives as a JSON string array under "paths";
    // load(a) as a plain string under "path"
    val raw = Option(options.get("path")).toSeq ++
      Option(options.get("paths")).map(GeoFiles.parseJsonStringArray).getOrElse(Seq.empty)
    if (raw.isEmpty) throw new IllegalArgumentException("geo source requires a path")
    GeoSource(raw, Option(options.get("format")), Option(options.get("layer")),
      GeoReadOptions.from(options))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val src = source(options)
    // Hive-style partition columns appended after the data columns; a path
    // key shadowed by a data column of the same name is dropped (data wins)
    GeoFiles.partitionSpec(src.paths)
      .filterNot(p => src.schema.fieldNames.contains(p._1))
      .foldLeft(src.schema)((s, p) => s.add(p._1, p._2, nullable = true))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    // reference's st_read spatial_filter_box named param (st_read.cpp:623-631):
    // a bind-time query window — index-backed formats (FlatGeobuf packed
    // R-tree) prune features before they are materialized. The exact
    // predicate still belongs in .where(); this is the coarse pre-filter.
    val bbox = Option(options.get("bbox")).map { s =>
      val p = s.split(",").map(_.trim.toDouble)
      require(p.length == 4, s"bbox option expects 'minx,miny,maxx,maxy', got '$s'")
      (p(0), p(1), p(2), p(3))
    }
    source(options).table(schema, bbox, rawPath = Option(options.get("path")))
  }

  override def supportsExternalMetadata(): Boolean = true
}

/** A geo input resolved from what the user gave: the expanded files, their
  * format (checked against `allowed_drivers` and the layer request) and the
  * data schema of the first file. `spark.read.format("geo")`, `st_read`, a
  * bare `` FROM `path` `` and `st_read_meta` all resolve through here. */
final class GeoSource private (val paths: Seq[String], val format: GeoFormat,
                               val layer: Option[String], val opts: GeoReadOptions) {
  /** the data columns, read from the local copy of the first file only */
  lazy val schema: StructType = GeoFiles.withLocal(paths.head)(format.schema(_, layer, opts))

  /** A table over these files. An exact spatial_filter implies its envelope
    * as the coarse `bbox` prefilter (index-backed formats prune on it). */
  def table(schema: StructType = schema, bbox: Option[(Double, Double, Double, Double)] = None,
            rawPath: Option[String] = None): GeoTable =
    new GeoTable(schema, this, bbox.orElse(opts.spatialFilter.map { w =>
      val e = graft.geom.Geo.fromWkt(w).getEnvelopeInternal
      (e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
    }), rawPath)
}

object GeoSource {
  def apply(raw: Seq[String], forced: Option[String] = None, layer: Option[String] = None,
            opts: GeoReadOptions = GeoReadOptions.default): GeoSource = {
    val paths = raw.distinct.flatMap(GeoFiles.expand).distinct
    if (paths.isEmpty) throw new IllegalArgumentException(
      s"geo source: no files match ${raw.mkString(", ")}")
    val format = GeoFormat.of(paths.head, forced)
    // reference st_read `allowed_drivers`: the resolved format must be in
    // the caller's allowlist (GDAL semantics: restrict which driver may
    // open the path)
    require(opts.allowedDrivers.isEmpty || opts.allowedDrivers.contains(format.name),
      s"allowed_drivers: resolved format '${format.name}' is not in [${opts.allowedDrivers.mkString(", ")}]")
    // a layerless format rejects `layer` loudly instead of reading the whole file
    layer.foreach { l =>
      require(format.layered, s"format '${format.name}' has no layers (requested layer '$l'); " +
        s"layer selection applies to ${GeoFormat.all.filter(_.layered).map(_.name).mkString("/")}")
    }
    new GeoSource(paths, format, layer, opts)
  }
}

/** Reader-level options (reference: st_read's `keep_wkb` + GDAL
  * `open_options`, st_read.cpp:623-631).
  *
  * - `keep_wkb=true`: skip the decode→validate→re-encode round trip on scan
  *   for formats whose on-disk geometry already IS standard WKB (GeoPackage:
  *   the GeoPackageBinary body is sliced out verbatim). Formats with native
  *   encodings (shapefile, FlatGeobuf, GeoJSON, …) must decode regardless —
  *   the option is accepted as a no-op there; the output column is WKB
  *   either way, so the schema never changes.
  * - `open_options=K=V,K2=V2`: per-driver knobs. Supported:
  *   `GEOM_COLUMN` (csvwkt — override the wkt/geom/… header sniff, GDAL's
  *   GEOM_POSSIBLE_NAMES) and `ENCODING` (csvwkt text charset; shapefile
  *   DBF charset, overriding the .cpg sidecar). Unknown keys fail fast —
  *   a typo'd option silently ignored is worse than an error. */
final case class GeoReadOptions(keepWkb: Boolean = false,
                                open: Map[String, String] = Map.empty,
                                spatialFilter: Option[String] = None,
                                allowedDrivers: Seq[String] = Nil) {
  def geomColumn: Option[String] = open.get("GEOM_COLUMN")
  def encoding: Option[String] = open.get("ENCODING")
}
object GeoReadOptions {
  val default: GeoReadOptions = GeoReadOptions()
  private val knownKeys = Set("GEOM_COLUMN", "ENCODING")
  def from(options: CaseInsensitiveStringMap): GeoReadOptions = {
    val keep = Option(options.get("keep_wkb")).exists(_.trim.toBoolean)
    val oo = Option(options.get("open_options")).map { s =>
      s.split(",").iterator.map(_.trim).filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"open_options entries are KEY=VALUE, got '$kv'")
        val k = kv.substring(0, i).trim.toUpperCase
        require(knownKeys.contains(k),
          s"unknown open_options key '$k' (supported: ${knownKeys.toSeq.sorted.mkString(", ")})")
        k -> kv.substring(i + 1).trim
      }.toMap
    }.getOrElse(Map.empty[String, String])
    // reference st_read named params beyond layer/bbox (st_read.cpp:623-631):
    // spatial_filter = EXACT geometry window (WKT here; envelope prefilter +
    // prepared-intersects per feature); allowed_drivers = restrict which
    // format may resolve; sequential_layer_scan / max_batch_size are GDAL
    // scheduling hints with no meaning for partition-parallel executors —
    // accepted as documented no-ops so existing call sites port verbatim.
    val sf = Option(options.get("spatial_filter")).map(_.trim).filter(_.nonEmpty)
    sf.foreach(w => graft.geom.Geo.fromWkt(w)) // fail fast on bad WKT at bind
    val drivers = Option(options.get("allowed_drivers")).toSeq
      .flatMap(_.split(",")).map(_.trim.toLowerCase).filter(_.nonEmpty)
    GeoReadOptions(keep, oo, sf, drivers)
  }
}

object GeoFiles {
  /** The 100 TB ingest shapes: a single file, a directory tree (recursive,
    * known-geo-extension filtered — `data/year=2024/part-0.geojsonl` layouts
    * just work), or a glob (`*`/`?`/`[..]` within a segment, `**` across
    * segments, java.nio PathMatcher semantics). Listing is names-only on the
    * driver; file CONTENT is only ever read on executors, one InputPartition
    * per file (or per intra-file split). */
  def expand(path: String): Seq[String] = {
    // GDAL's /vsicurl/ spelling is a no-op prefix on a plain URL
    val p0 = {
      val s = path.stripPrefix("file:")
      if (s.startsWith("/vsicurl/")) s.stripPrefix("/vsicurl/") else s
    }
    // GDAL's /vsizip/ spelling → zip-virtual path `archive.zip!inner`;
    // /vsizip//vsicurl/http://… chains to a REMOTE archive
    val vsz =
      if (p0.startsWith("/vsizip/")) {
        val rest0 = p0.stripPrefix("/vsizip")
        val rest =
          if (rest0.startsWith("//vsicurl/")) rest0.stripPrefix("//vsicurl/")
          else if (rest0.startsWith("/vsicurl/")) rest0.stripPrefix("/vsicurl/")
          else rest0
        val zi = rest.toLowerCase.indexOf(".zip")
        require(zi > 0, s"/vsizip/ path must contain a .zip archive: $path")
        val inner = rest.substring(zi + 4).stripPrefix("/")
        if (inner.isEmpty) rest.substring(0, zi + 4) else rest.substring(0, zi + 4) + "!" + inner
      } else p0
    if (isRemote(vsz)) {
      // remote inputs (reference: GDAL /vsicurl/, test/sql/gdal/gdal_vsi
      // .test): the URL itself is the partition path — each executor
      // localizes its own copy in [[local]]. No globbing over HTTP (there
      // is no portable remote listing); a bare remote .zip enumerates its
      // entries by localizing the archive once on the driver, and the
      // partitions carry REMOTE-virtual `url!entry` paths so a cluster
      // never depends on the driver's cache directory.
      requireExternalAccess(vsz)
      if (isZipVirtual(vsz)) return Seq(vsz)
      if (stripQuery(vsz).toLowerCase.endsWith(".zip"))
        return withLocal(vsz)(expand(_)).map(l => vsz + "!" + l.substring(l.indexOf('!') + 1))
      return Seq(vsz)
    }
    if (isZipVirtual(vsz)) { requireExternalAccess(vsz); return Seq(vsz) }
    if (vsz.toLowerCase.endsWith(".zip") && Files.isRegularFile(Paths.get(vsz))) {
      requireExternalAccess(vsz)
      // a bare archive expands to every known-geo-extension entry, same
      // stance as a directory tree
      val zf = new java.util.zip.ZipFile(vsz)
      try {
        val names = zf.entries().asScala
          .filter(e => !e.isDirectory && GeoFormat.known(e.getName))
          .map(_.getName).toVector.sorted
        if (names.isEmpty) throw new IllegalArgumentException(
          s"no known geo entries inside $vsz")
        // one archive = one dataset: mixed formats can't share a schema —
        // demand an explicit entry instead of misparsing the tail
        val fmts = names.map(n => GeoFormat.byExtension(n).getOrElse(GeoFormat.GeoJson).name).distinct
        if (fmts.length > 1) throw new IllegalArgumentException(
          s"mixed formats inside $vsz (${fmts.mkString(", ")}); " +
            s"read one entry via '$vsz!<entry>' — entries: ${names.take(10).mkString(", ")}")
        return names.map(vsz + "!" + _)
      } finally zf.close()
    }
    // accept GDAL's /vsigzip/ virtual-fs spelling; .gz is handled natively
    val cleaned = vsz.replaceFirst("^/vsigzip/", "")
    if (cleaned.exists(c => c == '*' || c == '?' || c == '[' || c == '{')) {
      val sep = java.io.File.separatorChar
      val segs = cleaned.split(sep)
      val firstGlobSeg = segs.indexWhere(_.exists(c => c == '*' || c == '?' || c == '[' || c == '{'))
      // walk from the deepest literal prefix directory ("." for a pattern
      // that globs from its first segment)
      val root = Paths.get(
        if (firstGlobSeg <= 0) "."
        else segs.take(firstGlobSeg).mkString(sep.toString) match { case "" => sep.toString; case r => r })
      if (!Files.isDirectory(root)) return Seq.empty
      val pattern = if (firstGlobSeg <= 0) s".$sep$cleaned" else cleaned
      val m = java.nio.file.FileSystems.getDefault.getPathMatcher("glob:" + pattern)
      val st = Files.walk(root)
      try st.iterator().asScala
        .filter(p => m.matches(p) && Files.isRegularFile(p))
        .map(_.toString).toVector.sorted
      finally st.close()
    } else {
      val p = Paths.get(cleaned)
      if (Files.isDirectory(p)) {
        val st = Files.walk(p)
        try st.iterator().asScala
          .filter(f => Files.isRegularFile(f) && GeoFormat.known(f.toString))
          .map(_.toString).toVector.sorted
        finally st.close()
      } else Seq(p.toString)
    }
  }

  // ----------------------------------------------------- zip virtual paths
  /** `/vsizip/`-equivalent input (reference: test/sql/gdal/gdal_vsi.test reads
    * zipped datasets through GDAL's virtual filesystem). A path INTO an
    * archive is spelled `archive.zip!inner/file.ext` (GDAL's
    * /vsizip/archive.zip/inner form is accepted and rewritten); a bare *.zip
    * expands to every known-extension entry. Entries are extracted lazily to
    * a per-JVM cache keyed by archive identity (path+size+mtime), so on a
    * cluster each executor localizes its own partitions' entries — the same
    * model as Spark's --archives distribution; nothing round-trips through
    * the driver. */
  def isZipVirtual(p: String): Boolean = {
    val i = p.indexOf('!')
    i > 0 && stripQuery(p.substring(0, i)).toLowerCase.endsWith(".zip")
  }

  // ------------------------------------------------------- remote (http) IO
  /** `http(s)://` inputs (reference: GDAL's /vsicurl/ virtual filesystem,
    * gdal_vsi.test): localized to a per-JVM cache on first open — on a
    * cluster each EXECUTOR downloads the objects its partitions read, the
    * same distribution model as the zip cache / Spark `--archives`; nothing
    * round-trips through the driver. */
  def isRemote(p: String): Boolean = {
    val l = p.toLowerCase
    l.startsWith("http://") || l.startsWith("https://")
  }

  /** query strings never participate in extension sniffing */
  private[io] def stripQuery(p: String): String = {
    val i = p.indexOf('?')
    if (i >= 0 && p.contains("://")) p.substring(0, i) else p
  }

  /** Local copies of remote objects and zip entries: one directory per
    * entry under a per-JVM root, which a shutdown hook deletes. Bounded by
    * the bytes the entries hold (plus 4 KiB each) against a constant 1 GiB:
    * the least recently used whole entries are evicted and their
    * directories deleted, though never one an open [[LocalFile]] holds, nor
    * the newest. A key is (source, length:mtime), so a changed object or
    * archive is fetched again, never served stale, and its older copies are
    * dropped once no reader holds them. */
  private[graft] val downloads = new LruCache[(String, String), java.nio.file.Path](
    "downloadCache", 1L << 30, p => deleteTree(p.getParent),
    p => 4096L + treeFiles(p.getParent).map(Files.size).sum)

  private lazy val downloadRoot = {
    val root = Files.createTempDirectory("graft_dl_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(root)))
    root
  }
  private val downloadSeq = new java.util.concurrent.atomic.AtomicLong

  private def treeFiles(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val st = Files.walk(dir)
    try st.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally st.close()
  }

  private def deleteTree(dir: java.nio.file.Path): Unit =
    if (Files.exists(dir)) {
      val st = Files.walk(dir)
      try st.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists)
      finally st.close()
    }

  /** A readable local path for a path that may be remote or zip-virtual:
    * a cached copy stays on disk until `close`, whatever the cache bound. */
  final class LocalFile private[GeoFiles] (val path: String, release: () => Unit)
      extends AutoCloseable {
    private val open = new java.util.concurrent.atomic.AtomicBoolean(true)
    override def close(): Unit = if (open.getAndSet(false)) release()
  }

  /** Runs `f` on the local copies of `paths`, held until `f` returns. */
  def withLocal[T](paths: Seq[String])(f: Seq[String] => T): T = {
    val held = scala.collection.mutable.ArrayBuffer.empty[LocalFile]
    try { paths.foreach(held += open(_)); f(held.map(_.path).toSeq) }
    finally held.foreach(_.close())
  }
  def withLocal[T](path: String)(f: String => T): T = withLocal(Seq(path))(ps => f(ps.head))

  /** The cached local copy of `source` at `version`, held for the caller,
    * or else the path that `fill` returns in a fresh entry directory. */
  private def cached(source: String, version: String)(
      fill: java.nio.file.Path => java.nio.file.Path): LocalFile = {
    val key = (source, version)
    val path = downloads.acquire(key) {
      downloads.removeIf(k => k._1 == source && k != key)
      val dir = downloadRoot.resolve(downloadSeq.incrementAndGet().toString)
      Files.createDirectories(dir)
      try fill(dir)
      catch { case e: Throwable => deleteTree(dir); throw e }
    }
    new LocalFile(path.toString, () => downloads.release(key))
  }

  // a remote path planned on the driver carries the version it was planned
  // on, so its tasks read that version and send no probe of their own
  private val VersionMark = "#graft-version="

  /** `p` with the version of the remote object it names fixed; a local `p`
    * is returned as it is. */
  def pinVersion(p: String): String =
    if (!isRemote(p) || p.contains(VersionMark)) p
    else {
      val bang = p.indexOf('!')
      val url = if (bang > 0) p.substring(0, bang) else p
      p + VersionMark + versionOf(url)
    }

  /** `p` without the version [[pinVersion]] gave it */
  def unpinned(p: String): String = {
    val i = p.lastIndexOf(VersionMark)
    if (i < 0) p else p.substring(0, i)
  }

  /** length:last-modified of a remote object, from a HEAD probe; servers
    * that reject HEAD give "-1:0", a URL-only version */
  private def versionOf(url: String): String = {
    requireExternalAccess(url)
    try {
      val h = java.net.URI.create(url).toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      h.setRequestMethod("HEAD"); h.setConnectTimeout(15000); h.setReadTimeout(15000)
      val r = s"${h.getContentLengthLong}:${h.getLastModified}"
      h.disconnect(); r
    } catch { case scala.util.control.NonFatal(_) => "-1:0" }
  }

  private def download(url: String, version: String): LocalFile = {
    requireExternalAccess(url)
    val u = java.net.URI.create(url).toURL
    cached(url, version) { root =>
      val urlPath = u.getPath
      val name0 = urlPath.substring(urlPath.lastIndexOf('/') + 1)
      val name = if (name0.isEmpty) "download" else name0
      val dest = root.resolve(name)
      fetch(u, dest)
      // a remote shapefile is a file FAMILY: localize the sidecars beside the
      // .shp (required .dbf/.shx fail loudly; optional .cpg/.prj tolerated)
      if (name.toLowerCase.endsWith(".shp")) {
        for (ext <- Seq(".dbf", ".shx", ".cpg", ".prj")) {
          val sDest = root.resolve(name.dropRight(4) + ext)
          val sUrl = url.patch(url.toLowerCase.lastIndexOf(".shp"), ext, 4)
          try fetch(java.net.URI.create(sUrl).toURL, sDest)
          catch {
            case scala.util.control.NonFatal(e) if ext == ".cpg" || ext == ".prj" => // optional
            case scala.util.control.NonFatal(e) =>
              throw new java.io.IOException(s"remote shapefile sidecar $sUrl: ${e.getMessage}", e)
          }
        }
      }
      dest
    }
  }

  private def fetch(u: java.net.URL, dest: java.nio.file.Path): Unit = {
    val conn = u.openConnection()
    conn.setConnectTimeout(15000); conn.setReadTimeout(120000)
    val in = conn.getInputStream
    try Files.copy(in, dest) finally in.close()
  }

  /** reference's sandbox switch (config.cpp enable_external_access): archive
    * indirection counts as external access, checked where a session is
    * visible (driver-side expand; executor threads have no active session) */
  private def requireExternalAccess(what: String): Unit =
    org.apache.spark.sql.SparkSession.getActiveSession.foreach { s =>
      if (!s.conf.get("enable_external_access", "true").toBoolean)
        throw new SecurityException(
          s"reading $what: External access is disabled by configuration")
    }

  /** A local copy of a (possibly remote or zip-virtual) path, held until
    * closed. An extracted entry is versioned by its archive's length+mtime,
    * so a rewritten archive at the same path is re-extracted, never served
    * stale. A remote path is versioned by a HEAD probe unless
    * [[pinVersion]] fixed its version. */
  def open(p0: String): LocalFile = {
    val p = unpinned(p0)
    if (isRemote(p)) {
      val bang = p.indexOf('!')
      val url = if (bang > 0) p.substring(0, bang) else p
      val version = if (p == p0) versionOf(url) else p0.substring(p.length + VersionMark.length)
      if (bang > 0 && stripQuery(url).toLowerCase.endsWith(".zip"))
        // keyed by URL, so a cached entry is served without its archive
        cached(p, version) { root =>
          val archive = download(url, version)
          try extractEntry(new java.io.File(archive.path), p.substring(bang + 1), root)
          finally archive.close()
        }
      else download(p, version)
    } else if (!isZipVirtual(p)) new LocalFile(p, () => ())
    else {
      val bang = p.indexOf('!')
      val archive = new java.io.File(p.substring(0, bang).stripPrefix("file:"))
      val entry = p.substring(bang + 1)
      // the driver-side gate in expand() has already run; re-check when a
      // session is visible (extraction on the driver path)
      requireExternalAccess(archive.toString)
      cached(archive.getAbsolutePath + "!" + entry, s"${archive.length()}:${archive.lastModified()}")(
        extractEntry(archive, entry, _))
    }
  }

  /** Extracts `entry` of `archive` into `root` and returns its path there. */
  private def extractEntry(archive: java.io.File, entry: String,
      root: java.nio.file.Path): java.nio.file.Path = {
    // entry paths flatten ('/'→'_'); sidecars keep their shared stem, which
    // is what Shapefile.basePath needs
    def flat(name: String) = name.replace('/', '_')
    val zf = new java.util.zip.ZipFile(archive)
    try {
      // a shapefile is a file FAMILY: extract every same-stem sibling too
      val stem =
        if (entry.toLowerCase.endsWith(".shp")) Some(entry.dropRight(4) + ".") else None
      val wanted = zf.entries().asScala.filter { e =>
        !e.isDirectory && (e.getName == entry || stem.exists(e.getName.startsWith))
      }.toSeq
      require(wanted.exists(_.getName == entry), s"no entry '$entry' in $archive")
      wanted.foreach { e =>
        val dest = root.resolve(flat(e.getName))
        if (!Files.exists(dest)) {
          val in = zf.getInputStream(e)
          try Files.copy(in, dest) finally in.close()
        }
      }
      root.resolve(flat(entry))
    } finally zf.close()
  }

  // ------------------------------------------------- Hive-style partitions

  /** Hive-style partition columns for a file set: `k=v` directory segments
    * present in EVERY path, in first-path order. The standard 100 TB layout
    * (`source=web/year=2024/part-0.geojsonl`) becomes typed columns that
    * prune at the FILE level before any byte is read. Types mirror Spark's
    * partition discovery: LongType when every value parses as a long,
    * DoubleType when double, else StringType. */
  def partitionSpec(paths: Seq[String]): Seq[(String, DataType)] = {
    if (paths.isEmpty) return Seq.empty
    val kvs = paths.map(p => partitionValuesOf(p).toMap)
    val keys = partitionValuesOf(paths.head).map(_._1).distinct
      .filter(k => kvs.forall(_.contains(k)))
    keys.map { k =>
      val vs = kvs.flatMap(_.get(k)).filter(_ != null)
      val t: DataType =
        if (vs.nonEmpty && vs.forall(v => v.nonEmpty && scala.util.Try(v.toLong).isSuccess)) LongType
        else if (vs.nonEmpty && vs.forall(v => v.nonEmpty && scala.util.Try(v.toDouble).isSuccess)) DoubleType
        else StringType
      (k, t)
    }
  }

  /** ordered key→value pairs from one path's `k=v` directory segments
    * (%XX-unescaped; `__HIVE_DEFAULT_PARTITION__` → null) */
  def partitionValuesOf(path: String): Seq[(String, String)] =
    path.stripPrefix("file:").split(java.io.File.separatorChar).dropRight(1).toSeq.flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) None
      else {
        val v = unescapePathValue(seg.drop(i + 1))
        Some(seg.take(i) -> (if (v == "__HIVE_DEFAULT_PARTITION__") null else v))
      }
    }

  /** Hive path escaping is %XX only ('+' stays literal, unlike URL forms) */
  private def unescapePathValue(s: String): String = {
    if (!s.contains('%')) return s
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 3 <= s.length) {
        try { out.write(Integer.parseInt(s.substring(i + 1, i + 3), 16)); i += 3 }
        catch { case _: NumberFormatException => out.write(c.toInt); i += 1 }
      } else { out.write(s.substring(i, i + 1).getBytes("UTF-8")); i += 1 }
    }
    new String(out.toByteArray, "UTF-8")
  }

  /** convert a raw partition-value string to the Catalyst-internal value */
  def partitionValue(raw: String, t: DataType): Any =
    if (raw == null) null
    else t match {
      case LongType => java.lang.Long.valueOf(raw.toLong)
      case DoubleType => java.lang.Double.valueOf(raw.toDouble)
      case _ => UTF8String.fromString(raw)
    }

  /** Parse the DSv2 `paths` option: a JSON array of strings with standard
    * escapes (what DataFrameReader.load(paths: _*) emits). */
  def parseJsonStringArray(json: String): Seq[String] = {
    val s = json.trim
    if (!s.startsWith("[")) return Seq(s)
    val out = Vector.newBuilder[String]
    var i = 1
    while (i < s.length && s.charAt(i) != ']') {
      while (i < s.length && (s.charAt(i).isWhitespace || s.charAt(i) == ',')) i += 1
      if (i < s.length && s.charAt(i) == '"') {
        i += 1
        val sb = new java.lang.StringBuilder
        while (i < s.length && s.charAt(i) != '"') {
          val c = s.charAt(i)
          if (c == '\\' && i + 1 < s.length) {
            s.charAt(i + 1) match {
              case 'u' if i + 5 < s.length =>
                sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
              case 'n' => sb.append('\n'); i += 2
              case 't' => sb.append('\t'); i += 2
              case other => sb.append(other); i += 2
            }
          } else { sb.append(c); i += 1 }
        }
        i += 1 // closing quote
        out += sb.toString
      } else if (i < s.length && s.charAt(i) != ']') {
        throw new IllegalArgumentException(s"geo source: malformed paths option '$json'")
      }
    }
    out.result()
  }

  /** like expand but without the known-geo-extension filter (any file) */
  def expand0(path: String): Seq[String] = {
    val p = Paths.get(path.stripPrefix("file:"))
    if (Files.isDirectory(p)) Files.list(p).iterator().asScala.map(_.toString).toSeq.sorted
    else Seq(p.toString)
  }

  /** Lines whose first byte lies in [from, to) — the standard split contract
    * for newline-delimited text (Hadoop TextInputFormat semantics): a range
    * starting past 0 skips the partial line it lands in; the line straddling
    * `to` belongs to the range that contains its first byte. Byte-counted on
    * the raw stream ('\n' = 0x0A never occurs inside a UTF-8 multibyte
    * sequence), so ranges compose exactly regardless of character content. */
  def lineRange(path: String, from: Long, until: Long): Iterator[String] with java.io.Closeable = {
    val fis = new java.io.FileInputStream(path)
    // start one byte early and always skip through the first '\n': if byte
    // from-1 IS a newline, only that byte is consumed and the line starting
    // exactly at `from` is kept — otherwise we'd drop boundary-aligned lines
    // (both this range and the previous one would skip them)
    if (from > 0) fis.getChannel.position(from - 1)
    val in = new java.io.BufferedInputStream(fis, 1 << 16)
    var pos = from
    if (from > 0) {
      pos = from - 1
      var b = in.read()
      while (b != -1 && b != '\n') { pos += 1; b = in.read() }
      if (b != -1) pos += 1
    }
    new Iterator[String] with java.io.Closeable {
      private var nextLine: String = null
      private var closed = false
      private def advance(): Unit = {
        if (closed || nextLine != null) return
        if (pos >= until) { close(); return }
        val buf = new java.io.ByteArrayOutputStream(256)
        var b = in.read()
        if (b == -1) { close(); return }
        while (b != -1 && b != '\n') { buf.write(b); pos += 1; b = in.read() }
        if (b != -1) pos += 1
        val bytes = buf.toByteArray
        val n = if (bytes.nonEmpty && bytes(bytes.length - 1) == '\r') bytes.length - 1 else bytes.length
        nextLine = new String(bytes, 0, n, java.nio.charset.StandardCharsets.UTF_8)
      }
      override def close(): Unit = { closed = true; try in.close() catch { case _: Exception => } }
      override def hasNext: Boolean = { advance(); nextLine != null }
      override def next(): String = {
        advance()
        if (nextLine == null) throw new NoSuchElementException
        val l = nextLine; nextLine = null; l
      }
    }
  }

  /** Reader for a possibly-gzipped text file. */
  def textReader(path: String, charset: String = "UTF-8"): java.io.BufferedReader = {
    val in: java.io.InputStream = {
      val fis = Files.newInputStream(Paths.get(path))
      if (path.toLowerCase.endsWith(".gz")) new java.util.zip.GZIPInputStream(fis, 1 << 16) else fis
    }
    new java.io.BufferedReader(new java.io.InputStreamReader(in, charset), 1 << 16)
  }

  /** whole-document text read for the single-shared-structure formats
    * (TopoJSON topologies, ESRIJSON feature sets) */
  def readAllText(path: String): String = {
    val r = textReader(path)
    try {
      val sb = new java.lang.StringBuilder
      val buf = new Array[Char](1 << 16)
      var n = r.read(buf)
      while (n >= 0) { sb.append(buf, 0, n); n = r.read(buf) }
      sb.toString
    } finally r.close()
  }

  val geojsonSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("geom", BinaryType),
    StructField("properties", MapType(StringType, StringType))))

  /** Multi-layer dataset selection (reference: st_read.cpp:623-631 `layer`
    * open option): a GeoPackage is a container of feature tables; `layer`
    * names the one to read, default = the first registered table. */
  def geopackageTable(path: String, layer: Option[String] = None): GeoPackage.FeatureTable = {
    val tables = GeoPackage.featureTables(path)
    require(tables.nonEmpty, s"no GeoPackage feature tables in $path")
    layer match {
      case None => tables.head
      case Some(name) => tables.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"layer '$name' not found in $path; available layers: ${tables.map(_.name).mkString(", ")}"))
    }
  }
}

class GeoTable(schema: StructType, val source: GeoSource,
               val bbox: Option[(Double, Double, Double, Double)] = None,
               val rawPath: Option[String] = None)
    extends Table with SupportsRead {
  def format: GeoFormat = source.format
  /** Hive-style partition columns carried by the path layout: keys present
    * in every file's path whose name made it into the schema as a NON-data
    * column. Empty (zero IO) for unpartitioned layouts. */
  lazy val partCols: Seq[(String, DataType)] = {
    val spec = GeoFiles.partitionSpec(source.paths)
    if (spec.isEmpty) Seq.empty
    else {
      val dataNames = source.schema.fieldNames.toSet
      spec.filter(p => !dataNames.contains(p._1) && schema.fieldNames.contains(p._1))
    }
  }
  override def name(): String =
    s"geo(${format.name}:${source.paths.head})" +
      bbox.map(b => s" bbox=[${b._1},${b._2},${b._3},${b._4}]").getOrElse("")
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = new java.util.HashSet[TableCapability]()
    caps.add(TableCapability.BATCH_READ)
    if (rawPath.isDefined) caps.add(TableCapability.MICRO_BATCH_READ)
    caps
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = new GeoScanBuilder(this)
  /** same table narrowed to a query window (index-backed formats prune) */
  def withBbox(b: (Double, Double, Double, Double)): GeoTable =
    new GeoTable(schema, source, Some(b), rawPath)
}

class GeoScanBuilder(table: GeoTable) extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  private val partCols = table.partCols
  private var required: StructType = table.schema()
  private var prunedPaths: Seq[String] = table.source.paths
  private var accepted: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit = { required = requiredSchema }

  /** Partition pruning: a conjunct referencing ONLY partition columns and
    * evaluable per file drops non-matching FILES from the scan — the DSv2
    * analogue of parquet partition pruning, applied before any byte of
    * content is read. Exactly-satisfied conjuncts are consumed (not
    * re-evaluated above); anything else stays residual. */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    if (partCols.isEmpty) return filters
    val types = partCols.toMap
    val residual = Array.newBuilder[org.apache.spark.sql.sources.Filter]
    val ok = Array.newBuilder[org.apache.spark.sql.sources.Filter]
    var keep = prunedPaths
    filters.foreach { f =>
      if (f.references.nonEmpty && f.references.forall(types.contains)) {
        // evaluate against every path; any undecidable file → leave residual
        val verdicts = keep.map { p =>
          GeoPartFilter.eval(f, GeoFiles.partitionValuesOf(p).toMap, types)
        }
        if (verdicts.forall(_.isDefined)) {
          keep = keep.zip(verdicts).collect { case (p, Some(true)) => p }
          ok += f
        } else residual += f
      } else residual += f
    }
    prunedPaths = keep
    accepted = ok.result()
    residual.result()
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = accepted

  override def build(): Scan = new GeoScan(table, required, prunedPaths)
}

/** Evaluates a source Filter against one file's partition values (raw
  * strings + declared types). None = undecidable (unsupported shape or a
  * value that fails to convert) — the caller then keeps the filter residual. */
object GeoPartFilter {
  import org.apache.spark.sql.sources._
  def eval(f: Filter, kv: Map[String, String], types: Map[String, DataType]): Option[Boolean] = {
    def cmp(attr: String, v: Any): Option[Int] = {
      val raw = kv.getOrElse(attr, null)
      if (raw == null || v == null) None
      else scala.util.Try {
        types(attr) match {
          case LongType => java.lang.Long.compare(raw.toLong, v.toString.toLong)
          case DoubleType => java.lang.Double.compare(raw.toDouble, v.toString.toDouble)
          case _ => raw.compareTo(v.toString)
        }
      }.toOption
    }
    f match {
      case EqualTo(a, v) => cmp(a, v).map(_ == 0)
      case EqualNullSafe(a, v) =>
        val raw = kv.getOrElse(a, null)
        if (raw == null || v == null) Some(raw == null && v == null) else cmp(a, v).map(_ == 0)
      case In(a, vs) =>
        val rs = vs.toSeq.map(v => cmp(a, v))
        if (rs.exists(r => r.contains(0))) Some(true)
        else if (rs.forall(_.isDefined)) Some(false) else None
      case GreaterThan(a, v) => cmp(a, v).map(_ > 0)
      case GreaterThanOrEqual(a, v) => cmp(a, v).map(_ >= 0)
      case LessThan(a, v) => cmp(a, v).map(_ < 0)
      case LessThanOrEqual(a, v) => cmp(a, v).map(_ <= 0)
      case IsNull(a) => Some(kv.getOrElse(a, null) == null)
      case IsNotNull(a) => Some(kv.getOrElse(a, null) != null)
      case StringStartsWith(a, p) => Option(kv.getOrElse(a, null)).map(_.startsWith(p))
      case StringEndsWith(a, p) => Option(kv.getOrElse(a, null)).map(_.endsWith(p))
      case StringContains(a, p) => Option(kv.getOrElse(a, null)).map(_.contains(p))
      case And(l, r) => (eval(l, kv, types), eval(r, kv, types)) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true)) => Some(true)
        case _ => None
      }
      case Or(l, r) => (eval(l, kv, types), eval(r, kv, types)) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false)) => Some(false)
        case _ => None
      }
      case Not(c) => eval(c, kv, types).map(!_)
      case _ => None
    }
  }
}

class GeoScan(table: GeoTable, required: StructType, paths: Seq[String])
    extends Scan with Batch with SupportsReportStatistics {
  private val format = table.format
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** File-size (and, where a header carries it, row-count) statistics so
    * Catalyst can pick broadcast joins over geo scans — without this every
    * DSv2 relation defaults to "unknown/huge" and a small .shp lookup table
    * shuffles instead of broadcasting. */
  override def estimateStatistics(): Statistics = GeoFiles.withLocal(paths) { localPaths =>
    val bytes = localPaths.map(format.bytes).sum
    val rows =
      try {
        val counts = localPaths.map(format.rowCount)
        if (counts.forall(_.isDefined)) java.util.OptionalLong.of(counts.flatten.sum)
        else java.util.OptionalLong.empty()
      } catch { case scala.util.control.NonFatal(_) => java.util.OptionalLong.empty() }
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(math.max(bytes, 1L))
      override def numRows(): java.util.OptionalLong = rows
    }
  }

  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GeoMicroBatchStream(table.schema(), required, format,
      table.rawPath.getOrElse(throw new IllegalArgumentException(
        "geo streaming requires a directory path")), checkpointLocation, table.partCols)

  override def planInputPartitions(): Array[InputPartition] =
    GeoScan.partitionsFor(format, paths, table.source.layer)

  override def createReaderFactory(): PartitionReaderFactory =
    new GeoReaderFactory(table.schema(), required, format, table.bbox, table.partCols,
      table.source.layer, table.source.opts)
}

object GeoScan {
  /** Partition planning shared by the batch Scan and the micro-batch stream:
    * each file in its format's splits. Split sizes follow Spark's file
    * sources: `spark.sql.files.maxPartitionBytes`, lowered towards the
    * scan's bytes per core (`openCostInBytes` per file, at least that). */
  def partitionsFor(format: GeoFormat, paths0: Seq[String],
                    layer: Option[String] = None): Array[InputPartition] = {
    // the remote versions planned here are the ones the tasks read
    val paths = paths0.map(GeoFiles.pinVersion)
    lazy val maxBytes = {
      val spark = org.apache.spark.sql.SparkSession.active
      val openCost = spark.sessionState.conf.filesOpenCostInBytes
      org.apache.spark.sql.execution.datasources.FilePartition.maxSplitBytes(spark,
        paths.map(p => GeoFiles.withLocal(p)(new java.io.File(_).length()) + openCost).sum)
    }
    paths.flatMap(p => format.splits(p, layer, maxBytes).map(GeoPartition(p, _): InputPartition)).toArray
  }
}

/** One task's share of one file: the path as planned (remote, zip-virtual
  * or local) and the format's split of it ([[GeoFormat]]). */
final case class GeoPartition(path: String, split: Array[Long]) extends InputPartition

class GeoReaderFactory(fullSchema0: StructType, required0: StructType, format: GeoFormat,
                       bbox: Option[(Double, Double, Double, Double)] = None,
                       partCols: Seq[(String, DataType)] = Seq.empty,
                       layer: Option[String] = None,
                       opts: GeoReadOptions = GeoReadOptions.default)
    extends PartitionReaderFactory {
  override def createReader(partition0: InputPartition): PartitionReader[InternalRow] = {
    val partition = partition0.asInstanceOf[GeoPartition]
    // zip-virtual and remote paths localize HERE — on the executor that owns
    // the partition — and the copy stays on disk until the reader closes
    val held = GeoFiles.open(partition.path)
    var fmtRead: GeoRead = null
    def closeAll(): Unit = try if (fmtRead != null) fmtRead.close() finally held.close()
    val rows = try read(partition, held.path, fmtRead = _) catch { case e: Throwable => closeAll(); throw e }
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = { if (rows.hasNext) { current = rows.next(); true } else false }
      override def get(): InternalRow = current
      override def close(): Unit = closeAll()
    }
  }

  /** The rows of `partition`, whose file is at `local`; `started` sees the
    * format's read, whose streams the partition reader closes. */
  private def read(partition: GeoPartition, local: String,
      started: GeoRead => Unit): Iterator[InternalRow] = {
    // format readers see DATA columns only; Hive-style partition columns are
    // appended afterwards as per-file constants parsed from the path
    val partNames = partCols.map(_._1).toSet
    val fullSchema =
      if (partNames.isEmpty) fullSchema0
      else StructType(fullSchema0.fields.filterNot(f => partNames.contains(f.name)))
    val required1 =
      if (partNames.isEmpty) required0
      else StructType(required0.fields.filterNot(f => partNames.contains(f.name)))
    // spatial_filter_box semantics: features whose envelope misses the window
    // are excluded for EVERY format (fgb additionally prunes via its packed
    // index before materializing). If projection pruned the geometry away
    // (e.g. count(*)), read it internally and drop it after the filter.
    val geomName = fullSchema.fields.find(f =>
      f.dataType == BinaryType && (f.name == "geom" || f.name == "geometry"))
      .map(_.name).orNull
    val (required, bboxGeomIdx, dropBboxGeom) = bbox match {
      case Some(_) if geomName != null =>
        val gi = required1.fieldNames.indexOf(geomName)
        if (gi >= 0) (required1, gi, false)
        else (StructType(required1.fields :+ fullSchema(geomName)), required1.length, true)
      case _ => (required1, -1, false)
    }
    val fmtRead = GeoRead(partition.path, fullSchema, required, layer, opts, bbox)
    started(fmtRead)
    val rows0 = format.rows(local, partition.split, fmtRead)
    val rows0b: Iterator[InternalRow] =
      if (bboxGeomIdx < 0) rows0
      else {
        val Some((x0, y0, x1, y1)) = bbox
        val envFiltered = rows0.filter { r =>
          !r.isNullAt(bboxGeomIdx) && {
            val e = graft.geom.Wkb.envelope(r.getBinary(bboxGeomIdx))
            e != null && e(0) <= x1 && e(2) >= x0 && e(1) <= y1 && e(3) >= y0
          }
        }
        // exact spatial_filter (reference st_read named param): features
        // surviving the envelope prefilter are tested against the PREPARED
        // filter geometry — one prepared build per partition reader
        opts.spatialFilter match {
          case Some(wkt) =>
            val prepared = org.locationtech.jts.geom.prep.PreparedGeometryFactory
              .prepare(graft.geom.Geo.fromWkt(wkt))
            envFiltered.filter { r =>
              val g = try graft.geom.Geo.read(r.getBinary(bboxGeomIdx))
                      catch { case scala.util.control.NonFatal(_) => null }
              g != null && prepared.intersects(g)
            }
          case None => envFiltered
        }
      }
    if (partNames.isEmpty && !dropBboxGeom) rows0b
    else {
      // the ORIGINAL (possibly zip-virtual) path: extracted copies flatten
      // the k=v directory segments away
      val kv = GeoFiles.partitionValuesOf(partition.path).toMap
      val dataIdx = required.fieldNames.zipWithIndex.toMap
      val cells: Array[Either[Int, Any]] = required0.fields.map { f =>
        dataIdx.get(f.name) match {
          case Some(i) => Left(i)
          case None =>
            val t = partCols.collectFirst { case (n, tp) if n == f.name => tp }.get
            Right(GeoFiles.partitionValue(kv.getOrElse(f.name, null), t))
        }
      }
      val dataTypes = required.fields.map(_.dataType)
      rows0b.map { r =>
        val out = new Array[Any](cells.length)
        var i = 0
        while (i < cells.length) {
          out(i) = cells(i) match {
            case Left(j) => if (r.isNullAt(j)) null else r.get(j, dataTypes(j))
            case Right(c) => c
          }
          i += 1
        }
        new GenericInternalRow(out)
      }
    }
  }
}

object GeoRows {
  private def utf(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)

  def featureRow(f: GeoJsonFile.Feature, required: StructType): InternalRow = {
    val vals = required.fields.map { field =>
      field.name match {
        // a Feature-level id wins; round-tripped files carry it as a property
        case "id" => if (f.id != null) utf(f.id) else f.properties.get("id").map(utf).orNull
        case "geom" => if (f.geom == null) null else Wkb.write(f.geom)
        case "properties" => ArrayBasedMapData(f.properties, (k: Any) => utf(k.asInstanceOf[String]), (v: Any) => utf(v.asInstanceOf[String]))
        case promoted => f.properties.get(promoted).map(utf).orNull
      }
    }
    new GenericInternalRow(vals.asInstanceOf[Array[Any]])
  }

  def osmRow(e: OsmPbf.Entity, required: StructType): InternalRow = {
    val vals = required.fields.map { field =>
      (field.name match {
        case "kind" => utf(e.kind)
        case "id" => e.id
        case "tags" => ArrayBasedMapData(e.tags, (k: Any) => utf(k.asInstanceOf[String]), (v: Any) => utf(v.asInstanceOf[String]))
        case "refs" => new GenericArrayData(e.refs.map(x => x: Any))
        case "lat" => e.lat
        case "lon" => e.lon
        case "ref_roles" => new GenericArrayData(e.refRoles.map(utf): Array[Any])
        case "ref_types" => new GenericArrayData(e.refTypes.map(utf): Array[Any])
        case _ => null
      }): Any
    }
    new GenericInternalRow(vals.asInstanceOf[Array[Any]])
  }

  def fgbRow(f: FlatGeobuf.FgbFeature, required: StructType): InternalRow = {
    val vals = required.fields.map { field =>
      (if (field.name == "geom") {
        if (f.geom == null) null else Wkb.write(f.geom)
      } else f.properties.get(field.name).map(utf).orNull): Any
    }
    new GenericInternalRow(vals.asInstanceOf[Array[Any]])
  }

  def gpkgRows(path: String, subtreeRoots: Array[Long], required: StructType,
               layer: Option[String] = None, keepWkb: Boolean = false): Iterator[InternalRow] = {
    val t = GeoFiles.geopackageTable(path, layer)
    val colIdx = t.columns.map(_._1).zipWithIndex.toMap
    // keep_wkb: the GeoPackageBinary body is ALREADY standard WKB — slice it
    // out verbatim instead of decode→validate→re-encode through JTS (the
    // reference's st_read keep_wkb). Identical output bytes for well-formed
    // data; malformed WKB surfaces at first use instead of at scan.
    val scan =
      if (keepWkb) GeoPackage.scanPagesWkb(path, t, subtreeRoots.toSeq)
      else GeoPackage.scanPages(path, t, subtreeRoots.toSeq)
        .map { case (rid, cols, g) => (rid, cols, if (g == null) null else Wkb.write(g)) }
    scan.map { case (_, cols, wkb) =>
      val vals = required.fields.map { field =>
        (if (field.name == t.geomColumn) {
          wkb
        } else {
          val v = colIdx.get(field.name).map(cols(_)).orNull
          (v, field.dataType) match {
            case (null, _) => null
            case (x: Long, LongType) => x
            case (x: Long, DoubleType) => x.toDouble
            case (x: Double, DoubleType) => x
            case (x: Double, LongType) => x.toLong
            case (x: String, StringType) => utf(x)
            case (x: Array[Byte], BinaryType) => x
            case (x, StringType) => utf(String.valueOf(x))
            case _ => null
          }
        }): Any
      }
      new GenericInternalRow(vals.asInstanceOf[Array[Any]])
    }
  }

  def sheetRows(sheet: Vector[Array[String]], fullSchema: StructType,
                required: StructType): Iterator[InternalRow] = {
    val idx = fullSchema.fieldNames.zipWithIndex.toMap
    sheet.iterator.drop(1).map { cells =>
      val vals = required.fields.map { field =>
        (idx.get(field.name) match {
          case Some(i) if i < cells.length && cells(i) != null => utf(cells(i))
          case _ => null
        }): Any
      }
      new GenericInternalRow(vals.asInstanceOf[Array[Any]])
    }
  }

  def csvRows(path: String, fullSchema: StructType, required: StructType,
              opts: GeoReadOptions = GeoReadOptions.default): Iterator[InternalRow] = {
    // fullSchema = attribute columns in header order + trailing geom
    val attrIndex = fullSchema.fieldNames.zipWithIndex.toMap
    CsvWkt.rows(path, opts.geomColumn, opts.encoding).map { case (attrs, geom) =>
      val vals = required.fields.map { field =>
        (if (field.name == "geom") {
          if (geom == null) null else Wkb.write(geom)
        } else attrIndex.get(field.name) match {
          case Some(i) if i < attrs.length => utf(attrs(i))
          case _ => null
        }): Any
      }
      new GenericInternalRow(vals.asInstanceOf[Array[Any]])
    }
  }

  def shapefileRows(path: String, startRec: Int, endRec: Int,
                    fullSchema: StructType, required: StructType,
                    encoding: Option[String] = None): Iterator[InternalRow] = {
    val meta = Shapefile.readMeta(path)
    // fullSchema order = dbf fields then geom; map required names to indices
    val attrIndex = fullSchema.fieldNames.zipWithIndex.toMap
    Shapefile.readRecordRange(path, startRec, endRec, encoding).map { case (geom, attrs) =>
      val vals = required.fields.map { field =>
        (if (field.name == "geom") {
          if (geom == null) null else Wkb.write(geom)
        } else {
          val i = attrIndex(field.name)
          convertDbf(attrs(i), meta.fields(i), field.dataType)
        }): Any
      }
      new GenericInternalRow(vals.asInstanceOf[Array[Any]])
    }
  }

  private def convertDbf(raw: String, f: Shapefile.DbfField, dt: DataType): Any = {
    if (raw == null || raw.isEmpty || raw == "*") return null
    try dt match {
      case StringType => utf(raw)
      case IntegerType => raw.trim.toInt
      case LongType => raw.trim.toLong
      case DoubleType => raw.trim.toDouble
      case BooleanType => "TtYy".indexOf(raw.trim.headOption.getOrElse('?')) >= 0
      case DateType =>
        // YYYYMMDD → days since epoch
        val d = java.time.LocalDate.of(raw.substring(0, 4).toInt, raw.substring(4, 6).toInt, raw.substring(6, 8).toInt)
        d.toEpochDay.toInt
      case _ => utf(raw)
    } catch { case _: Exception => null }
  }
}
