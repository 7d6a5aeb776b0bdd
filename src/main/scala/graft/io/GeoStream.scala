package graft.io

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType

/**
 * Structured Streaming ingest for the geo source:
 * `spark.readStream.format("geo").load(dir)` turns newly-arrived files in a
 * directory into micro-batches — the DSv2 equivalent of Spark's own
 * FileStreamSource, for every format of [[GeoFormat.all]] (stream a drop-folder of
 * GeoRSS feeds, geojsonl exports, shapefile deliveries…).
 *
 * Offsets count files in arrival order. The discovered-file log persists to
 * `<checkpoint>/graft-geo-files.log` (one path per line, append-ordered), so
 * a restart re-resolves offset N to exactly the same file set — files that
 * appear between stop and restart are picked up as the next batch. Each
 * batch's files split intra-file exactly like the batch reader
 * ([[GeoScan.partitionsFor]]: .shx ranges, FGB index leaves, PBF blobs…).
 */
class GeoMicroBatchStream(fullSchema: StructType, required: StructType,
                          format: GeoFormat, rawPath: String, checkpointLoc: String,
                          partCols: Seq[(String, org.apache.spark.sql.types.DataType)] = Seq.empty)
    extends MicroBatchStream {

  private case class FilesOffset(n: Long) extends Offset {
    override def json(): String = n.toString
  }

  private val hconf =
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()
  private val logPath =
    new org.apache.hadoop.fs.Path(checkpointLoc, "graft-geo-files.log")
  private val fs = logPath.getFileSystem(hconf)

  // arrival-ordered discovered files; index IS the offset
  private val seen = scala.collection.mutable.ArrayBuffer.empty[String]
  private val seenSet = scala.collection.mutable.HashSet.empty[String]
  locally {
    if (fs.exists(logPath)) {
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(fs.open(logPath), "UTF-8"))
      try Iterator.continually(in.readLine()).takeWhile(_ != null)
        .filter(_.nonEmpty).foreach { p => seen += p; seenSet += p }
      finally in.close()
    }
  }

  private def persistLog(): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(logPath.getParent, logPath.getName + ".tmp")
    val out = new java.io.PrintWriter(
      new java.io.OutputStreamWriter(fs.create(tmp, true), "UTF-8"))
    try seen.foreach(out.println) finally out.close()
    if (fs.exists(logPath)) fs.delete(logPath, false)
    fs.rename(tmp, logPath)
  }

  override def latestOffset(): Offset = synchronized {
    // new files sort by (mtime, name) so arrival order is deterministic
    // within a listing; once logged, order is frozen by the log
    val fresh = GeoFiles.expand(rawPath).filterNot(seenSet)
      .map(p => (new java.io.File(p).lastModified(), p)).sorted.map(_._2)
    if (fresh.nonEmpty) {
      fresh.foreach { p => seen += p; seenSet += p }
      persistLog()
    }
    FilesOffset(seen.size.toLong)
  }

  override def initialOffset(): Offset = FilesOffset(0)

  override def deserializeOffset(json: String): Offset = FilesOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = synchronized {
    val s = start.asInstanceOf[FilesOffset].n.toInt
    val e = end.asInstanceOf[FilesOffset].n.toInt
    val batch = seen.slice(s, e).toSeq
    if (batch.isEmpty) Array.empty
    else GeoScan.partitionsFor(format, batch)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GeoReaderFactory(fullSchema, required, format, partCols = partCols)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
