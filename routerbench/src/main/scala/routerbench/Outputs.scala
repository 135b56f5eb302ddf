package routerbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.TimeUnit
import java.util.zip.GZIPInputStream

import scala.collection.mutable

/** Readers for what the router wrote: `_bulk` NDJSON bodies and the
  * dead-letter tree. Used only outside the timed regions. */
object Outputs {

  /** (index, id) of every action in a `_bulk` NDJSON body. Meta and source
    * lines alternate; a malformed body throws. */
  def parseBulk(body: String): Vector[(String, String)] = {
    val lines = body.split('\n')
    if (lines.length % 2 != 0)
      throw new IllegalArgumentException(s"bulk body has an odd line count ${lines.length}")
    lines.grouped(2).map { case Array(meta, source) =>
      if (!meta.startsWith("{\"index\":{"))
        throw new IllegalArgumentException(s"not an index action: $meta")
      if (!source.startsWith("{"))
        throw new IllegalArgumentException(s"source is not a JSON object: $source")
      val action = Json.mapper.readTree(meta).path("index")
      val index = action.path("_index")
      if (!index.isTextual) throw new IllegalArgumentException(s"no _index in: $meta")
      (index.asText, action.path("_id").asText(null))
    }.toVector
  }

  /** What a batch's `_bulk` bodies held. `chunks` pairs each body's file
    * modification time (epoch µs) with its action count. */
  final case class Bulk(perIndex: Map[String, Long], docs: Long, distinctIds: Int,
                        chunks: Vector[(Long, Int)])

  def readBulkDir(dir: File): Bulk = {
    val perIndex = mutable.HashMap.empty[String, Long]
    val ids = new java.util.HashSet[String]()
    var docs = 0L
    val chunks = files(dir).filter(_.getName.endsWith(".ndjson")).map { f =>
      val actions = parseBulk(new String(Files.readAllBytes(f.toPath), UTF_8))
      actions.foreach { case (index, id) =>
        perIndex.update(index, perIndex.getOrElse(index, 0L) + 1)
        ids.add(id)
      }
      docs += actions.size
      (Files.getLastModifiedTime(f.toPath).to(TimeUnit.MICROSECONDS), actions.size)
    }
    Bulk(perIndex.toMap, docs, ids.size, chunks)
  }

  /** The dead-letter tree `{root}/{reason}/log_type=…/ym=…/dd=…/part-*`:
    * rows per (reason, log_type), part files, bytes on disk, and the
    * `log_id` of every row under `idsOf` reasons. */
  final case class Dlq(rows: Map[(String, String), Long], files: Int, bytes: Long,
                       ids: Map[String, Vector[String]])

  def readDlq(root: File, idsOf: Set[String] = Set.empty): Dlq = {
    val rows = mutable.HashMap.empty[(String, String), Long]
    val ids = mutable.HashMap.empty[String, mutable.ArrayBuffer[String]]
    var nFiles = 0
    var bytes = 0L
    for {
      reasonDir <- dirs(root)
      typeDir <- dirs(reasonDir) if typeDir.getName.startsWith("log_type=")
      part <- walk(typeDir) if part.getName.startsWith("part-")
    } {
      val reason = reasonDir.getName
      val logType = unescapePartition(typeDir.getName.stripPrefix("log_type="))
      nFiles += 1
      bytes += part.length()
      val lines = readLines(part)
      rows.update((reason, logType), rows.getOrElse((reason, logType), 0L) + lines.size)
      if (idsOf(reason)) ids.getOrElseUpdate(reason, mutable.ArrayBuffer.empty) ++=
        lines.map(Json.mapper.readTree(_).path("log_id").asText(null))
    }
    Dlq(rows.toMap, nFiles, bytes, ids.map { case (k, v) => k -> v.toVector }.toMap)
  }

  private def readLines(f: File): Vector[String] = {
    val raw = Files.readAllBytes(f.toPath)
    val bytes =
      if (f.getName.endsWith(".gz"))
        new GZIPInputStream(new java.io.ByteArrayInputStream(raw)).readAllBytes()
      else raw
    val text = new String(bytes, UTF_8)
    if (text.isEmpty) Vector.empty else text.stripSuffix("\n").split('\n').toVector
  }

  /** Hive partition values escape special characters as `%XX`. */
  private def unescapePartition(s: String): String =
    if (s.indexOf('%') < 0) s else java.net.URLDecoder.decode(s, "UTF-8")

  private def files(dir: File): Vector[File] =
    Option(dir.listFiles()).map(_.toVector.filter(_.isFile)).getOrElse(Vector.empty)

  private def dirs(dir: File): Vector[File] =
    Option(dir.listFiles()).map(_.toVector.filter(_.isDirectory)).getOrElse(Vector.empty)

  private def walk(dir: File): Vector[File] =
    files(dir) ++ dirs(dir).flatMap(walk)

  /** Deletes `f` and everything under it. */
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
