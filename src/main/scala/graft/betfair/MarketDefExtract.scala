package graft.betfair

import java.io.{BufferedReader, InputStream, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.zip.{GZIPInputStream, ZipInputStream}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.util.SerializableConfiguration

/** A4: market-definition extraction from exchange-stream capture files.
  *
  * Reference: betfairdatabase/marketdef.py:24-114 — find the LAST line
  * containing "marketDefinition", parse it, take `mc[0].marketDefinition`,
  * inject `marketId = mc[0].id`, and write the minified result as
  * `<id>.json` next to the data file.
  *
  * Spark-first design: one task per file (embarrassingly parallel — the right
  * shape at 100 TB where each capture file is independent). Per file:
  *   - plaintext: reverse 64 KiB window scan from the end (the reference's
  *     tail-read optimization, reference: betfairdatabase/utils.py:35-71) —
  *     reads O(64 KiB) instead of the whole file in the common case;
  *   - gz/bz2/zip: streaming forward decompression keeping only the last
  *     matching line — O(1) memory, never buffers the whole file.
  * No shuffle anywhere; output is one row per file.
  */
object MarketDefExtract {

  /** outcome: ok | missing | corrupt. json is the minified definition with
    * marketId injected (null unless ok).
    */
  case class Extracted(dataPath: String, stem: String, metaPath: String,
      outcome: String, json: String)

  private val Marker = "marketDefinition"

  private def lastMarkerLine(in: InputStream): String = {
    val reader = new BufferedReader(
      new InputStreamReader(in, StandardCharsets.UTF_8), 1 << 16)
    var last: String = null
    var line = reader.readLine()
    while (line != null) {
      if (line.contains(Marker)) last = line
      line = reader.readLine()
    }
    last
  }

  /** Tail-read: scan backwards in 64 KiB windows for the last marker line.
    * Exact: a window always extends to the previous newline boundary before
    * any line it reports.
    */
  private def lastMarkerLinePlaintext(fs: FileSystem, p: Path, len: Long): String = {
    val step = 64 * 1024
    val in = fs.open(p)
    try {
      var end = len
      while (end > 0) {
        val start = math.max(0L, end - step)
        val size = (end - start).toInt
        val buf = new Array[Byte](size)
        in.readFully(start, buf, 0, size)
        val text = new String(buf, StandardCharsets.UTF_8)
        val nl = if (start == 0) -1 else text.indexOf('\n')
        if (nl >= 0 || start == 0) {
          // complete lines live after the first newline in the window
          val complete = text.substring(nl + 1)
          val lines = complete.split("\n")
          val hit = lines.reverseIterator.find(_.contains(Marker))
          if (hit.isDefined) return hit.get
          if (start == 0) return null
          end = start + nl + 1 // resume before the first complete line
        } else {
          // a single line longer than the window: fall back to a full
          // forward scan (rare; mirrors the reference's fallback,
          // reference: betfairdatabase/marketdef.py:73-80)
          in.seek(0)
          return lastMarkerLine(in)
        }
      }
      null
    } finally in.close()
  }

  private def openDecompressed(fs: FileSystem, p: Path, name: String,
      conf: Configuration): InputStream = {
    val raw = fs.open(p)
    if (name.endsWith(".gz")) new GZIPInputStream(raw, 1 << 16)
    else if (name.endsWith(".bz2")) {
      val codec = new org.apache.hadoop.io.compress.BZip2Codec()
      codec.setConf(conf)
      codec.createInputStream(raw)
    } else if (name.endsWith(".zip")) {
      // Zip (incl. ZIP-LZMA, the reference's fixture format): central
      // directory needs a seekable channel, so buffer the archive — market
      // capture zips are single-market files. DEFLATE/STORED entries go
      // through commons-compress ZipFile; LZMA (method 14) entries are
      // unwrapped manually (zip-LZMA header: 2B version + 2B propsSize +
      // 1B props + 4B dictSize LE, then a raw LZMA1 stream) and decoded
      // with org.tukaani.xz — ZipFile itself rejects method 14.
      val stem = name.substring(0, name.length - 4)
      val bytes = try org.apache.commons.io.IOUtils.toByteArray(raw)
      finally raw.close()
      openZipEntry(bytes, stem)
    } else raw
  }

  private val LzmaMethod = 14

  private def openZipEntry(bytes: Array[Byte], stem: String): InputStream = {
    def zipFile() = {
      val ch =
        new org.apache.commons.compress.utils.SeekableInMemoryByteChannel(bytes)
      org.apache.commons.compress.archivers.zip.ZipFile.builder()
        .setSeekableByteChannel(ch).get()
    }
    val zf = zipFile()
    val entry = zf.getEntry(stem)
    if (entry == null) throw new java.io.IOException(s"no zip entry $stem")
    if (entry.getMethod != LzmaMethod) zf.getInputStream(entry)
    else {
      def lzma(size: Long): InputStream = {
        val z = zipFile()
        val din = new java.io.DataInputStream(z.getRawInputStream(z.getEntry(stem)))
        din.skipBytes(4) // version (2) + properties size (2, always 5)
        val propByte = din.readByte()
        val dictSize = din.readUnsignedByte() | (din.readUnsignedByte() << 8) |
          (din.readUnsignedByte() << 16) | (din.readUnsignedByte() << 24)
        new org.tukaani.xz.LZMAInputStream(din, size, propByte, dictSize)
      }
      // encoders usually set the end-of-stream marker (python zipfile, 7zip);
      // fall back to the declared size if the EOS variant fails to decode
      try {
        val eos = lzma(-1L)
        // force-decode eagerly so a corrupt EOS stream falls back here
        val out = org.apache.commons.io.IOUtils.toByteArray(eos)
        new java.io.ByteArrayInputStream(out)
      } catch {
        case _: java.io.IOException =>
          new java.io.ByteArrayInputStream(
            org.apache.commons.io.IOUtils.toByteArray(lzma(entry.getSize)))
      }
    }
  }

  /** Extract the definition of one data file; optionally write the
    * `<id>.json` metadata file beside it (reference parity). Never throws:
    * an unreadable or unparseable file is outcome `corrupt`. The one
    * per-file body of both [[extract]] and `IndexPipeline.build`.
    */
  private[betfair] def extractFile(conf: Configuration, mapper: ObjectMapper,
      stem: String, dataPath: String, writeMetadataFiles: Boolean)
      : Extracted = {
    val p = new Path(dataPath)
    val name = p.getName
    val metaPath = stem + ".json"
    try {
      val fs = p.getFileSystem(conf)
      val line =
        if (name.endsWith(".gz") || name.endsWith(".bz2") ||
          name.endsWith(".zip")) {
          val in = openDecompressed(fs, p, name, conf)
          try lastMarkerLine(in) finally in.close()
        } else {
          val len = fs.getFileStatus(p).getLen
          lastMarkerLinePlaintext(fs, p, len)
        }
      if (line == null) Extracted(dataPath, stem, metaPath, "missing", null)
      else {
        val root = mapper.readTree(line)
        val mc0 = root.get("mc").get(0)
        val defNode = mc0.get(Marker).asInstanceOf[ObjectNode]
        defNode.put("marketId", mc0.get("id").asText())
        val json = mapper.writeValueAsString(defNode)
        if (writeMetadataFiles) {
          val out = new Path(metaPath)
          if (!fs.exists(out)) {
            val os = fs.create(out, true)
            try os.write(json.getBytes(StandardCharsets.UTF_8))
            finally os.close()
          }
        }
        Extracted(dataPath, stem, metaPath, "ok", json)
      }
    } catch {
      case _: Exception =>
        Extracted(dataPath, stem, metaPath, "corrupt", null)
    }
  }

  /** Extract the definition for every (stem, dataPath) row. */
  def extract(spark: SparkSession, files: Dataset[(String, String)],
      writeMetadataFiles: Boolean): DataFrame = {
    import spark.implicits._
    val sconf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    files.mapPartitions { it =>
      val conf = sconf.value
      val mapper = new ObjectMapper()
      it.map { case (stem, dataPath) =>
        extractFile(conf, mapper, stem, dataPath, writeMetadataFiles)
      }
    }.toDF()
  }
}
