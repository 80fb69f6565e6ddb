package graft.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.concurrent.TimeoutException
import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import scala.concurrent.Await

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary` payloads
  * with typed metadata, plus decode / feature-extract / resize / frame-sample
  * stages.
  *
  * All three decode paths are REAL and header-only — the right cost model
  * for metadata extraction over billions of payloads (never decompress
  * sample data):
  *  - image: `javax.imageio` codec-header read (PNG/JPEG/...);
  *  - audio: `javax.sound.sampled` RIFF/WAV header read;
  *  - video: a hand-rolled ISO BMFF (MP4) box parser — ftyp/moov/mvhd for
  *    timescale+duration, trak/tkhd for the 16.16-fixed display dims,
  *    stbl/stsz for the sample (frame) count. The box grammar is the
  *    public ISO 14496-12 layout; a production deployment would swap in a
  *    full demuxer (e.g. JavaCV) for non-trivial codecs without touching
  *    the plumbing — schema, partitioning, and batch iteration
  *    (`mapPartitions`, the Scala analog of `mapInPandas` batch UDFs) are
  *    identical for all three modalities.
  */
object Multimodal {

  // ImageIO streams default to a FILE-backed cache (useCache=true): every
  // ImageIO.write / ImageIO.read / createImageOutputStream call creates,
  // writes, and deletes a temp file under java.io.tmpdir — per payload.
  // The codec paths here run over in-memory byte arrays at corpus scale
  // (one encode+decode per image, one per video FRAME in d124), so the
  // temp-file round trip is pure syscall overhead on the hot path
  // (optimization guide §1.2 step 2: per-task work). Memory-cached
  // streams hold only one image/frame at a time — bounded. The object
  // initializer runs once per JVM (driver and each executor) before any
  // task touches a codec method, all of which live on this object.
  ImageIO.setUseCache(false)

  /** Typed media column: payload + declared mime + decode products. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("payload", BinaryType),
    StructField("mime", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("duration_ms", LongType)))

  /** Deterministic dimensions for the synthesized PNG payloads (exposed so
    * tests can assert the decode round-trip against the generator).
    */
  def synthImageDims(id: Long): (Int, Int) =
    (64 + (id % 7).toInt * 16, 64 + (id % 5).toInt * 16)

  /** A real PNG byte payload: deterministic pixels from (doc_id, text), so
    * the same document always yields byte-identical bytes and
    * [[decodeMeta]]'s ImageIO path exercises an actual codec header.
    */
  private def synthPng(id: Long, text: String): Array[Byte] = {
    val (w, h) = synthImageDims(id)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val base = text.hashCode
    // one bulk setRGB: per-pixel setRGB pays a color-model conversion and
    // bounds check per call (thousands per image on the hot path)
    val pix = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        pix(y * w + x) = (base ^ (x * 31 + y)) & 0xffffff
        x += 1
      }
      y += 1
    }
    img.setRGB(0, 0, w, h, pix, 0, w)
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Sample rate of the synthesized WAV payloads. */
  val SynthSampleRate = 8000

  /** Deterministic PCM frame count for the synthesized WAV payloads
    * (exposed so tests can assert the decode round-trip).
    */
  def synthAudioFrames(id: Long): Int = 800 + (id % 7).toInt * 400

  /** A real WAV byte payload (RIFF header + 16-bit mono PCM) written by
    * `javax.sound.sampled`, deterministic in (doc_id, text) — so
    * [[decodeMeta]]'s audio path exercises an actual codec header.
    */
  private def synthWav(id: Long, text: String): Array[Byte] = {
    val n = synthAudioFrames(id)
    val base = text.hashCode
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val v = ((base ^ (i * 2654435761L)) % 32768).toShort
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(SynthSampleRate.toFloat, 16, 1, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, n.toLong)
    val out = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Deterministic display dims for the synthesized MP4 payloads. */
  def synthVideoDims(id: Long): (Int, Int) =
    (320 + (id % 4).toInt * 16, 240 + (id % 5).toInt * 16)

  /** Deterministic frame count for the synthesized MP4 payloads. */
  def synthVideoFrames(id: Long): Int = 48 + (id % 5).toInt * 24

  /** Movie timescale (units/second) written into the synthesized MP4s. */
  val SynthVideoTimescale = 600
  /** Nominal frame rate of the synthesized MP4s. */
  val SynthVideoFps = 24

  private def mp4Box(typ: String, payload: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
    bb.putInt(8 + payload.length)
    bb.put(typ.getBytes("US-ASCII"))
    bb.put(payload)
    bb.array()
  }

  /** A real (minimal) MP4 byte payload: valid ISO BMFF box structure with
    * ftyp + moov[mvhd + trak[tkhd + mdia[minf[stbl[stsz]]]]], deterministic
    * in doc_id — so [[decodeMeta]]'s video path parses an actual container
    * header.
    */
  private def synthMp4(id: Long): Array[Byte] = {
    val (w, h) = synthVideoDims(id)
    val frames = synthVideoFrames(id)
    val durationUnits = frames * SynthVideoTimescale / SynthVideoFps
    val mvhd = {
      val bb = java.nio.ByteBuffer.allocate(100)
      bb.putInt(0)                      // version/flags
      bb.putInt(0).putInt(0)            // ctime, mtime
      bb.putInt(SynthVideoTimescale)
      bb.putInt(durationUnits)
      bb.putInt(0x00010000)             // rate 1.0
      bb.putShort(0x0100.toShort)       // volume 1.0
      bb.position(bb.position() + 10)   // reserved
      Array(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        .foreach(bb.putInt)             // unity matrix
      bb.position(bb.position() + 24)   // pre_defined
      bb.putInt(2)                      // next_track_ID
      bb.array()
    }
    val tkhd = {
      val bb = java.nio.ByteBuffer.allocate(84)
      bb.putInt(0)                      // version/flags
      bb.putInt(0).putInt(0)            // ctime, mtime
      bb.putInt(1)                      // track_ID
      bb.putInt(0)                      // reserved
      bb.putInt(durationUnits)
      bb.position(bb.position() + 16)   // reserved, layer, group, volume, pad
      Array(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        .foreach(bb.putInt)
      bb.putInt(w << 16).putInt(h << 16) // 16.16 fixed display dims
      bb.array()
    }
    val stsz = {
      val bb = java.nio.ByteBuffer.allocate(12)
      bb.putInt(0)                      // version/flags
      bb.putInt(1024)                   // constant sample_size (no table)
      bb.putInt(frames)                 // sample_count
      bb.array()
    }
    val stbl = mp4Box("stbl", mp4Box("stsz", stsz))
    val mdia = mp4Box("mdia", mp4Box("minf", stbl))
    val trak = mp4Box("trak", mp4Box("tkhd", tkhd) ++ mdia)
    val moov = mp4Box("moov", mp4Box("mvhd", mvhd) ++ trak)
    val ftyp = mp4Box("ftyp",
      "isom".getBytes("US-ASCII") ++ Array[Byte](0, 0, 2, 0) ++
        "isom".getBytes("US-ASCII"))
    ftyp ++ moov
  }

  /** Attach a binary media payload to each document: image rows get a real
    * synthesized PNG, audio rows a real synthesized WAV, video rows a real
    * synthesized minimal MP4 (in production these columns come from the
    * lakehouse as real media bytes — the pipeline shape is identical).
    */
  def attachPayload(docs: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType),
      StructField("mime", StringType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    graft.ops.Spread.byKey(docs.select("doc_id", "text"), col("doc_id"))
      .mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val text = r.getString(1)
        id % 3 match {
          case 0 => Row(id, synthPng(id, text), "image/png")
          case 1 => Row(id, synthWav(id, text), "audio/wav")
          case _ => Row(id, synthMp4(id), "video/mp4")
        }
      }
    }(enc)
  }

  /** Header-only audio metadata via `javax.sound.sampled` — frame count and
    * duration from the RIFF/WAV header, never the sample data. Returns None
    * on an undecodable payload.
    */
  private def readAudioMeta(payload: Array[Byte]): Option[(Int, Long)] =
    try {
      val aff = AudioSystem.getAudioFileFormat(
        new ByteArrayInputStream(payload))
      val frames = aff.getFrameLength
      val rate = aff.getFormat.getFrameRate
      if (frames <= 0 || rate <= 0) None
      else Some((frames, frames * 1000L / rate.toLong))
    } catch { case _: Exception => None }

  /** Header-only video metadata via a minimal ISO BMFF (MP4) box walk:
    * mvhd → timescale+duration, tkhd → display dims, stsz → frame count.
    * Returns None on anything that does not parse as valid box structure.
    */
  private def readVideoMeta(payload: Array[Byte])
      : Option[(Int, Int, Int, Long)] =
    try {
      val bb = java.nio.ByteBuffer.wrap(payload)
      var timescale, w, h, frames = -1
      var duration = -1L
      // depth-bounded: a hostile payload nesting thousands of 8-byte
      // container boxes would otherwise StackOverflowError (an Error, not
      // an Exception — the catch below would not honor the null-metadata
      // contract). Real MP4 container nesting is ~6 levels; 16 is generous.
      val MaxDepth = 16
      def walk(start: Int, end: Int, depth: Int): Unit = {
        if (depth > MaxDepth) return
        var pos = start
        while (pos + 8 <= end) {
          val size = bb.getInt(pos)
          if (size < 8 || pos + size > end) return
          val typ = new String(payload, pos + 4, 4, "US-ASCII")
          typ match {
            case "moov" | "trak" | "mdia" | "minf" | "stbl" =>
              walk(pos + 8, pos + size, depth + 1)
            case "mvhd" =>
              // version-1 boxes carry 64-bit create/modify times, shifting
              // every later field by 8 bytes; reading v1 at v0 offsets
              // yields plausible-but-wrong numbers, not a parse failure
              if (bb.get(pos + 8) == 0) {
                timescale = bb.getInt(pos + 8 + 12)
                duration = bb.getInt(pos + 8 + 16).toLong
              } else {
                timescale = bb.getInt(pos + 8 + 20)
                duration = bb.getLong(pos + 8 + 24)
              }
            case "tkhd" =>
              // v1: +8 for the wide times, +4 for the 64-bit duration
              val off = if (bb.get(pos + 8) == 0) 0 else 12
              w = bb.getInt(pos + 8 + 76 + off) >>> 16
              h = bb.getInt(pos + 8 + 80 + off) >>> 16
            case "stsz" =>
              frames = bb.getInt(pos + 8 + 8)
            case _ => ()
          }
          pos += size
        }
      }
      walk(0, payload.length, 0)
      if (timescale <= 0 || duration < 0 || w <= 0 || h <= 0 || frames < 0)
        None
      else Some((w, h, frames, duration * 1000L / timescale))
    } catch { case _: Exception => None }

  /** Header-only image dimensions via an ImageIO reader — reads the codec
    * header, never decompresses pixels. Returns null on an undecodable
    * payload.
    */
  private def readImageDims(payload: Array[Byte]): Option[(Int, Int)] = {
    // stream creation itself can throw (useCache writes to java.io.tmpdir)
    // or return null (crippled IIORegistry) — both must hit the null-
    // metadata contract, not kill the task, so everything sits in the try
    var iis: javax.imageio.stream.ImageInputStream = null
    try {
      iis = ImageIO.createImageInputStream(new ByteArrayInputStream(payload))
      if (iis == null) return None
      val readers = ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val reader = readers.next()
        try {
          reader.setInput(iis)
          Some((reader.getWidth(0), reader.getHeight(0)))
        } finally reader.dispose()
      }
    } catch {
      case _: Exception => None
    } finally if (iis != null) iis.close()
  }

  /** Decode metadata for every payload — batch-iterating mapPartitions (one
    * decoder instance per partition, like a pandas-batch UDF). All three
    * modalities are REALLY decoded header-only (ImageIO for images,
    * javax.sound for WAV, the ISO BMFF box walk for MP4); an undecodable
    * payload yields null metadata — the corrupt-input marker — never fake
    * numbers.
    */
  def decodeMeta(withPayload: DataFrame): DataFrame = {
    val outSchema = StructType(
      StructField("doc_id", LongType) +: mediaSchema.fields.toSeq)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    withPayload.select("doc_id", "payload", "mime").mapPartitions { rows =>
      // per-partition decoder setup happens here (codec init, model load...)
      rows.map { r =>
        // positional access: rows from an upstream mapPartitions stage are
        // schema-less GenericRows, and the select above fixes the order
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        val mime = r.getString(2)
        if (mime.startsWith("image/")) {
          readImageDims(payload) match {
            case Some((w, h)) => Row(id, payload, mime, w, h, 1, 0L)
            case None => Row(id, payload, mime, null, null, null, null)
          }
        } else if (mime.startsWith("audio/")) {
          // audio has no spatial dims: width/height are null by contract
          readAudioMeta(payload) match {
            case Some((frames, dur)) =>
              Row(id, payload, mime, null, null, frames, dur)
            case None => Row(id, payload, mime, null, null, null, null)
          }
        } else {
          readVideoMeta(payload) match {
            case Some((w, h, frames, dur)) =>
              Row(id, payload, mime, w, h, frames, dur)
            case None => Row(id, payload, mime, null, null, null, null)
          }
        }
      }
    }(enc)
  }

  /** Resize stage: pure column arithmetic over decoded metadata (a real
    * resize would transform payload in the same mapPartitions shape as
    * decodeMeta).
    */
  def resizePlan(decoded: DataFrame, maxDim: Int): DataFrame = {
    val scale = least(lit(1.0),
      lit(maxDim) / greatest(col("width"), col("height")))
    decoded
      .withColumn("out_width", floor(col("width") * scale).cast("int"))
      .withColumn("out_height", floor(col("height") * scale).cast("int"))
  }

  /** Feature extraction: a fixed-dim float embedding per payload, produced
    * in the same batched mapPartitions shape as [[decodeMeta]] (per-partition
    * model load, then row-at-a-time inference). The embedding itself is the
    * declared STUB — digest-derived deterministic values, L2-normalized —
    * but its schema (`Array[Float]`, same as the embeddings table) means the
    * output plugs directly into the VectorOps family (cosine top-k, LSH
    * buckets, IVF ANN) with no adaptation.
    *
    * Values come from counter-mode expansion of the payload's full MD5
    * digest (block j = MD5(digest ++ j), 4 ints per block): two payloads get
    * the same embedding only on an MD5 collision. A PRNG seeded from the
    * digest would be weaker — java.util.Random keeps only the low 48 seed
    * bits, and even a full 64-bit generator birthday-collides around 2^32
    * payloads, handing downstream dedup bit-identical embeddings for
    * unrelated documents.
    */
  def featureExtract(withPayload: DataFrame, dim: Int = 16): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    withPayload.select("doc_id", "payload").mapPartitions { rows =>
      // per-partition model initialization happens here
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](1)
        md.reset()
        val digest = md.digest(payload)
        val raw = new Array[Float](dim)
        var k = 0
        var block = 0
        while (k < dim) {
          md.reset()
          md.update(digest)
          // full 4-byte counter: a single byte would cycle after 256 blocks,
          // making dims beyond 1024 a periodic copy of the first 1024
          md.update(java.nio.ByteBuffer.allocate(4).putInt(block).array())
          val bb = java.nio.ByteBuffer.wrap(md.digest())
          var i = 0
          while (i < 4 && k < dim) {
            // a signed 32-bit int scaled into [-0.5, 0.5)
            raw(k) = (bb.getInt() / 4294967296.0).toFloat
            i += 1
            k += 1
          }
          block += 1
        }
        val norm = math.sqrt(raw.map(x => x.toDouble * x).sum).toFloat
        val unit = if (norm == 0f) raw else raw.map(_ / norm)
        Row(r.getLong(0), unit.toSeq)
      }
    }(enc)
  }

  /** Class modulus for [[imageDedupPayload]]: docs sharing doc_id mod
    * this value render near-identical images (same dims, same base color
    * pattern, a small per-doc perturbation) — the duplicate generator for
    * d98, playing the role syntheticUrl plays for d93.
    */
  val ImageDupClasses = 150

  /** Deterministic pixel-generator parameters for one document — the
    * shared contract between the PNG synthesizer, the aHash spec twin,
    * and the DuckDB oracle. Returns (base, w, h):
    *  - cls = doc_id % [[ImageDupClasses]];
    *  - base = 24-bit md5 draw on "img:cls" XOR a per-doc perturbation
    *    (((doc_id div 150) % 8)·9 — up to 6 low blue bits) — same class ⇒
    *    same image up to a small blue shift (a near-duplicate at varying
    *    Hamming distance), same perturbation too ⇒ byte-identical image
    *    (an exact duplicate);
    *  - w = 32 + (cls%5)·8, h = 32 + (cls%3)·8 — always multiples of 8,
    *    so the 8×8 aHash grid divides evenly (integer-exact blocks).
    * pixel(x, y) = (base XOR ((x·31 + y)·2654435761 & 0xFFFFFF)) — the
    * Knuth multiplicative scramble spreads pixel energy across all 24
    * bits, so DIFFERENT classes get near-independent hashes (cross-class
    * Hamming≤3 collisions are rare) while the XOR perturbation keeps
    * same-class images genuinely near. All arithmetic fits
    * a 64-bit long exactly in every engine (x·31+y ≤ ~2000, ×2654435761
    * < 2^43).
    */
  def imageGenParams(docId: Long): (Int, Int, Int) = {
    val cls = (docId % ImageDupClasses).toInt
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"img:$cls".getBytes("UTF-8"))
      .take(3).map(b => f"$b%02x").mkString
    val base24 = Integer.parseInt(hex, 16)
    val pert = ((docId / ImageDupClasses) % 8).toInt * 9
    (base24 ^ pert, 32 + (cls % 5) * 8, 32 + (cls % 3) * 8)
  }

  /** One real PNG per document from [[imageGenParams]]'s deterministic
    * pixels — the d98 input (every doc gets an image; production reads
    * the bytes from the lakehouse, the pipeline shape is identical).
    */
  def imageDedupPayload(docs: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    // spread: the synth+encode work below is CPU-per-row dense and would
    // otherwise run on the 1-2 partitions a small corpus file scans as
    graft.ops.Spread.byKey(docs.select("doc_id"), col("doc_id"))
      .mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val (base, w, h) = imageGenParams(id)
        val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        val pix = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            pix(y * w + x) =
              (base ^ (((x * 31 + y) * 2654435761L) & 0xffffff)).toInt
            x += 1
          }
          y += 1
        }
        img.setRGB(0, 0, w, h, pix, 0, w)
        val out = new ByteArrayOutputStream()
        ImageIO.write(img, "png", out)
        Row(id, out.toByteArray)
      }
    }(enc)
  }

  /** 64-bit average-hash over the REAL decoded pixels: ImageIO decodes
    * the full PNG (not header-only — this op needs pixels), grayscale =
    * r+g+b (a pure sum; aHash compares against the mean, so scale drops
    * out), the 8×8 grid averages blocks, and bit(by, bx) = 1 iff
    * blockSum·64 > totalSum — integer-exact (all 64 blocks hold equal
    * pixel counts because w, h are multiples of 8), so the DuckDB oracle
    * reproduces the hash bit for bit from the generator formula with no
    * float anywhere. Per-partition batch iteration like [[decodeMeta]];
    * an undecodable payload yields a null hash (the corrupt-input
    * marker).
    */
  def aHash64(withPayload: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("ahash", LongType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    withPayload.select("doc_id", "payload").mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val img =
          try ImageIO.read(new ByteArrayInputStream(r.getAs[Array[Byte]](1)))
          catch { case _: Exception => null }
        if (img == null || img.getWidth % 8 != 0 || img.getHeight % 8 != 0)
          Row(id, null)
        else {
          val w = img.getWidth
          val h = img.getHeight
          val bw = w / 8
          val bh = h / 8
          val sums = new Array[Long](64)
          var total = 0L
          // one bulk getRGB: the decoded PNG is typically TYPE_3BYTE_BGR,
          // where per-pixel getRGB converts through the color model per
          // call — the bulk form converts a full row at a time
          val pix = img.getRGB(0, 0, w, h, null, 0, w)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val p = pix(y * w + x) & 0xffffff
              val gray =
                ((p >> 16) & 255) + ((p >> 8) & 255) + (p & 255)
              sums((y / bh) * 8 + x / bw) += gray
              total += gray
              x += 1
            }
            y += 1
          }
          var ahash = 0L
          var b = 0
          while (b < 64) {
            if (sums(b) * 64 > total) ahash |= (1L << b)
            b += 1
          }
          Row(id, ahash)
        }
      }
    }(enc)
  }

  /** Rotate-left of a full 64-bit value. */
  private def rot64(c: Column, r: Int): Column =
    if (r == 0) c
    else shiftleft(c, r).bitwiseOR(shiftrightunsigned(c, 64 - r))

  /** Max DISTINCT hash values admitted per rotated-window bucket before
    * the bucket is declared HOT and excluded from cross-hash candidate
    * generation — the d25 ShingleDfCap convention applied to the Hamming
    * family. Occupancy counts distinct hash VALUES, never documents:
    * exact-duplicate classes (the dominant real-world skew — every
    * re-upload of one image carries the same 64 bits) collapse to ONE
    * bucket row and pair through the bucket-free identical-hash path, so
    * only genuinely-distinct hashes crowding one 16-bit window (near-black
    * images all hashing ≈0, an adversarial corpus) can trip the cap.
    * Recall under the cap: a qualifying pair (Hamming ≤ 3) is lost only
    * if EVERY one of its clean windows is hot — with ≤3 dirty windows it
    * has ≥1 clean window, and ≥2 clean (both needing to be hot) when
    * Hamming ≤ 2; HammingCapSpec quantifies the loss on a skewed
    * synthetic corpus. At 2^16 cells per window, cap 1024 admits up to
    * ~64M distinct hashes per window table before ANY loss is possible.
    */
  val HammingBucketCap = 1024

  /** The 4 rotated-window bucket rows of each DISTINCT hash value —
    * (ahash, tb), tb = window·2^16 + the window's 16 bits (one flat key,
    * so the 100 TB serving layout buckets and prunes on a single column).
    * Windows are the 16-bit prefixes at rotations 0/16/32/48: disjoint,
    * covering every bit exactly once — a Hamming≤3 hash pair has ≥1 clean
    * window and is guaranteed to share that window's bucket (pigeonhole).
    */
  private[graft] def distinctHashBuckets(hashes: DataFrame): DataFrame = {
    val windows = (0 until 4).map { t =>
      lit(t * 65536L) +
        shiftrightunsigned(rot64(col("ahash"), 16 * t), 48)
    }
    hashes.select(col("ahash")).distinct()
      .select(col("ahash"), explode(array(windows: _*)).as("tb"))
  }

  /** HOT cells of a distinct-hash bucket-row table: buckets holding more
    * than `cap` distinct hash values. At most |bucket rows|/cap cells —
    * a small table, so the exclusion anti-join broadcasts (the d25 flip:
    * join the rare HOT side, not the cold majority). The table carries a
    * [[HotCellSignal]] observation: capped candidate generation is
    * DETECTABLE (warn log + process counters) without the oracle harness,
    * at zero extra scan cost — the metric rides the exclusion anti-join's
    * own execution.
    */
  private def hotBuckets(buckets: DataFrame, cap: Int): DataFrame = {
    val hot = buckets.groupBy("tb").agg(count(lit(1)).as("occ"))
      .filter(col("occ") > cap)
    HotCellSignal.attach(hot, count(lit(1)), sum("occ")).select("tb")
  }

  /** All pairs at Hamming distance ≤ `maxHamming` over a (doc_id, ahash)
    * table, ordered by (d1, d2): [[incrementalHammingPairs]] with an empty
    * prior, where every pair is new. Its exact, bucket and expansion steps
    * then reduce to the one-shot's: identical-hash pairs by equi-join on
    * the value (bucket-free, quadratic only in duplicate-class size, the
    * irreducible output), cross-hash pairs over the DISTINCT hash values'
    * rotated-window cells ([[distinctHashBuckets]]), capped per cell
    * ([[HammingBucketCap]]) and expanded back to doc pairs. The same two
    * paths, the same null contract and the same [[HotCellSignal]] apply.
    * Shared by the image (d98) and audio (d102) near-dup ops and d118; the
    * DuckDB oracles brute-force ground truth, so recall is checked, not
    * assumed.
    */
  private[multimodal] def hammingPairs(hashes: DataFrame, maxHamming: Int,
      bucketCap: Int = HammingBucketCap,
      localRowBound: SparkContext => Long = hammingFoldRowBound): DataFrame =
    incrementalHammingPairs(hashes.filter(lit(false)), hashes, maxHamming,
      bucketCap, localRowBound).orderBy("d1", "d2")

  /** Land a compacted (doc_id, ahash) hash state as the Hamming family's
    * 100 TB serving layout: TWO bucketed tables — member rows bucketed on
    * `ahash` (the identical-hash probe's join key) and the distinct-hash
    * bucket rows bucketed on `tb` (the cross-hash candidate join's key) —
    * so a batch probe ([[probeHammingBucketedState]]) never exchanges the
    * accumulated state and bucket-prunes both keyed scans. One compaction
    * job writes both tables from the same input, in OVERWRITE mode — this
    * is a fresh full rewrite by contract, so a re-run maintenance job
    * REPLACES the serving tables instead of doubling member rows and
    * occupancy counts (append here would silently inflate every
    * [[probeHammingBucketedState]] cap verdict on the second run). The
    * `batch=N` sink layout stays the append-only source of truth; a
    * compaction that crashes between the two table writes is healed by
    * re-running it.
    */
  def writeHammingBucketedState(hashes: DataFrame, memberTable: String,
      memberPath: String, bucketTable: String, bucketPath: String,
      nBuckets: Int = 32): Unit = {
    hashes.select(col("doc_id"), col("ahash")).write.mode("overwrite")
      .bucketBy(nBuckets, "ahash").sortBy("ahash")
      .option("path", memberPath).saveAsTable(memberTable)
    distinctHashBuckets(hashes).write.mode("overwrite")
      .bucketBy(nBuckets, "tb").sortBy("tb")
      .option("path", bucketPath).saveAsTable(bucketTable)
  }

  /** Probe a [[writeHammingBucketedState]] pair of tables with a new
    * (doc_id, ahash) batch — [[incrementalHammingPairs]]' exact semantics
    * re-keyed onto the serving layout (CompactionSpec asserts output
    * identity, so the two cannot silently drift):
    *
    *  - the identical-hash probe prunes the member scan to the batch's
    *    own hash values (a literal isin Spark bucket-prunes on);
    *  - occupancy and cross-hash candidates prune the bucket table to the
    *    batch's ≤ 4×|batch distinct hashes| touched cells — a cell the
    *    batch never touches can produce no candidate this step, so its
    *    occupancy is irrelevant (the cap verdict is identical);
    *  - member expansion splits per side (batch×state / state×batch /
    *    batch×batch), so every state-side join is keyed on the bucketed
    *    column and never exchanges.
    *
    * Both driver-side collects are bounded by the batch (the
    * probeCidBucketedState contract). The state must not contain the
    * batch's own doc_ids.
    *
    * `tombstones` carries doc_ids deleted SINCE the last compaction: the
    * broadcast anti-join runs on every member-table read, so a deleted
    * doc can never appear in a pair. The BUCKET table is left as written
    * — its rows are per distinct hash, not per doc, so a dead doc's hash
    * can only make occupancy conservative (a cell may look hot and
    * suppress candidates, never resurrect a deleted doc); the periodic
    * [[graft.streaming.StreamOps.compactHammingState]] rebuilds both
    * tables from survivors and restores exact occupancy.
    */
  def probeHammingBucketedState(s: SparkSession, memberTable: String,
      bucketTable: String, batch: DataFrame, maxHamming: Int = 3,
      bucketCap: Int = HammingBucketCap,
      tombstones: Option[DataFrame] = None): DataFrame = {
    require(maxHamming <= 3,
      s"exact recall needs maxHamming <= 3 with 4 disjoint windows")
    import graft.ops.CacheRegistry
    def liveMembers: DataFrame = tombstones.fold(s.table(memberTable))(t =>
      s.table(memberTable)
        .join(broadcast(t.select("doc_id")), Seq("doc_id"), "left_anti"))
    val b = CacheRegistry.harness.add(
      batch.select(col("doc_id"), col("ahash")).persist())
    val batchHashes = b.select("ahash").distinct().collect()
      .map(_.getLong(0))
    val exactState = liveMembers
      .filter(col("ahash").isin(batchHashes: _*))
    val exactSelf = b.as("a")
      .join(b.as("b"),
        col("a.ahash") === col("b.ahash") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        lit(0L).as("hamming"))
    val exactCross = b.as("a")
      .join(exactState.as("b"),
        col("a.ahash") === col("b.ahash") && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"),
        lit(0L).as("hamming"))
    val nb = CacheRegistry.harness.add(distinctHashBuckets(b).persist())
    val touched = nb.select("tb").distinct().collect().map(_.getLong(0))
    val pbTouched = s.table(bucketTable).filter(col("tb").isin(touched: _*))
    // occupancy of a touched cell = stored hashes in it + batch hashes NEW
    // to the state (a value on both sides is one distinct hash, counted
    // once — via its stored row)
    val nbNew = nb.join(exactState.select("ahash").distinct(),
      Seq("ahash"), "left_anti")
    val hot = hotBuckets(
      pbTouched.select("ahash", "tb").unionByName(nbNew), bucketCap)
    val coldNb = nb.join(hot, Seq("tb"), "left_anti")
    val coldPbOnly = pbTouched
      .join(nb.select("ahash").distinct(), Seq("ahash"), "left_anti")
      .join(hot, Seq("tb"), "left_anti")
    val selfHp = coldNb.as("a")
      .join(coldNb.as("b"),
        col("a.tb") === col("b.tb") && col("a.ahash") < col("b.ahash"))
      .select(col("a.ahash").as("h1"), col("b.ahash").as("h2"))
    val crossHp = coldNb.as("a")
      .join(coldPbOnly.as("b"), col("a.tb") === col("b.tb"))
      .select(least(col("a.ahash"), col("b.ahash")).as("h1"),
        greatest(col("a.ahash"), col("b.ahash")).as("h2"))
    val hashPairs = CacheRegistry.harness.add(selfHp.unionByName(crossHp)
      .withColumn("hamming",
        bit_count(col("h1").bitwiseXOR(col("h2"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .persist())
    def bm(h: String, dc: String): DataFrame =
      b.select(col("doc_id").as(dc), col("ahash").as(h))
    def sm(h: String, dc: String): DataFrame =
      liveMembers.select(col("doc_id").as(dc), col("ahash").as(h))
    val exp = hashPairs.join(bm("h1", "da"), "h1").join(sm("h2", "db"), "h2")
      .unionByName(
        hashPairs.join(sm("h1", "da"), "h1").join(bm("h2", "db"), "h2"))
      .unionByName(
        hashPairs.join(bm("h1", "da"), "h1").join(bm("h2", "db"), "h2"))
      .select(least(col("da"), col("db")).as("d1"),
        greatest(col("da"), col("db")).as("d2"), col("hamming"))
    exactSelf.unionByName(exactCross).unionByName(exp)
  }

  /** Land a compacted (doc_id, fp, sz) frame state bucketed on `fp` — the
    * clip-overlap family's serving layout. `sz` (the doc's total frame
    * count) is computed ONCE at compaction and stored, so the probe never
    * windows over the accumulated state. Overwrite by contract (a fresh
    * full rewrite): a re-run compaction replaces the table — appended
    * duplicate frame rows would inflate shared-frame counts and flip
    * d103-family containment verdicts.
    */
  def writeFrameBucketedState(sized: DataFrame, tableName: String,
      path: String, nBuckets: Int = 32): Unit =
    sized.select(col("doc_id"), col("fp"), col("sz")).write.mode("overwrite")
      .bucketBy(nBuckets, "fp").sortBy("fp")
      .option("path", path).saveAsTable(tableName)

  /** Probe a [[writeFrameBucketedState]] table with a new batch of
    * (doc_id, fp) frame rows — [[incrementalClipPairs]]' exact verdict on
    * the serving layout: the state scan prunes to the batch's own frame
    * fingerprints (every shared-frame row's fp is by definition in the
    * batch), sizes come from the stored `sz`, and the fp-keyed join never
    * exchanges the state side. Same whole-item contract as the sink.
    * `tombstones` carries doc_ids deleted since the last compaction
    * (broadcast anti-join on the pruned scan — stored `sz` values of
    * SURVIVING docs are per-doc facts, unaffected by other docs'
    * deletes); compaction applies the same deletes physically.
    */
  def probeFrameBucketedState(s: SparkSession, tableName: String,
      batchFrames: DataFrame, tombstones: Option[DataFrame] = None)
      : DataFrame = {
    val nb = sizedFrames(batchFrames)
    val batchFps = batchFrames.select("fp").distinct().collect()
      .map(_.getString(0))
    val pruned = s.table(tableName).filter(col("fp").isin(batchFps: _*))
    val state = tombstones.fold(pruned)(t =>
      pruned.join(broadcast(t.select("doc_id")), Seq("doc_id"), "left_anti"))
    containmentVerdict(
      selfSharedFrames(nb).unionByName(crossSharedFrames(nb, state)))
  }

  /** Near-dup pairs of one incremental step over perceptual hashes: every
    * pair at Hamming distance ≤ `maxHamming` with at least one member in
    * `batch` (prior-vs-prior pairs were emitted by earlier steps), as
    * (d1 < d2, hamming). Two populations:
    *
    *  1. identical-hash pairs (Hamming 0): batch with batch, and batch with
    *     prior, matched on the hash value — bucket-free and skew-proof;
    *  2. cross-hash pairs (Hamming 1..max): the DISTINCT hash values of
    *     prior ∪ batch in their four rotated 16-bit window cells (disjoint
    *     windows covering every bit once, so a Hamming ≤ 3 pair shares at
    *     least one clean window: pigeonhole, exact recall). A cell holding
    *     more than `bucketCap` distinct hashes is hot and pairs nothing;
    *     in each cold cell, batch hashes pair with each other and with the
    *     prior-only hashes. The hash pairs expand to doc pairs with ≥ 1
    *     batch member.
    *
    * Two paths, one answer (as a multiset). Both sides are flagged as
    * (doc_id, ahash, nw) and checkpointed once, and that checkpoint's own
    * job counts the rows (an [[org.apache.spark.sql.Observation]], so the
    * count costs no job):
    *  - at most `localRowBound` rows ([[hammingFoldRowBound]] by default,
    *    storage memory / (96 B per row × 4): 4.5M rows in a 3 GiB driver):
    *    [[HammingFold]] folds every row in ONE executor task and emits the
    *    pairs from an iterator, inside the caller's job. One job per call,
    *    the checkpoint; at the sizes of the suite's hash tables the fixed
    *    per-job cost of the distributed joins, not the data, sets latency;
    *  - above it, or when the count does not arrive: the distributed bucket
    *    join over the checkpoint, the upstream plan still run once.
    * Both paths attach a [[HotCellSignal]] observation to their own job.
    *
    * Input contract, both paths: a row with a null `doc_id` or a null
    * `ahash` is no row. It is dropped first, so it pairs with nothing and
    * counts toward no cell's occupancy. Doc ids are integral: the fold
    * reads them as `long` and the output casts them back to the input's
    * type. `prior` must not contain the batch's own doc_ids; the
    * ids-differ guard degrades an accidental overlap to missed exact pairs,
    * never corrupt self-pairs.
    *
    * Occupancy is computed over the distinct hashes of prior ∪ batch —
    * the same cell counts the one-shot sees — so multi-batch == one-shot
    * holds exactly while no cell crosses the cap mid-stream. A cell that
    * turns hot in a LATER step stops generating new candidates from then
    * on but already-emitted pairs are never retracted (the cap is
    * monotone best-effort, like every append-only dedup state here).
    *
    * Per-batch cost: hash ONLY the batch (one decode each); prior hashes
    * are 8 bytes per doc. At scale the state is served from the bucketed
    * layout instead ([[probeHammingBucketedState]]), whose probe touches
    * ≤ 4×|batch distinct hashes| cells.
    */
  def incrementalHammingPairs(prior: DataFrame, batch: DataFrame,
      maxHamming: Int = 3, bucketCap: Int = HammingBucketCap,
      localRowBound: SparkContext => Long = hammingFoldRowBound)
      : DataFrame = {
    require(maxHamming <= 3,
      s"exact recall needs maxHamming <= 3 with 4 disjoint windows")
    import graft.ops.{CacheRegistry, TextOps}
    def flagged(side: DataFrame, nw: Boolean): DataFrame =
      side.select(col("doc_id"), col("ahash"), lit(nw).as("nw"))
        .filter(col("doc_id").isNotNull && col("ahash").isNotNull)
    val counted = Observation()
    // one eager localCheckpoint runs the callers' hash plans exactly once
    // and counts the rows in the same job
    val (f0, fRdd) = TextOps.truncate(
      flagged(prior, nw = false).unionByName(flagged(batch, nw = true))
        .observe(counted, count(lit(1)).as("rows")),
      eager = true)
    // the checkpoint backs the returned plan: release it with the harness,
    // once the caller's action has run
    CacheRegistry.harness.addRdd(fRdd)
    val sc = f0.sparkSession.sparkContext
    val f = if (fRdd.getNumPartitions > sc.defaultParallelism)
      f0.coalesce(sc.defaultParallelism) else f0
    val idType = f.schema("doc_id").dataType
    // Spark completes an observation from the listener bus, after the
    // checkpoint's action has returned: wait for it, bounded
    val rows =
      try {
        Await.ready(counted.future, TextOps.CountWait)
        Some(counted.get.getOrElse("rows", 0L).asInstanceOf[Long])
      } catch { case _: TimeoutException => None }
    val pairs =
      if (rows.exists(_ <= localRowBound(sc))) {
        val in = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
          Encoders.scalaBoolean)
        val out = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
          Encoders.scalaLong)
        val folded = f
          .select(col("doc_id").cast("long"), col("ahash").cast("long"),
            col("nw"))
          .as(in).coalesce(1)
          .mapPartitions { it =>
            val fold = new HammingFold(maxHamming, bucketCap)
            it.foreach { case (d, h, nw) => fold.add(d, h, nw) }
            fold.pairs
          }(out)
          .toDF("d1", "d2", "hamming")
        // the fold's first row is its marker: (hot cells, their hashes, -1)
        def marked(c: Column): Column =
          sum(when(col("hamming") < 0, c))
        HotCellSignal.attach(folded, marked(col("d1")), marked(col("d2")))
          .filter(col("hamming") >= 0)
      } else distributedHammingPairs(f, maxHamming, bucketCap)
    pairs.select(col("d1").cast(idType).as("d1"),
      col("d2").cast(idType).as("d2"), col("hamming"))
  }

  /** The distributed path of [[incrementalHammingPairs]] over the flagged
    * (doc_id, ahash, nw) checkpoint `f`: equi-joins for the exact pairs,
    * the bucket join for the cross pairs, member joins for the expansion.
    */
  private def distributedHammingPairs(f: DataFrame, maxHamming: Int,
      bucketCap: Int): DataFrame = {
    import graft.ops.CacheRegistry
    val batch = f.filter(col("nw")).select("doc_id", "ahash")
    val prior = f.filter(!col("nw")).select("doc_id", "ahash")
    val exactSelf = batch.as("a")
      .join(batch.as("b"),
        col("a.ahash") === col("b.ahash") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        lit(0L).as("hamming"))
    val exactCross = batch.as("a")
      .join(prior.as("b"),
        col("a.ahash") === col("b.ahash") && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"),
        lit(0L).as("hamming"))
    // ONE pass over the flagged rows builds the side-flagged distinct
    // table (in_new = value occurs in the batch, in_old = in prior) and
    // its 4 bucket rows per hash; persisted (compact — 4 rows per
    // distinct hash) because it feeds the occupancy aggregation, its
    // anti-join, and both candidate join sides. min/max over booleans are
    // AND/OR, so the side flags come out of the same partial aggregation
    // that dedups the hash values.
    val windows = (0 until 4).map { t =>
      lit(t * 65536L) +
        shiftrightunsigned(rot64(col("ahash"), 16 * t), 48)
    }
    val bucketRows = CacheRegistry.harness.add(
      f.groupBy("ahash")
        .agg(max(col("nw")).as("in_new"), (!min(col("nw"))).as("in_old"))
        .select(col("ahash"), col("in_new"), col("in_old"),
          explode(array(windows: _*)).as("tb"))
        .persist())
    val hot = hotBuckets(bucketRows, bucketCap)
    val cold = bucketRows.join(hot, Seq("tb"), "left_anti")
    val coldNb = cold.filter(col("in_new"))
    // prior-ONLY hash values: a value present on both sides pairs through
    // the batch self-join; keeping it on the prior side too would emit
    // its hash pairs twice
    val coldPbOnly = cold.filter(col("in_old") && !col("in_new"))
    val selfHp = coldNb.as("a")
      .join(coldNb.as("b"),
        col("a.tb") === col("b.tb") && col("a.ahash") < col("b.ahash"))
      .select(col("a.ahash").as("h1"), col("b.ahash").as("h2"))
    val crossHp = coldNb.as("a")
      .join(coldPbOnly.as("b"), col("a.tb") === col("b.tb"))
      .select(least(col("a.ahash"), col("b.ahash")).as("h1"),
        greatest(col("a.ahash"), col("b.ahash")).as("h2"))
    // persist(): the hash-level pair set feeds both member-expansion joins
    val hashPairs = CacheRegistry.harness.add(selfHp.unionByName(crossHp)
      .withColumn("hamming",
        bit_count(col("h1").bitwiseXOR(col("h2"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .persist())
    // expansion with >= 1 batch member: the h1 member from the batch
    // against members anywhere, plus the h1 member from prior against h2
    // members in the batch — disjoint by the doc-disjointness contract,
    // and together exactly the step's new pairs
    val all = f.select("doc_id", "ahash")
    val expA = hashPairs
      .join(batch.select(col("doc_id").as("da"), col("ahash").as("h1")), "h1")
      .join(all.select(col("doc_id").as("db"), col("ahash").as("h2")), "h2")
    val expB = hashPairs
      .join(prior.select(col("doc_id").as("da"), col("ahash").as("h1")), "h1")
      .join(batch.select(col("doc_id").as("db"), col("ahash").as("h2")), "h2")
    val cross = expA.unionByName(expB)
      .select(least(col("da"), col("db")).as("d1"),
        greatest(col("da"), col("db")).as("d2"), col("hamming"))
    exactSelf.unionByName(exactCross).unionByName(cross)
  }

  /** Bytes of heap a [[HammingFold]] needs per row at its peak, measured
    * where it is worst: every row brings a new distinct hash, and the row
    * count has just passed a power of two, so every array has just
    * doubled. A fold of 4,194,305 rows with random distinct hashes (just
    * past 2^22) ran out of memory in a JVM at -Xmx360m and finished at
    * -Xmx370m (ParallelGC, JDK 17): 90–93 bytes per row, rounded up. That
    * fold took 7–8 s in its one task: with random hashes each cell holds
    * ~64 of them, and the candidate scan is quadratic in that occupancy.
    */
  private val HammingFoldBytesPerRow = 96L

  /** How far under the bound a fold stays: its arrays are plain heap,
    * outside Spark's memory accounting, and share the executor with the
    * cached blocks that storage memory holds.
    */
  private val HammingFoldSafety = 4L

  /** The largest row count (prior plus batch) [[incrementalHammingPairs]]
    * folds in one task: the smallest block manager's storage memory (the
    * driver's included) over [[HammingFoldBytesPerRow]] ×
    * [[HammingFoldSafety]]. Max, not remaining, memory: the choice of path
    * does not depend on what happens to be cached.
    */
  private[multimodal] def hammingFoldRowBound(sc: SparkContext): Long =
    sc.getExecutorMemoryStatus.values.map(_._1).min /
      (HammingFoldBytesPerRow * HammingFoldSafety)

  /** Two-batch incremental image dedup over the whole corpus — the d104
    * query: the d84 even/odd convention applied to the multimodal pillar.
    * Batch 1 hashes the even docs (self pairs only), batch 2 hashes the
    * odd docs and probes batch 1's ACCUMULATED hash state (old payloads
    * are never re-decoded — the per-doc hash is the mergeable state, 8
    * bytes per image); the union of the two batches' pair sets must
    * equal the one-shot [[d98ImageNearDup]] exactly, so the oracle is
    * deliberately d98's (the full-recompute SQL).
    */
  def d104IncrementalImageDedup(s: SparkSession, d: String): DataFrame = {
    import graft.ops.CacheRegistry
    val docs = graft.Tables.documents(s, d).select(col("doc_id"))
    val hashes = CacheRegistry.harness.add(
      aHash64(imageDedupPayload(docs)).filter(col("ahash").isNotNull)
        .persist())
    val b1 = hashes.filter(col("doc_id") % 2 === 0)
    val b2 = hashes.filter(col("doc_id") % 2 === 1)
    val empty = hashes.filter(lit(false))
    incrementalHammingPairs(empty, b1)
      .unionByName(incrementalHammingPairs(b1, b2))
      .orderBy("d1", "d2")
  }

  /** Image perceptual-hash near-dup — the d98 query, extending the dedup
    * family to the multimodal pillar: synthesize each doc's PNG, decode
    * it for REAL ([[aHash64]]'s ImageIO path), then find all pairs at
    * Hamming distance ≤ 3 via d27's rotated-prefix bucketing, 64-bit
    * edition: 4 tables keyed by the 16-bit prefix at rotations
    * 0/16/32/48. The four windows are DISJOINT and cover every bit
    * exactly once, so a Hamming≤3 pair has at most 3 dirty windows and
    * is GUARANTEED to share at least one bucket (pigeonhole — exact
    * recall, unlike d27's probabilistic overlap). Candidates from any
    * table, Hamming-refined map-side BEFORE the dedup shuffle, then
    * distinct — an equi-join per table, never all-pairs. The DuckDB
    * oracle recomputes the aHash analytically from the generator
    * contract ([[imageGenParams]]) and brute-forces the ground-truth
    * pair set — bucketing recall is therefore oracle-CHECKED, not
    * assumed.
    *
    * Scale: hashing is map-side (one decode per payload); the candidate
    * join is bounded by bucket occupancy (2^16 keyspace per table, ×4
    * candidate volume) exactly like d27; nothing is quadratic in corpus
    * size — only in duplicate-class size, the irreducible output.
    */
  def d98ImageNearDup(s: SparkSession, d: String): DataFrame = {
    import graft.ops.CacheRegistry
    val docs = graft.Tables.documents(s, d).select(col("doc_id"))
    // persist(): the one-row-per-doc hash table feeds both candidate
    // self-join sides (same finding as d25/d26/d27)
    val hashes = CacheRegistry.harness.add(
      aHash64(imageDedupPayload(docs)).filter(col("ahash").isNotNull)
        .persist())
    hammingPairs(hashes, 3)
  }

  /** Class modulus for [[audioDedupPayload]] — the audio analog of
    * [[ImageDupClasses]] (a different modulus, so audio and image
    * duplicate classes cut the corpus differently).
    */
  val AudioDupClasses = 130

  /** Deterministic PCM-generator parameters for one document — the
    * shared contract between the WAV synthesizer, the energy-hash spec
    * twin, and the DuckDB oracle. Returns (mult, pert, frames):
    *  - cls = doc_id % [[AudioDupClasses]];
    *  - mult = 2654435761 + 2·(24-bit md5 draw on "wav:cls") — an ODD
    *    class-keyed multiplier, so each class gets its own
    *    pseudo-random sample sequence (cross-class energy hashes are
    *    near-independent);
    *  - pert = ((doc_id div 130) % 8) << 7 — a per-doc XOR on sample
    *    bits 7-9: same class ⇒ near-identical signal (small Hamming),
    *    same pert too ⇒ byte-identical WAV (an exact duplicate);
    *  - frames = 1024 + (cls%4)·256 — always a multiple of 64, so the
    *    64-window energy grid divides evenly.
    * sample(i) = (((i·mult) & 0xFFFFFF) >> 8) XOR pert − 32768.
    * All arithmetic fits a 64-bit long exactly in every engine
    * (i·mult < 2^43).
    */
  def audioGenParams(docId: Long): (Long, Int, Int) = {
    val cls = (docId % AudioDupClasses).toInt
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"wav:$cls".getBytes("UTF-8"))
      .take(3).map(b => f"$b%02x").mkString
    val base24 = Integer.parseInt(hex, 16)
    val pert = (((docId / AudioDupClasses) % 8) << 7).toInt
    (2654435761L + 2L * base24, pert, 1024 + (cls % 4) * 256)
  }

  /** One real WAV per document (RIFF + 16-bit LE mono PCM via
    * `javax.sound.sampled`, like [[attachPayload]]'s audio arm) from
    * [[audioGenParams]]'s deterministic samples — the d102 input.
    */
  def audioDedupPayload(docs: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    // NOT spread (unlike the image/AVI twins): javax.sound's AudioSystem
    // serializes on a global provider lock, so this stage is
    // anti-scalable within a JVM — measured 1.22 s on 1 thread vs
    // 2.52 s on 32 for the same 5000 synth+decode round trips
    // (OPTIMIZATION_r19.md). Parallelizing it made d102/d111 2x slower.
    docs.select("doc_id").mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val (mult, pert, frames) = audioGenParams(id)
        val pcm = new Array[Byte](frames * 2)
        var i = 0
        while (i < frames) {
          val sRaw = ((i * mult) & 0xffffff) >> 8
          val v = ((sRaw ^ pert) - 32768).toShort
          pcm(2 * i) = (v & 0xff).toByte
          pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
          i += 1
        }
        val fmt = new AudioFormat(SynthSampleRate.toFloat, 16, 1, true, false)
        val ais = new AudioInputStream(
          new ByteArrayInputStream(pcm), fmt, frames.toLong)
        val out = new ByteArrayOutputStream()
        AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
        Row(id, out.toByteArray)
      }
    }(enc)
  }

  /** 64-bit energy hash over the REAL decoded PCM: `javax.sound` parses
    * the RIFF container and hands back the sample stream (WAV is
    * lossless, so the round trip is bit-exact), energy = |sample| per
    * frame, 64 equal windows, bit(k) = windowSum·64 > totalSum — the
    * audio twin of [[aHash64]]'s integer-exact block rule, so the
    * DuckDB oracle reproduces the hash bit for bit from the generator
    * formula. An undecodable payload yields a null hash.
    */
  def audioHash64(withPayload: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("ahash", LongType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    withPayload.select("doc_id", "payload").mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val pcm =
          try {
            val ais = AudioSystem.getAudioInputStream(
              new ByteArrayInputStream(r.getAs[Array[Byte]](1)))
            try ais.readAllBytes() finally ais.close()
          } catch { case _: Exception => null }
        val frames = if (pcm == null) 0 else pcm.length / 2
        if (frames == 0 || frames % 64 != 0) Row(id, null)
        else {
          val wlen = frames / 64
          val sums = new Array[Long](64)
          var total = 0L
          var i = 0
          while (i < frames) {
            val v = ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1) << 8)).toShort
            val e = math.abs(v.toLong)
            sums(i / wlen) += e
            total += e
            i += 1
          }
          var ahash = 0L
          var b = 0
          while (b < 64) {
            if (sums(b) * 64 > total) ahash |= (1L << b)
            b += 1
          }
          Row(id, ahash)
        }
      }
    }(enc)
  }

  /** Audio perceptual-hash near-dup — the d102 query, the audio member
    * of the dedup family (image d98's shape on the second modality):
    * synthesize each doc's WAV, decode the REAL PCM, energy-hash it,
    * and find all pairs at Hamming ≤ 3 via the shared
    * [[hammingPairs]] rotated-prefix bucketing (exact recall by
    * pigeonhole, oracle-checked against the brute-force ground truth
    * recomputed analytically from [[audioGenParams]]).
    */
  def d102AudioNearDup(s: SparkSession, d: String): DataFrame = {
    import graft.ops.CacheRegistry
    val docs = graft.Tables.documents(s, d).select(col("doc_id"))
    val hashes = CacheRegistry.harness.add(
      audioHash64(audioDedupPayload(docs)).filter(col("ahash").isNotNull)
        .persist())
    hammingPairs(hashes, 3)
  }

  /** Two-batch incremental AUDIO dedup — the d111 query. Nothing here is
    * audio-specific beyond the hash function: [[incrementalHammingPairs]]
    * is generic over any (doc_id, ahash) frame, so the d104 recipe (per-doc
    * 8-byte hashes ARE the mergeable state; old payloads never re-decoded)
    * transfers to the energy-hash family by substituting [[audioHash64]]
    * for [[aHash64]]. Oracle is deliberately the one-shot
    * [[d102AudioNearDup]] SQL (full-recompute, the d84/d104 convention) —
    * the batch-by-batch state must reproduce it bit for bit. With d104 +
    * d111 every Hamming-bucketed modality shares one incremental engine;
    * a third perceptual hash (video keyframes, say) inherits it for free.
    */
  def d111IncrementalAudioDedup(s: SparkSession, d: String): DataFrame = {
    import graft.ops.CacheRegistry
    val docs = graft.Tables.documents(s, d).select(col("doc_id"))
    val hashes = CacheRegistry.harness.add(
      audioHash64(audioDedupPayload(docs)).filter(col("ahash").isNotNull)
        .persist())
    val b1 = hashes.filter(col("doc_id") % 2 === 0)
    val b2 = hashes.filter(col("doc_id") % 2 === 1)
    val empty = hashes.filter(lit(false))
    incrementalHammingPairs(empty, b1)
      .unionByName(incrementalHammingPairs(b1, b2))
      .orderBy("d1", "d2")
  }

  /** Image-hash duplicate-cluster assignment — the d105 query, d46's
    * shape on the multimodal pillar: the d98 Hamming≤3 pair set feeds
    * the shared min-label connected-components loop
    * ([[graft.ops.TextOps.connectedComponents]], the same machinery
    * every text dedup family member uses), and each clustered image
    * carries its component label and
    * component size. Together with d98 (pairs), d104 (incremental), and
    * the streaming sink, the perceptual family now has the full
    * pairs→clusters→keeper story the minhash family has.
    */
  def d105ImageClusters(s: SparkSession, d: String): DataFrame = {
    val edges = d98ImageNearDup(s, d).select(col("d1"), col("d2"))
    val labels = graft.ops.TextOps.connectedComponents(edges)
    val byComp = Window.partitionBy("component")
    labels
      .withColumn("csize", count(lit(1)).over(byComp))
      .orderBy("doc_id")
  }

  /** Cross-modal composed dedup verdict — the d106 query, t65's
    * composition idea ACROSS modalities: one per-doc gate combining the
    * text-exact keeper (d24 semantics — min doc_id per canonical-text
    * fingerprint, null-safe like d96), the image-cluster representative
    * (d98 pairs → CC, the d105 labeling — unclustered images are their
    * own representative), and the canonical-URL keeper (d93). A training
    * pipeline drops a document when ANY modality says it is a duplicate
    * of something kept — this is that verdict, composed by
    * [[composedGate]] and oracle-checked by composing the three
    * sub-oracles.
    */
  def d106MultimodalDedup(s: SparkSession, d: String): DataFrame =
    composedGate(s, textExactVerdict(s, d), urlVerdict(s, d),
      Seq("image" -> d98ImageNearDup(s, d)))

  /** The d24 canonical-text exact-dup keeper verdict, shared by d106 and
    * d118. Null-safe fp equality: md5(null text) is a null fp; `<=>`
    * keeps those docs in one group exactly like the oracle's null-safe
    * join (the d96 finding — a plain equi-join would silently DROP them).
    */
  private def textExactVerdict(s: SparkSession, d: String): DataFrame = {
    import graft.ops.CacheRegistry
    val canon = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
    // persist(): the fingerprinted table feeds the keeper aggregation and
    // the verdict join (the d24/d96 canonical-text definition)
    val base = CacheRegistry.harness.add(
      graft.Tables.documents(s, d)
        .select(col("doc_id"), md5(canon).as("fp")).persist())
    val fpKeeper = base.groupBy("fp").agg(min("doc_id").as("tkeeper"))
    base
      .join(fpKeeper.withColumnRenamed("fp", "kfp"), col("fp") <=> col("kfp"))
      .select(col("doc_id"), (col("doc_id") === col("tkeeper")).as("keep_text"))
  }

  /** The d93 canonical-URL keeper verdict, shared by d106 and d118. */
  private def urlVerdict(s: SparkSession, d: String): DataFrame =
    graft.ops.TextOps.d93UrlDedup(s, d)
      .select(col("doc_id"), col("keeper").as("keep_url"))

  /** Connected components of several modalities' pair sets in ONE
    * fixpoint. Every endpoint is tagged `bigint(doc_id) · k + m` (k
    * modalities, m the modality's index in `pairs`), the tagged edge lists
    * are unioned, and one [[graft.ops.TextOps.connectedComponents]] runs
    * over them: no edge joins two tags, so no component crosses
    * modalities, and the tag is monotone within a modality, so each
    * component's min label is its tagged min doc_id. The labels are
    * untagged (`m = pmod(key, k)`, `doc_id = (key − m) div k`, exact for
    * negative ids too) and pivoted into one row per doc clustered in any
    * modality: `(doc_id, <name>comp…)`, null where the doc has no pair in
    * that modality.
    */
  private[graft] def modalityComponents(pairs: Seq[(String, DataFrame)])
      : DataFrame = {
    val k = pairs.size
    def tag(c: String, m: Int): Column = col(c).cast("long") * k + m
    val edges = pairs.zipWithIndex.map { case ((_, p), m) =>
      p.select(tag("d1", m).as("d1"), tag("d2", m).as("d2"))
    }.reduce(_ union _)
    def untag(c: String): Column = expr(s"($c - m) div $k")
    val comps = pairs.zipWithIndex.map { case ((n, _), m) =>
      max(when(col("m") === m, untag("component"))).as(s"${n}comp")
    }
    graft.ops.TextOps.connectedComponents(edges)
      .withColumn("m", pmod(col("doc_id"), lit(k.toLong)))
      .groupBy(untag("doc_id").as("doc_id"))
      .agg(comps.head, comps.tail: _*)
  }

  /** The composed multimodal gate shared by d106, d118 and d119: per doc,
    * keep_text ∧ keep_<name>… ∧ keep_url, where a doc keeps modality
    * <name> when it is unclustered there or its component's
    * representative (min doc_id). `textV` is (doc_id, keep_text), `urlV`
    * (doc_id, keep_url), `pairs` each modality's (d1, d2) edges, fused
    * into one fixpoint by [[modalityComponents]].
    *
    * Two overlaps on driver threads ([[graft.ops.Par]], guide §2.6):
    *  1. each modality's pair set is persisted and primed on its own
    *     thread — they are independent queries, and one union query over
    *     them ran its stages close to one after another (d119's three
    *     pair sets at sf0.1, local[4] on a 4-core VM: 8.9 s against 6.9 s
    *     as three concurrent queries);
    *  2. the fixpoint then runs over the cached edges while the text and
    *     URL verdicts are persisted and primed beside it: its small round
    *     jobs leave executors idle, and the verdicts become cached inputs
    *     of the composition join instead of running inside the final
    *     action.
    */
  private def composedGate(s: SparkSession, textV: DataFrame,
      urlV: DataFrame, pairs: Seq[(String, DataFrame)]): DataFrame = {
    import graft.ops.{CacheRegistry, Par}
    def prime(v: DataFrame): () => DataFrame =
      () => { val p = CacheRegistry.harness.add(v.persist()); p.count(); p }
    val edges = Par.run[DataFrame](s)(
      pairs.map(p => prime(p._2.select("d1", "d2"))): _*)
    val Seq(comps, textP, urlP) = Par.run[DataFrame](s)(
      () => modalityComponents(pairs.map(_._1).zip(edges)),
      prime(textV), prime(urlV))
    val keeps = pairs.map { case (n, _) =>
      (col(s"${n}comp").isNull || col(s"${n}comp") === col("doc_id"))
        .as(s"keep_$n")
    }
    val verdicts = ("keep_text" +: pairs.map("keep_" + _._1) :+ "keep_url")
      .map(col)
    textP.join(urlP, Seq("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .select(col("doc_id") +: col("keep_text") +: keeps :+ col("keep_url"): _*)
      .withColumn("kept", verdicts.reduce(_ && _))
      .orderBy("doc_id")
  }

  /** Full five-modality composed gate — the d118 query and the breadth
    * capstone: d106's gate widened to EVERY modality the engine dedups —
    * text-exact keeper, image (d98 pairs), audio (d102 pairs) and video
    * (d103 pairs) cluster representatives, canonical-URL keeper — through
    * one [[composedGate]] call. Oracle composes the five sub-oracles
    * (three recursive-CTE reachability chains + the null-safe text keeper
    * + the URL keeper).
    */
  def d118FullMultimodalGate(s: SparkSession, d: String): DataFrame =
    composedGate(s, textExactVerdict(s, d), urlVerdict(s, d), Seq(
      "image" -> d98ImageNearDup(s, d),
      "audio" -> d102AudioNearDup(s, d),
      "video" -> d103VideoOverlap(s, d)))

  /** The INCREMENTAL full multimodal gate — the d119 query and the
    * capstone of the round-10 incremental story, d96's "the COMPOSITION is
    * incremental" proof extended across every modality: each of
    * [[d118FullMultimodalGate]]'s five verdicts re-expressed as mergeable
    * per-batch state, the two-batch run oracle-checked against the
    * one-shot d118 SQL. Per modality:
    *
    *  1. text    — (fp → min doc_id) state, min-mergeable (the d96 stage);
    *  2. URL     — (canon_url → min doc_id) state, min-mergeable (d101);
    *  3. image   — per-doc 8-byte aHash state; per-batch pairs via
    *               [[incrementalHammingPairs]] (the d104 probe); the
    *               ACCUMULATED pair set equals the one-shot one (the d104
    *               identity), so its components match d118's;
    *  4. audio   — the same with [[audioHash64]] (d111);
    *  5. video   — per-doc frame-fp state; per-batch pairs via
    *               [[incrementalClipPairs]] (d117).
    *
    * The accumulated pair sets feed one [[composedGate]] call. Old
    * payloads are never re-decoded, old text/URLs never re-hashed: each
    * batch contributes O(batch) state (8 B/image, 8 B/clip, ~33 B/frame,
    * one row per fp/canon_url), and merges are min-merge / append.
    */
  def d119IncrementalMultimodalGate(s: SparkSession, d: String): DataFrame = {
    import graft.ops.{CacheRegistry, TextOps}
    val docs = CacheRegistry.harness.add(
      graft.Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("source")).persist())
    def half(i: Int): DataFrame = docs.filter(col("doc_id") % 2 === i)

    // text: min-mergeable (fp -> keeper); null fp groups in groupBy and
    // joins back null-safely (<=>), the d96/d106 convention
    val canon = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
    def fpTable(b: DataFrame): DataFrame =
      b.select(col("doc_id"), md5(canon).as("fp"))
    def fpState(b: DataFrame): DataFrame =
      fpTable(b).groupBy("fp").agg(min("doc_id").as("tkeeper"))
    val textState = fpState(half(0)).unionByName(fpState(half(1)))
      .groupBy("fp").agg(min("tkeeper").as("tkeeper"))
    val textV = fpTable(docs)
      .join(textState.withColumnRenamed("fp", "kfp"), col("fp") <=> col("kfp"))
      .select(col("doc_id"),
        (col("doc_id") === col("tkeeper")).as("keep_text"))

    // URL: the d101 min-mergeable keeper state
    def urlTable(b: DataFrame): DataFrame =
      b.select(col("doc_id"), TextOps.canonicalizeUrl(
        TextOps.syntheticUrl(col("doc_id"), col("source"))).as("canon_url"))
    def urlState(b: DataFrame): DataFrame =
      urlTable(b).groupBy("canon_url").agg(min("doc_id").as("ukeeper"))
    val uState = urlState(half(0)).unionByName(urlState(half(1)))
      .groupBy("canon_url").agg(min("ukeeper").as("ukeeper"))
    val urlV = urlTable(docs).join(uState, Seq("canon_url"))
      .select(col("doc_id"),
        (col("doc_id") === col("ukeeper")).as("keep_url"))

    // per-modality state (hashes / frames) and the two batches' probes
    def accumulated(state: DataFrame,
        probe: (DataFrame, DataFrame) => DataFrame): DataFrame = {
      val b1 = state.filter(col("doc_id") % 2 === 0)
      val b2 = state.filter(col("doc_id") % 2 === 1)
      probe(state.filter(lit(false)), b1).unionByName(probe(b1, b2))
    }
    val ids = docs.select(col("doc_id"))
    val imgHashes = CacheRegistry.harness.add(
      aHash64(imageDedupPayload(ids)).filter(col("ahash").isNotNull)
        .persist())
    val audHashes = CacheRegistry.harness.add(
      audioHash64(audioDedupPayload(ids)).filter(col("ahash").isNotNull)
        .persist())
    val frames = CacheRegistry.harness.add(d103Frames(s, d).persist())
    composedGate(s, textV, urlV, Seq(
      "image" -> accumulated(imgHashes, incrementalHammingPairs(_, _)),
      "audio" -> accumulated(audHashes, incrementalHammingPairs(_, _)),
      "video" -> accumulated(frames, incrementalClipPairs)))
  }

  /** Class modulus for [[d103VideoOverlap]]'s synthetic clip model. */
  val VideoDupClasses = 120

  /** Clip-overlap video near-dup over a (doc_id, fp) frame-fingerprint
    * table — the REAL operator of the d103 query, generic over where the
    * fingerprints come from: d103 feeds it synthetic stream fingerprints
    * (pure column work — the cheap calibration path), d124 feeds it
    * fingerprints recovered by a REAL demux+decode of MJPEG-AVI payloads
    * ([[aviFrameHashes]] — the production path; no stub remains in the
    * video pillar).
    * Two videos are near-duplicates when the smaller one's frame set is
    * ≥ 4/5 contained in the other — the d97 containment convention at
    * clip granularity, which is exactly how re-uploads, trims, and
    * re-intros of the same footage present: a shifted/trimmed WINDOW
    * over a shared frame stream, high containment, Jaccard diluted by
    * the extra footage.
    *
    * Scale: one shared-fingerprint equi-join (the d25 candidate shape —
    * never all-pairs; a fingerprint's fan-out is bounded by how many
    * clips actually contain that frame, the irreducible dup density),
    * one partial-aggregable pair count, per-doc sizes ride the window
    * column like cappedJaccardInter. Integer-exact verdict
    * (5·inter ≥ 4·min(sz)) and quantized containment — no float.
    */
  def videoClipOverlap(frames: DataFrame): DataFrame =
    containmentVerdict(selfSharedFrames(sizedFrames(frames)))
      .orderBy("d1", "d2")

  /** Frame rows annotated with their doc's total frame count. */
  private def sizedFrames(frames: DataFrame): DataFrame =
    frames.withColumn("sz", count(lit(1)).over(Window.partitionBy("doc_id")))

  /** Shared-fingerprint rows within ONE (doc_id, fp, sz) frame table:
    * `<` on the ids both orders the pair and halves the self-join (each
    * shared fp contributes exactly one row).
    */
  private def selfSharedFrames(s: DataFrame): DataFrame =
    s.as("a")
      .join(s.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.sz").as("sz1"), col("b.sz").as("sz2"))

  /** Shared-fingerprint rows BETWEEN two disjoint frame tables (the
    * incremental cross probe): every match is one shared fp (the sides
    * cannot pair internally), canonicalized with least/greatest — sizes
    * swap alongside their ids.
    */
  private def crossSharedFrames(a: DataFrame, b: DataFrame): DataFrame =
    a.as("a")
      .join(b.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"),
        when(col("a.doc_id") < col("b.doc_id"), col("a.sz"))
          .otherwise(col("b.sz")).as("sz1"),
        when(col("a.doc_id") < col("b.doc_id"), col("b.sz"))
          .otherwise(col("a.sz")).as("sz2"))

  /** The d97-convention containment rule over shared-fingerprint rows:
    * a pair is a near-dup when the smaller side is ≥ 4/5 contained in the
    * larger (integer-exact compare, integer-quantized containment).
    */
  private def containmentVerdict(shared: DataFrame): DataFrame =
    shared
      .groupBy(col("d1"), col("d2"), col("sz1"), col("sz2"))
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter") * 5 >= least(col("sz1"), col("sz2")) * 4)
      .select(col("d1"), col("d2"), col("inter"), col("sz1"), col("sz2"),
        expr("(inter * 10000) div least(sz1, sz2)").as("containment_q"))

  /** Video clip-overlap near-dup — the d103 query, completing the
    * multimodal dedup trio (image d98, audio d102, video here). The
    * synthetic clip model: each class (doc_id mod [[VideoDupClasses]])
    * owns a virtual source stream of frame fingerprints
    * md5("vid:cls:k"); a document is a CLIP of that stream — offset
    * ((doc_id div 120) mod 4)·16, length 64 + (cls mod 3)·16 — so
    * same-class clips overlap by construction (trims/shifts of shared
    * footage) and cross-class clips share nothing. Fingerprint
    * synthesis is pure codegen'd column work (sequence → transform →
    * md5 → explode, no UDF); the DuckDB oracle builds the identical
    * stream and brute-runs the same containment rule.
    */
  def d103VideoOverlap(s: SparkSession, d: String): DataFrame =
    videoClipOverlap(d103Frames(s, d))

  /** The d103 synthetic clip-fingerprint table (shared with d117). */
  private def d103Frames(s: SparkSession, d: String): DataFrame = {
    val cls = col("doc_id") % VideoDupClasses
    val off = (expr(s"doc_id div $VideoDupClasses") % 4) * 16
    val n = lit(64) + (cls % 3) * 16
    graft.ops.Spread.byKey(
        graft.Tables.documents(s, d).select("doc_id"), col("doc_id"))
      .select(col("doc_id"),
        explode(transform(sequence(off, off + n - 1),
          k => md5(concat(lit("vid:"), cls.cast("string"), lit(":"),
            k.cast("string"))))).as("fp"))
  }

  /** Incremental clip-overlap pairs of one ingest step: the new batch's
    * frames probe the ACCUMULATED (doc_id, fp, sz) frame state
    * (cross pairs) and pair among themselves (self pairs); prior videos'
    * frames are read from state, never re-decoded or re-fingerprinted.
    * `prior` and `batch` must carry disjoint doc_ids and each doc's
    * COMPLETE frame set (videos don't straddle batches — the same
    * whole-item contract every incremental dedup op in the repo has).
    */
  def incrementalClipPairs(prior: DataFrame, batch: DataFrame): DataFrame = {
    val pb = sizedFrames(prior)
    val nb = sizedFrames(batch)
    containmentVerdict(
      selfSharedFrames(nb).unionByName(crossSharedFrames(nb, pb)))
  }

  /** Two-batch incremental VIDEO dedup — the d117 query, closing the
    * incremental matrix across ALL multimodal members (image d104, audio
    * d111, video here): per-doc frame-fingerprint sets ARE the mergeable
    * state (append-only rows, ~33 bytes per frame), batch 2 probes batch
    * 1's stored fingerprints through [[incrementalClipPairs]] — the same
    * containment verdict as the one-shot, over self + cross shared-frame
    * rows. The union of the two batches' pair sets must equal the
    * one-shot [[d103VideoOverlap]] exactly (pairs within batch 1, within
    * batch 2, and across are disjoint populations, and each pair's FULL
    * intersection lives in exactly one population because docs carry
    * complete frame sets), so the oracle is deliberately d103's
    * full-recompute SQL (the d84/d104/d111 convention).
    */
  def d117IncrementalVideoDedup(s: SparkSession, d: String): DataFrame = {
    import graft.ops.CacheRegistry
    val frames = CacheRegistry.harness.add(d103Frames(s, d).persist())
    val b1 = frames.filter(col("doc_id") % 2 === 0)
    val b2 = frames.filter(col("doc_id") % 2 === 1)
    val empty = frames.filter(lit(false))
    incrementalClipPairs(empty, b1)
      .unionByName(incrementalClipPairs(b1, b2))
      .orderBy("d1", "d2")
  }

  /** Class modulus for the d124 MJPEG-AVI clip model. */
  val AviDupClasses = 60
  /** Doc-id cap for d124: frame decode is the one genuinely
    * payload-expensive op (two JPEG codec passes per frame), so the query
    * bounds its corpus the way the ANN queries bound their query sets.
    */
  val AviDocCap = 1000L

  /** The d124 clip model: cls = doc_id mod [[AviDupClasses]]; the doc's
    * AVI holds the class stream's frames off..off+n−1 with
    * off = ((doc_id div 60) mod 4)·4 and n = 16 + (cls mod 3)·4 — same
    * class ⇒ shifted/trimmed windows over shared footage (d103's model,
    * now carried by REAL encoded frames).
    */
  def aviClipParams(docId: Long): (Int, Int, Int) = {
    val cls = (docId % AviDupClasses).toInt
    (cls, ((docId / AviDupClasses) % 4).toInt * 4, 16 + (cls % 3) * 4)
  }

  /** The 64-bit block pattern of class-stream frame (cls, k): the first
    * 64 bits of md5("avi:cls:k"), cell c (row-major 8×8) white iff bit
    * (63−c) is set — so the pattern IS the hex prefix of the md5, which
    * is exactly what the DuckDB oracle emits as the frame fingerprint.
    */
  def aviFramePattern(cls: Int, k: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    java.nio.ByteBuffer
      .wrap(md.digest(s"avi:$cls:$k".getBytes("UTF-8"))).getLong
  }

  /** Render one frame: 64×64 RGB, 8×8 grid of SOLID 8-px cells (white or
    * black per the pattern bit). Cells align exactly with JPEG's 8×8
    * blocks, so each block DCT-encodes as a near-exact DC value and the
    * cell-average classification below survives the lossy round trip with
    * huge margin (worst-case DC quantization moves a cell average ~1%;
    * the classification threshold sits ≥ 1/64 ≈ 1.6% away by
    * construction for any non-uniform pattern — and a uniform pattern
    * cannot occur, see [[aviFrameHashes]]).
    */
  private def renderAviFrame(pattern: Long): BufferedImage = {
    val img = new BufferedImage(64, 64, BufferedImage.TYPE_INT_RGB)
    val pix = new Array[Int](64 * 64)
    var c = 0
    while (c < 64) {
      val rgb = if (((pattern >>> (63 - c)) & 1L) == 1L) 0xffffff else 0
      val x0 = (c % 8) * 8
      val y0 = (c / 8) * 8
      var y = y0
      while (y < y0 + 8) {
        var x = x0
        while (x < x0 + 8) { pix(y * 64 + x) = rgb; x += 1 }
        y += 1
      }
      c += 1
    }
    img.setRGB(0, 0, 64, 64, pix, 0, 64)
    img
  }

  // one JPEG writer per executor thread, reused across frames: the d124
  // path encodes ~20 frames per clip, and per-frame
  // getImageWritersByFormatName + dispose() pays registry lookup plus
  // native codec setup/teardown for every frame (guide §4.5's
  // initialise-once-per-task rule, here once per thread). Task threads
  // are pooled and long-lived; one writer per thread is bounded state.
  private val jpegWriter =
    new ThreadLocal[javax.imageio.ImageWriter] {
      override def initialValue(): javax.imageio.ImageWriter =
        ImageIO.getImageWritersByFormatName("jpeg").next()
    }

  private def jpegBytes(img: BufferedImage): Array[Byte] = {
    val writer = jpegWriter.get()
    val out = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(out)
    try {
      writer.setOutput(ios)
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(0.95f)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
    } finally { writer.setOutput(null); ios.close() }
    out.toByteArray
  }

  private def riffChunk(id: String, payload: Array[Byte]): Array[Byte] = {
    val padded = if (payload.length % 2 == 1) payload :+ 0.toByte else payload
    val bb = java.nio.ByteBuffer.allocate(8 + padded.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(id.getBytes("US-ASCII")).putInt(payload.length).put(padded)
    bb.array()
  }

  private def riffList(typ: String, payload: Array[Byte]): Array[Byte] =
    riffChunk("LIST", typ.getBytes("US-ASCII") ++ payload)

  /** A REAL MJPEG-in-AVI payload for one document: RIFF('AVI ') with an
    * hdrl LIST (avih main header + strl(strh 'vids'/'MJPG' + strf
    * BITMAPINFOHEADER)) and a movi LIST of one '00dc' chunk per frame,
    * each chunk a real ImageIO-encoded JPEG of the frame's block pattern.
    * Little-endian sizes, even-byte chunk padding — the public RIFF/AVI
    * layout (msdn AVIMAINHEADER/AVISTREAMHEADER), parseable by any AVI
    * demuxer.
    */
  def synthAvi(docId: Long): Array[Byte] = {
    val (cls, off, n) = aviClipParams(docId)
    val frames = (off until off + n)
      .map(k => riffChunk("00dc", jpegBytes(renderAviFrame(
        aviFramePattern(cls, k)))))
    val avih = {
      val bb = java.nio.ByteBuffer.allocate(56)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(41667)        // dwMicroSecPerFrame (24 fps)
      bb.putInt(0).putInt(0)  // dwMaxBytesPerSec, dwPaddingGranularity
      bb.putInt(0x10)         // dwFlags: AVIF_HASINDEX off, interleaved
      bb.putInt(n)            // dwTotalFrames
      bb.putInt(0)            // dwInitialFrames
      bb.putInt(1)            // dwStreams
      bb.putInt(0)            // dwSuggestedBufferSize
      bb.putInt(64).putInt(64) // dwWidth, dwHeight
      bb.array()
    }
    val strh = {
      val bb = java.nio.ByteBuffer.allocate(56)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("vids".getBytes("US-ASCII"))
      bb.put("MJPG".getBytes("US-ASCII"))
      bb.putInt(0)            // dwFlags
      bb.putInt(0)            // wPriority + wLanguage
      bb.putInt(0)            // dwInitialFrames
      bb.putInt(1)            // dwScale
      bb.putInt(24)           // dwRate (24 fps)
      bb.putInt(0)            // dwStart
      bb.putInt(n)            // dwLength
      bb.putInt(0).putInt(-1) // dwSuggestedBufferSize, dwQuality
      bb.putInt(0)            // dwSampleSize
      bb.putShort(0).putShort(0).putShort(64).putShort(64) // rcFrame
      bb.array()
    }
    val strf = {
      val bb = java.nio.ByteBuffer.allocate(40)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(40)           // biSize
      bb.putInt(64).putInt(64) // biWidth, biHeight
      bb.putShort(1).putShort(24) // biPlanes, biBitCount
      bb.put("MJPG".getBytes("US-ASCII"))
      bb.putInt(64 * 64 * 3)  // biSizeImage
      bb.array()              // remaining fields zero
    }
    val hdrl = riffList("hdrl",
      riffChunk("avih", avih) ++
        riffList("strl", riffChunk("strh", strh) ++ riffChunk("strf", strf)))
    val movi = riffList("movi", frames.flatten.toArray)
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    val bb = java.nio.ByteBuffer.allocate(8 + body.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(body.length).put(body)
    bb.array()
  }

  /** One real AVI per document (doc_id < [[AviDocCap]]) — the d124 input. */
  def aviDedupPayload(docs: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    // spread: ~20 JPEG encodes per doc below — the most CPU-dense row
    // work in the repo
    graft.ops.Spread.byKey(
        docs.select("doc_id").filter(col("doc_id") < AviDocCap),
        col("doc_id"))
      .mapPartitions { rows =>
        rows.map(r => Row(r.getLong(0), synthAvi(r.getLong(0))))
      }(enc)
  }

  /** Per-frame fingerprints from REAL decoded AVI frames — the production
    * path that replaces this engine's former video-decode stub: a
    * depth-bounded RIFF chunk walk (little-endian sizes, even padding,
    * LIST recursion — the readVideoMeta discipline on the second
    * container grammar) locates the movi '00dc' chunks, ImageIO decodes
    * each embedded JPEG for REAL, and the 8×8 cell-average rule (each
    * cell's sum·64 vs the frame total — integer-exact, the aHash64
    * convention) reads the block pattern back out of the lossy pixels.
    * The recovered 64-bit pattern is emitted as its 16-hex-char string —
    * bit-for-bit the md5 prefix the generator drew, so the DuckDB oracle
    * reproduces every fingerprint analytically. A uniform pattern (all
    * cells equal — where the mean rule reads all-zero) cannot occur: it
    * would need an md5 prefix of exactly 0 or 2^64−1, and the oracle gate
    * would catch the mismatch corpus-wide if one ever did. Undecodable
    * payloads/frames are skipped (the corrupt-input contract).
    */
  def aviFrameHashes(withPayload: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("fp", StringType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    withPayload.select("doc_id", "payload").mapPartitions { rows =>
      // one JPEG reader per partition (the decodeMeta per-partition-setup
      // discipline): ImageIO.read would re-sniff the format and build a
      // fresh reader per FRAME. A frame that does not parse as JPEG is
      // skipped — exactly the "undecodable frames are skipped" contract
      // (this is an MJPEG demuxer; '00dc' chunks are JPEG by definition).
      val reader = ImageIO.getImageReadersByFormatName("jpeg").next()
      rows.flatMap { r =>
        val id = r.getLong(0)
        extractMjpegFrames(r.getAs[Array[Byte]](1)).flatMap { jpeg =>
          val img =
            try {
              val iis = ImageIO.createImageInputStream(
                new ByteArrayInputStream(jpeg))
              try {
                reader.setInput(iis, true, true)
                reader.read(0)
              } finally { reader.setInput(null); iis.close() }
            }
            catch { case _: Exception => null }
          if (img == null || img.getWidth != 64 || img.getHeight != 64) None
          else {
            val sums = new Array[Long](64)
            var total = 0L
            val pix = img.getRGB(0, 0, 64, 64, null, 0, 64)
            var y = 0
            while (y < 64) {
              var x = 0
              while (x < 64) {
                val p = pix(y * 64 + x) & 0xffffff
                val g = ((p >> 16) & 255) + ((p >> 8) & 255) + (p & 255)
                sums((y / 8) * 8 + x / 8) += g
                total += g
                x += 1
              }
              y += 1
            }
            var pattern = 0L
            var c = 0
            while (c < 64) {
              if (sums(c) * 64 > total) pattern |= (1L << (63 - c))
              c += 1
            }
            Some(Row(id, f"$pattern%016x"))
          }
        }
      }
    }(enc)
  }

  /** The '00dc' JPEG payloads of an AVI byte array via a depth-bounded
    * RIFF walk; anything malformed yields the frames parsed so far.
    */
  private def extractMjpegFrames(payload: Array[Byte]): Seq[Array[Byte]] =
    try {
      val bb = java.nio.ByteBuffer.wrap(payload)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val frames = Seq.newBuilder[Array[Byte]]
      def fourcc(pos: Int): String = new String(payload, pos, 4, "US-ASCII")
      val MaxDepth = 8
      def walk(start: Int, end: Int, depth: Int): Unit = {
        if (depth > MaxDepth) return
        var pos = start
        while (pos + 8 <= end) {
          val id = fourcc(pos)
          val size = bb.getInt(pos + 4)
          if (size < 0 || pos + 8 + size > end) return
          if (id == "LIST" && size >= 4)
            walk(pos + 12, pos + 8 + size, depth + 1)
          else if (id == "00dc" && size > 0)
            frames += java.util.Arrays.copyOfRange(payload, pos + 8,
              pos + 8 + size)
          pos += 8 + size + (size % 2) // chunks are even-padded
        }
      }
      if (payload.length >= 12 && fourcc(0) == "RIFF" && fourcc(8) == "AVI ")
        walk(12, math.min(payload.length, 8 + bb.getInt(4)), 0)
      frames.result()
    } catch { case _: Exception => Seq.empty }

  /** MJPEG-AVI clip-overlap dedup over REAL decoded frames — the d124
    * query: synthesize each doc's AVI ([[synthAvi]] — a real RIFF
    * container of real JPEG frames), demux and DECODE every frame
    * ([[aviFrameHashes]] — one actual JPEG codec pass per frame), and run
    * the shared containment verdict ([[videoClipOverlap]] — d103's exact
    * machinery) over the recovered fingerprints. d103 proved the dedup
    * plumbing on synthetic fingerprints; this closes the loop from real
    * container bytes through a real lossy codec to the same verdict, with
    * the oracle recomputing every frame fingerprint analytically from the
    * generator contract.
    *
    * Scale: decode is map-side (the irreducible per-frame codec cost —
    * at 10^9 clips this stage is embarrassingly parallel and
    * decode-bound); everything after is the audited d103 plan over
    * ~33-byte frame rows.
    */
  def d124MjpegVideoDedup(s: SparkSession, d: String): DataFrame = {
    import graft.ops.CacheRegistry
    val docs = graft.Tables.documents(s, d).select(col("doc_id"))
    // persist(): the decoded fingerprint table feeds both candidate
    // self-join sides through sizedFrames (the d98 hash-table finding)
    val frames = CacheRegistry.harness.add(
      aviFrameHashes(aviDedupPayload(docs)).persist())
    videoClipOverlap(frames)
  }

  /** Tombstone deletes for the Hamming PAIR state — the d126 query,
    * d123's lifecycle story carried into the perceptual family. After the
    * d104 two-batch ingest, the accumulated state is per-doc hashes (8 B)
    * plus the emitted pair set; a delete batch (doc_id % 7 == 3) heals
    * BOTH with anti-joins alone: pair rows are independent edge facts, a
    * pair survives iff both ends survive, and deleting docs cannot create
    * a new qualifying pair (survivor Hamming distances are unchanged) —
    * so nothing is ever re-decoded, re-hashed, or re-paired. The cluster
    * view (d105's CC + component sizes) over the surviving pairs must
    * equal the one-shot clustering of the surviving corpus; the oracle IS
    * d105's SQL over the survivors.
    *
    * Cap caveat (the monotone note again), now EXECUTABLE: the anti-join
    * heal is exact while no cell was hot at ingest — a cell hot in the
    * full corpus but cold among survivors could have suppressed a
    * survivor-survivor candidate that only a re-probe of that cell
    * recovers. HammingCapSpec's d126-caveat test constructs exactly that
    * corpus and asserts the heal equals survivor-brute-force MINUS the
    * first-principles-predicted unrecoverable pairs — and that the
    * periodic compaction (which rebuilds the bucket table from surviving
    * members, tombstones applied physically) re-probes the now-cold cell
    * and recovers them. At the default cap the loss needs >64M distinct
    * hashes in one window cell; the brute-force oracle would catch it.
    */
  def d126TombstoneImageClusters(s: SparkSession, d: String): DataFrame = {
    import graft.ops.{CacheRegistry, TextOps}
    val docs = graft.Tables.documents(s, d).select(col("doc_id"))
    val hashes = CacheRegistry.harness.add(
      aHash64(imageDedupPayload(docs)).filter(col("ahash").isNotNull)
        .persist())
    val b1 = hashes.filter(col("doc_id") % 2 === 0)
    val b2 = hashes.filter(col("doc_id") % 2 === 1)
    val empty = hashes.filter(lit(false))
    val pairState = incrementalHammingPairs(empty, b1)
      .unionByName(incrementalHammingPairs(b1, b2))
    val deleted = docs.filter(col("doc_id") % 7 === 3)
    val livePairs = pairState
      .join(deleted.withColumnRenamed("doc_id", "d1"), Seq("d1"), "left_anti")
      .join(deleted.withColumnRenamed("doc_id", "d2"), Seq("d2"), "left_anti")
    val labels = TextOps.connectedComponents(livePairs.select("d1", "d2"))
    labels
      .withColumn("csize", count(lit(1)).over(Window.partitionBy("component")))
      .orderBy("doc_id")
  }

  /** Frame sampling: up to `k` evenly-spaced frame indices per video row —
    * explode of a bounded sequence, fully codegen'd, no UDF.
    */
  def frameSample(decoded: DataFrame, k: Int): DataFrame =
    decoded
      .filter(col("mime").startsWith("video"))
      .withColumn("step", greatest(lit(1), (col("n_frames") / k).cast("int")))
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("n_frames") - 1, col("step"))))
      .select(col("doc_id"), col("frame_idx"),
        md5(concat(col("doc_id"), lit(":"), col("frame_idx")))
          .as("frame_key"))
}
