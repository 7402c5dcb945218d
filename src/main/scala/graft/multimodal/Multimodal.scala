package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Gate
import graft.io.Inputs.t

/** Multimodal-column plumbing: opaque `binary` payloads + typed
  * metadata structs, with decode/featurize stages.
  *
  * Three REAL pure-JVM codecs live here (BMP, PNG incl. inflate +
  * CRC + the 5-filter matrix, WAV) plus real perceptual hashing over
  * their decoded output (image dHash, audio energy-delta fingerprint,
  * per-frame video hashes). `decodeStub` is NOT a missing codec: it
  * is the SCHEMA-CONTRACT stage for formats that genuinely need an
  * external library (JPEG/H.264/AAC — absent from this container),
  * pinning the binary column, metadata struct, batch shape, and plan
  * properties a real JNI/codec swap must preserve; the
  * `m_multimodal_stub` gate is that contract's regression pin, not a
  * placeholder awaiting code.
  *
  * Scale-relevant pieces are real and tested: binary columns, typed
  * metadata, per-row featurization as codegen'd expressions, and
  * batch-shaped partition processing.
  *
  * Scale note: binary payloads ride in the same parquet row group as
  * their metadata; filters on metadata (width/height/n_bytes) prune
  * row groups WITHOUT reading payload bytes (parquet column pruning) —
  * that is the load-bearing property this module preserves.
  */
object Multimodal {

  /** Attach a fake binary payload + metadata struct to documents
    * (stand-in for real image bytes; deterministic from text). */
  def withImageColumn(docs: DataFrame): DataFrame =
    docs
      .withColumn("image", to_binary(col("text"), lit("utf-8")))
      .withColumn("meta", struct(
        (pmod(col("n_chars"), lit(640)) + 1).cast("int").as("width"),
        (pmod(col("n_chars"), lit(480)) + 1).cast("int").as("height"),
        lit("fake/raw").as("format")))

  /** STUB decode/featurize — a real pipeline would decode pixels here
    * (???-equivalent); the deterministic fake keeps the schema, batch
    * shape, and downstream plan identical. */
  def decodeStub(images: DataFrame): DataFrame =
    images
      .withColumn("n_bytes", octet_length(col("image")).cast("int"))
      .withColumn("checksum", md5(col("image")))
      // fake "brightness": first byte + length, mod 256
      .withColumn("brightness",
        pmod(ascii(substring(col("text"), 1, 1)) + col("n_chars"),
          lit(256)).cast("int"))

  /** Attach a fake "video" payload: binary column + typed metadata
    * (frame count / fps), deterministic from the text. */
  def withVideoColumn(docs: DataFrame): DataFrame =
    docs
      .withColumn("video", to_binary(col("text"), lit("utf-8")))
      .withColumn("vmeta", struct(
        (pmod(col("n_chars"), lit(120)) + 1).cast("bigint")
          .as("n_frames"),
        lit(30).as("fps"), lit("fake/frames").as("format")))

  /** Frame sampling: every `every`-th frame index, exploded to one row
    * per sampled frame with a per-frame stub feature. The explode is
    * declarative (`sequence` + `explode`), so Catalyst prunes the
    * payload column entirely when downstream only reads features —
    * at 100 TB the frame fan-out must never force payload reads. */
  def sampleFrames(videos: DataFrame, every: Int = 10): DataFrame =
    videos
      .select(col("doc_id"), col("text"),
        col("vmeta.n_frames").as("n_frames"),
        explode(sequence(lit(0L), col("vmeta.n_frames") - 1,
          lit(every.toLong))).as("frame_idx"))
      .withColumn("frame_feat",
        md5(concat(col("text"), lit(":"),
          col("frame_idx").cast("string"))))
      .drop("text")

  /** Batch-shaped decode path: the real-codec form of `sampleFrames`'
    * feature step. Rows are processed in fixed-size batches inside
    * each partition (`mapPartitions` + grouped iterator) — the shape a
    * JNI/GPU decoder needs (amortized setup per batch, bounded memory
    * per task). The stub computes the same md5 the declarative
    * expression computes, so parity is testable; swapping in a real
    * decoder changes only the per-batch function. */
  def decodeFramesBatched(frames: DataFrame, textCol: String = "text",
      batchSize: Int = 64): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val outSchema = StructType(frames.schema.fields :+
      StructField("frame_feat", StringType))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val tIdx = frames.schema.fieldIndex(textCol)
    val fIdx = frames.schema.fieldIndex("frame_idx")
    frames.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // per-batch setup (a codec would init/bind here, once)
        val digest = java.security.MessageDigest.getInstance("MD5")
        batch.iterator.map { r =>
          digest.reset()
          val bytes = digest.digest(
            s"${r.getString(tIdx)}:${r.getLong(fIdx)}"
              .getBytes("UTF-8"))
          Row.fromSeq(r.toSeq :+
            bytes.map("%02x".format(_)).mkString)
        }
      }
    }(enc)
  }

  /** Attach a fake "audio" payload: binary column + typed metadata
    * (sample rate / duration), deterministic from the text. */
  def withAudioColumn(docs: DataFrame): DataFrame =
    docs
      .withColumn("audio", to_binary(col("text"), lit("utf-8")))
      .withColumn("ameta", struct(
        lit(16000).as("sample_rate"),
        ((pmod(col("n_chars"), lit(30)) + 1) * 1000).cast("bigint")
          .as("duration_ms"),
        lit("fake/pcm").as("format")))

  /** OVERLAPPED segmentation — the audio-feature windowing pattern
    * (`hop < width`, unlike `sampleFrames`' stride sampling): one row
    * per [start, start+width) window with a per-segment stub feature.
    * Same scale property: declarative sequence+explode, payload column
    * pruned unless a consumer asks for it; a real STFT/fbank kernel
    * replaces only the feature expression (or runs through
    * `decodeFramesBatched`'s batch shape). */
  def segmentAudio(audio: DataFrame, widthMs: Long = 1000L,
      hopMs: Long = 500L): DataFrame = {
    require(hopMs > 0 && widthMs >= hopMs,
      "segments must advance and overlap (hop ≤ width)")
    audio
      // clips shorter than one window yield no segments (a negative
      // sequence stop would otherwise fail the whole query)
      .filter(col("ameta.duration_ms") >= widthMs)
      .select(col("doc_id"), col("text"),
        col("ameta.duration_ms").as("duration_ms"),
        explode(sequence(lit(0L), col("ameta.duration_ms") - widthMs,
          lit(hopMs))).as("seg_start"))
      .withColumn("seg_feat",
        md5(concat(col("text"), lit(":"),
          col("seg_start").cast("string"))))
      .drop("text")
  }

  // ---- real WAV/PCM codec (pure-JVM — the one genuinely decodable
  // media format in this container; image/video codecs remain the
  // declared stub boundary) ----

  /** Deterministic synthetic sample i of doc d — shared by the WAV
    * synthesizer and the DuckDB oracle (which recomputes it in SQL):
    * ((d·31 + i·7919) mod 20001) − 10000, always within 16-bit range. */
  private def synthSample(d: Long, i: Long): Int =
    (((d * 31L + i * 7919L) % 20001L) - 10000L).toInt

  /** Serialize a canonical 44-byte-header RIFF/WAVE file (PCM, 16-bit
    * LE, mono) around the synthetic samples — the fixture builder for
    * the REAL decode path below. */
  /** `perturb` (near-dup fixture knob, the bmpBytes twin): added to
    * sample 0 only — a one-sample "re-encode artifact" that leaves
    * the clip perceptually identical. synthSample ≤ 10000 and the
    * planted perturbs are ≤ 1500, so no 16-bit clamp is ever hit. */
  private[multimodal] def wavBytes(docId: Long, nSamples: Int,
      sampleRate: Int, perturb: Int = 0): Array[Byte] = {
    val dataLen = nSamples * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII"))
    bb.putInt(36 + dataLen)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII"))
    bb.putInt(16)
    bb.putShort(1) // PCM
    bb.putShort(1) // mono
    bb.putInt(sampleRate)
    bb.putInt(sampleRate * 2) // byte rate
    bb.putShort(2)            // block align
    bb.putShort(16)           // bits
    bb.put("data".getBytes("US-ASCII"))
    bb.putInt(dataLen)
    var i = 0
    while (i < nSamples) {
      val v = synthSample(docId, i.toLong) + (if (i == 0) perturb else 0)
      bb.putShort(v.toShort); i += 1
    }
    bb.array()
  }

  /** Attach a REAL (byte-valid, decoder-parseable) WAV payload to
    * documents: n_samples = (n_chars mod 30 + 1)·80 at 8 kHz →
    * 10–300 ms clips, samples from `synthSample`. Runs through the
    * batched mapPartitions shape (the codec-boundary convention —
    * serialization is imperative byte work, not relational). */
  def withWavColumn(docs: DataFrame, sampleRate: Int = 8000): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val outSchema = StructType(docs.schema.fields :+
      StructField("wav", BinaryType))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val dIdx = docs.schema.fieldIndex("doc_id")
    val nIdx = docs.schema.fieldIndex("n_chars")
    docs.mapPartitions { it =>
      it.map { r =>
        val d = r.get(dIdx).asInstanceOf[Number].longValue
        val nChars = r.get(nIdx).asInstanceOf[Number].longValue
        val n = ((nChars % 30 + 1) * 80).toInt
        Row.fromSeq(r.toSeq :+ wavBytes(d, n, sampleRate))
      }
    }(enc)
  }

  /** REAL RIFF/WAVE parse: walks the chunk list byte-for-byte
    * (word-aligned skip of unknown chunks, fmt-before-data contract,
    * PCM/16-bit checks that RAISE on malformed input — no silent
    * fakes), returning format fields + content aggregates
    * (n_samples, duration, peak, Σ|sample|). */
  private[multimodal] def parseWav(bytes: Array[Byte])
      : (Int, Int, Int, Long, Long, Long, Long) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag4(): String = {
      val a = new Array[Byte](4); bb.get(a); new String(a, "US-ASCII")
    }
    require(tag4() == "RIFF", "wav: missing RIFF magic")
    bb.getInt() // declared riff size; the chunk walk is authoritative
    require(tag4() == "WAVE", "wav: missing WAVE form type")
    var fmt: Option[(Int, Int, Int)] = None // (channels, rate, bits)
    var out: Option[(Int, Int, Int, Long, Long, Long, Long)] = None
    while (out.isEmpty && bb.remaining() >= 8) {
      val id = tag4()
      val len = bb.getInt()
      id match {
        case "fmt " =>
          val audioFormat = bb.getShort()
          require(audioFormat == 1, s"wav: not PCM (format=$audioFormat)")
          val ch = bb.getShort().toInt
          val rate = bb.getInt()
          bb.getInt(); bb.getShort() // byte rate, block align
          val bits = bb.getShort().toInt
          if (len > 16) bb.position(bb.position() + (len - 16))
          fmt = Some((ch, rate, bits))
        case "data" =>
          val (ch, rate, bits) = fmt.getOrElse(
            throw new IllegalArgumentException("wav: data before fmt"))
          require(bits == 16, s"wav: only 16-bit PCM supported ($bits)")
          require(ch >= 1, s"wav: bad channel count $ch")
          val nSamples = len.toLong / (2L * ch)
          var sum = 0L; var peak = 0L; var i = 0L
          while (i < nSamples * ch) {
            val a = math.abs(bb.getShort().toLong)
            sum += a; if (a > peak) peak = a
            i += 1
          }
          out = Some((ch, rate, bits, nSamples,
            nSamples * 1000L / rate, peak, sum))
        case _ =>
          bb.position(bb.position() + len + (len & 1)) // word-aligned
      }
    }
    out.getOrElse(throw new IllegalArgumentException("wav: no data chunk"))
  }

  /** Batched REAL decode of a WAV binary column — the
    * `decodeFramesBatched` grouped-iterator shape with an actual codec
    * behind it: rows decode in fixed-size batches per partition
    * (amortized setup, bounded memory), payload bytes parsed
    * chunk-by-chunk. Output is one row per clip with format fields +
    * content aggregates; the payload column is consumed here and NOT
    * carried forward, so downstream plans never reread bytes. */
  def decodeWav(audio: DataFrame, wavCol: String = "wav",
      batchSize: Int = 64): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val idField = audio.schema("doc_id")
    val outSchema = StructType(Seq(idField,
      StructField("sample_rate", IntegerType),
      StructField("n_channels", IntegerType),
      StructField("bits", IntegerType),
      StructField("n_samples", LongType),
      StructField("duration_ms", LongType),
      StructField("peak_abs", LongType),
      StructField("sum_abs", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val idIdx = audio.schema.fieldIndex("doc_id")
    val wIdx = audio.schema.fieldIndex(wavCol)
    audio.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // per-batch setup boundary (a native decoder would bind here)
        batch.iterator.map { r =>
          val (ch, rate, bits, n, dur, peak, sum) =
            parseWav(r.getAs[Array[Byte]](wIdx))
          Row(r.get(idIdx), rate, ch, bits, n, dur, peak, sum)
        }
      }
    }(enc)
  }

  /** Chunk-walk + windowed-energy read of a WAV payload: total
    * |sample| per each of `nWindows` equal index partitions (sample i
    * → window i·nWindows div n — the integer map the SQL oracle
    * replays). Interleaved channels are read flat (the fixture is
    * mono; for stereo the flat read just doubles every window's mass
    * symmetrically, which the DELTA fingerprint below is invariant
    * to). Same loud-failure contract as parseWav. */
  private[multimodal] def parseWavEnergies(bytes: Array[Byte],
      nWindows: Int): (Int, Long, Array[Long]) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag4(): String = {
      val a = new Array[Byte](4); bb.get(a); new String(a, "US-ASCII")
    }
    require(tag4() == "RIFF", "wav: missing RIFF magic")
    bb.getInt()
    require(tag4() == "WAVE", "wav: missing WAVE form type")
    var fmt: Option[(Int, Int, Int)] = None
    var out: Option[(Int, Long, Array[Long])] = None
    while (out.isEmpty && bb.remaining() >= 8) {
      val id = tag4()
      val len = bb.getInt()
      id match {
        case "fmt " =>
          val audioFormat = bb.getShort()
          require(audioFormat == 1, s"wav: not PCM (format=$audioFormat)")
          val ch = bb.getShort().toInt
          val rate = bb.getInt()
          bb.getInt(); bb.getShort()
          val bits = bb.getShort().toInt
          if (len > 16) bb.position(bb.position() + (len - 16))
          fmt = Some((ch, rate, bits))
        case "data" =>
          val (ch, rate, bits) = fmt.getOrElse(
            throw new IllegalArgumentException("wav: data before fmt"))
          require(bits == 16, s"wav: only 16-bit PCM supported ($bits)")
          require(ch >= 1, s"wav: bad channel count $ch")
          val n = len.toLong / 2L // flat sample count
          val e = new Array[Long](nWindows)
          var i = 0L
          while (i < n) {
            e((i * nWindows / n).toInt) +=
              math.abs(bb.getShort().toLong)
            i += 1
          }
          out = Some((rate, n, e))
        case _ =>
          bb.position(bb.position() + len + (len & 1))
      }
    }
    out.getOrElse(throw new IllegalArgumentException("wav: no data chunk"))
  }

  /** Perceptual 64-bit audio fingerprint — the WAV twin of
    * `dhashBmp`: 65 windowed energies, bit i = 1 iff
    * energy(i) > energy(i+1). The energy-DELTA form is invariant to
    * uniform gain and clip length (windows are fractional positions),
    * and a local edit moves only the bits whose windows it touches —
    * exactly the property Hamming banding needs for audio near-dup.
    * Integer-only (|sample| sums, no FFT floats), so the DuckDB
    * oracle replays every bit from the synthSample arithmetic. */
  def afp64Wav(audio: DataFrame, wavCol: String = "wav",
      batchSize: Int = 64): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val idField = audio.schema("doc_id")
    val outSchema = StructType(Seq(idField,
      StructField("n_samples", LongType),
      StructField("fp_hi", LongType),
      StructField("fp_lo", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val idIdx = audio.schema.fieldIndex("doc_id")
    val wIdx = audio.schema.fieldIndex(wavCol)
    audio.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          val (_, n, e) =
            parseWavEnergies(r.getAs[Array[Byte]](wIdx), 65)
          var hi = 0L; var lo = 0L
          var i = 0
          while (i < 64) {
            if (e(i) > e(i + 1)) {
              if (i < 32) hi |= 1L << i else lo |= 1L << (i - 32)
            }
            i += 1
          }
          Row(r.get(idIdx), n, hi, lo)
        }
      }
    }(enc)
  }

  /** Fixture input for the audio near-dup gate (the phashPairsInput
    * twin): groups of ≤4 docs share one base clip, each variant
    * re-encoded with a one-sample perturbation. synthSample's period
    * in the doc id is 20001 (coprime multiplier), so unlike the pixel
    * path there are no identical-clip classes to bound away — pair
    * count is linear in docs at every SF by construction. */
  private[multimodal] def afpPairsInput(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val outSchema = StructType(Seq(docs.schema("doc_id"),
      StructField("wav", BinaryType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val dIdx = docs.schema.fieldIndex("doc_id")
    docs.mapPartitions { it =>
      it.map { r =>
        val d = r.get(dIdx).asInstanceOf[Number].longValue
        val base = d / 4
        val n = ((base % 30 + 1) * 80).toInt
        Row(r.get(dIdx),
          wavBytes(base, n, 8000, perturb = ((d % 4) * 500L).toInt))
      }
    }(enc)
  }

  // ---- real BMP codec + resize (pure-JVM image path: uncompressed
  // 24-bit Windows bitmaps are byte-decodable with no codec library;
  // compressed formats remain the declared stub boundary) ----

  /** Deterministic synthetic channel value of pixel (x,y), channel c
    * (0=R,1=G,2=B) of doc d — shared by the BMP synthesizer and the
    * DuckDB oracle, which recomputes it in SQL. */
  private def synthPixel(d: Long, x: Int, y: Int, c: Int): Int =
    ((d * 31L + x * 7L + y * 13L + c * 101L) % 256L).toInt

  /** Image dims from doc metadata: width 2..14 (mostly NOT a multiple
    * of 4, so BMP row padding is actually exercised), height 2..8. */
  private def bmpDims(nChars: Long): (Int, Int) =
    (((nChars % 13) + 2).toInt, ((nChars % 7) + 2).toInt)

  /** Serialize a canonical 54-byte-header uncompressed 24-bit BMP
    * (bottom-up rows, BGR byte order, rows padded to 4-byte stride —
    * the real on-disk format) around the synthetic pixels. */
  /** `perturb` (near-dup fixture knob): added (mod 256) to the three
    * channel values of pixel (0,0) only — a one-pixel "re-encode
    * artifact" that leaves the image perceptually identical, used by
    * the phash gates to plant NEAR (not exact) duplicate images. */
  private[graft] def bmpBytes(docId: Long, w: Int, h: Int,
      perturb: Int = 0)
      : Array[Byte] = {
    val stride = ((w * 3) + 3) / 4 * 4
    val dataLen = stride * h
    val bb = java.nio.ByteBuffer.allocate(54 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte)
    bb.putInt(54 + dataLen) // file size
    bb.putInt(0)            // reserved
    bb.putInt(54)           // pixel data offset
    bb.putInt(40)           // BITMAPINFOHEADER size
    bb.putInt(w)
    bb.putInt(h)            // positive → bottom-up row order
    bb.putShort(1)          // planes
    bb.putShort(24)         // bits per pixel
    bb.putInt(0)            // BI_RGB (uncompressed)
    bb.putInt(dataLen)
    bb.putInt(2835); bb.putInt(2835) // 72 dpi
    bb.putInt(0); bb.putInt(0)       // palette
    var j = 0
    while (j < h) {
      val y = h - 1 - j // file rows run bottom-up
      var x = 0
      while (x < w) {
        val p = if (x == 0 && y == 0) perturb else 0
        bb.put(((synthPixel(docId, x, y, 2) + p) % 256).toByte) // B
        bb.put(((synthPixel(docId, x, y, 1) + p) % 256).toByte) // G
        bb.put(((synthPixel(docId, x, y, 0) + p) % 256).toByte) // R
        x += 1
      }
      var p = w * 3
      while (p < stride) { bb.put(0.toByte); p += 1 } // row padding
      j += 1
    }
    bb.array()
  }

  /** Attach a REAL (byte-valid) BMP payload to documents, dims from
    * `bmpDims(n_chars)`. Batched mapPartitions shape (codec-boundary
    * convention — byte serialization is imperative, not relational). */
  def withBmpColumn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val outSchema = StructType(docs.schema.fields :+
      StructField("bmp", BinaryType))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val dIdx = docs.schema.fieldIndex("doc_id")
    val nIdx = docs.schema.fieldIndex("n_chars")
    docs.mapPartitions { it =>
      it.map { r =>
        val d = r.get(dIdx).asInstanceOf[Number].longValue
        val (w, h) = bmpDims(r.get(nIdx).asInstanceOf[Number].longValue)
        Row.fromSeq(r.toSeq :+ bmpBytes(d, w, h))
      }
    }(enc)
  }

  /** REAL BMP parse: validates magic/header/bpp/compression (RAISES on
    * malformed input — no silent fakes), then walks the padded
    * bottom-up rows into a top-down row-major RGB byte array. */
  private[multimodal] def parseBmp(bytes: Array[Byte])
      : (Int, Int, Array[Byte]) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bb.get() == 'B'.toByte && bb.get() == 'M'.toByte,
      "bmp: missing BM magic")
    bb.getInt(); bb.getInt() // file size, reserved
    val dataOffset = bb.getInt()
    val hdrSize = bb.getInt()
    require(hdrSize >= 40, s"bmp: unsupported header size $hdrSize")
    val w = bb.getInt()
    val h = bb.getInt()
    require(w > 0 && h > 0,
      s"bmp: only positive (bottom-up) dims supported (${w}x$h)")
    bb.getShort() // planes
    val bpp = bb.getShort().toInt
    require(bpp == 24, s"bmp: only 24-bit supported ($bpp)")
    val compression = bb.getInt()
    require(compression == 0, s"bmp: compressed ($compression)")
    // dataOffset bounded to [54, len] and all size checks in LONG: a
    // malformed header with huge w/h must hit a loud require here,
    // not overflow stride*h (or w*3) in Int — which could pass a
    // negative product and then throw ArrayIndexOutOfBounds or read
    // header bytes as pixels
    val strideL = ((w.toLong * 3) + 3) / 4 * 4
    require(dataOffset >= 54 && dataOffset <= bytes.length,
      s"bmp: pixel data offset $dataOffset out of range")
    require(bytes.length.toLong >=
        dataOffset.toLong + strideL * h.toLong,
      "bmp: truncated pixel data")
    val stride = strideL.toInt // safe: strideL*h fits the byte array
    val px = new Array[Byte](w * h * 3) // top-down RGB
    var j = 0
    while (j < h) {
      val y = h - 1 - j
      var x = 0
      while (x < w) {
        val src = dataOffset + j * stride + x * 3
        val dst = (y * w + x) * 3
        px(dst) = bytes(src + 2)     // R (file order is BGR)
        px(dst + 1) = bytes(src + 1) // G
        px(dst + 2) = bytes(src)     // B
        x += 1
      }
      j += 1
    }
    (w, h, px)
  }

  /** Batched REAL decode of a BMP binary column: one row per image
    * with format fields + per-channel content sums. Payload consumed
    * here, not carried forward. */
  def decodeBmp(images: DataFrame, bmpCol: String = "bmp",
      batchSize: Int = 64): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val idField = images.schema("doc_id")
    val outSchema = StructType(Seq(idField,
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("bpp", IntegerType),
      StructField("n_pixels", LongType),
      StructField("sum_r", LongType),
      StructField("sum_g", LongType),
      StructField("sum_b", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val idIdx = images.schema.fieldIndex("doc_id")
    val bIdx = images.schema.fieldIndex(bmpCol)
    images.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // per-batch setup boundary (a native decoder would bind here)
        batch.iterator.map { r =>
          val (w, h, px) = parseBmp(r.getAs[Array[Byte]](bIdx))
          var sr = 0L; var sg = 0L; var sb = 0L; var i = 0
          while (i < w * h) {
            sr += px(i * 3) & 0xff
            sg += px(i * 3 + 1) & 0xff
            sb += px(i * 3 + 2) & 0xff
            i += 1
          }
          Row(r.get(idIdx), w, h, 24, (w.toLong * h), sr, sg, sb)
        }
      }
    }(enc)
  }

  /** REAL nearest-neighbor resize over decoded pixels: every output
    * pixel (x,y) of the WxH target samples source pixel
    * (x·w div W, y·h div H). Emits per-image aggregates of the RESIZED
    * image — per-channel sums plus a position-weighted checksum
    * (Σ (1+x+W·y)·(r+2g+3b)) that catches transposed/shifted sampling
    * a plain sum would miss. */
  def resizeBmpNearest(images: DataFrame, targetW: Int, targetH: Int,
      bmpCol: String = "bmp", batchSize: Int = 64): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    require(targetW > 0 && targetH > 0, "resize target must be positive")
    val idField = images.schema("doc_id")
    val outSchema = StructType(Seq(idField,
      StructField("src_w", IntegerType),
      StructField("src_h", IntegerType),
      StructField("dst_w", IntegerType),
      StructField("dst_h", IntegerType),
      StructField("rs_sum_r", LongType),
      StructField("rs_sum_g", LongType),
      StructField("rs_sum_b", LongType),
      StructField("rs_check", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val idIdx = images.schema.fieldIndex("doc_id")
    val bIdx = images.schema.fieldIndex(bmpCol)
    images.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          val (w, h, px) = parseBmp(r.getAs[Array[Byte]](bIdx))
          var sr = 0L; var sg = 0L; var sb = 0L; var chk = 0L
          var y = 0
          while (y < targetH) {
            val sy = y * h / targetH
            var x = 0
            while (x < targetW) {
              val sx = x * w / targetW
              val o = (sy * w + sx) * 3
              val pr = px(o) & 0xff
              val pg = px(o + 1) & 0xff
              val pb = px(o + 2) & 0xff
              sr += pr; sg += pg; sb += pb
              chk += (1L + x + targetW.toLong * y) *
                (pr + 2L * pg + 3L * pb)
              x += 1
            }
            y += 1
          }
          Row(r.get(idIdx), w, h, targetW, targetH, sr, sg, sb, chk)
        }
      }
    }(enc)
  }

  // ---- real PNG codec (pure-JVM: DEFLATE via java.util.zip, no
  // codec library) — the compressed-format twin of the BMP path ----

  private def crc32(b: Array[Byte], off: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32()
    c.update(b, off, len)
    c.getValue.toInt
  }

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b)
    val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Serialize a spec-valid 8-bit-RGB non-interlaced PNG around the
    * synthetic pixels — and apply a DIFFERENT scanline filter per row
    * (row j uses filter j % 5: None/Sub/Up/Average/Paeth), so every
    * synthesized image of height ≥ 5 exercises the decoder's complete
    * unfilter matrix, not just the trivial filter-0 path. Chunk CRCs
    * are real (the parser verifies them). */
  private[multimodal] def pngBytes(docId: Long, w: Int, h: Int)
      : Array[Byte] = {
    // raw top-down RGB scanlines
    val bpp = 3
    val raw = Array.ofDim[Byte](h, w * bpp)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until bpp)
      raw(y)(x * bpp + c) = synthPixel(docId, x, y, c).toByte
    // filtered stream: per row, 1 filter byte + filtered bytes
    val filt = new java.io.ByteArrayOutputStream()
    for (y <- 0 until h) {
      val f = y % 5
      filt.write(f)
      val cur = raw(y)
      val up = if (y > 0) raw(y - 1) else new Array[Byte](w * bpp)
      var i = 0
      while (i < w * bpp) {
        val x = cur(i) & 0xff
        val a = if (i >= bpp) cur(i - bpp) & 0xff else 0
        val b = up(i) & 0xff
        val c = if (i >= bpp) up(i - bpp) & 0xff else 0
        val out = f match {
          case 0 => x
          case 1 => x - a
          case 2 => x - b
          case 3 => x - (a + b) / 2
          case 4 => x - paeth(a, b, c)
        }
        filt.write(out & 0xff)
        i += 1
      }
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(filt.toByteArray); deflater.finish()
    val comp = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!deflater.finished())
      comp.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    val idat = comp.toByteArray
    val out = java.nio.ByteBuffer
      .allocate(8 + 25 + (12 + idat.length) + 12)
      .order(java.nio.ByteOrder.BIG_ENDIAN) // PNG ints are big-endian
    out.put(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a,
      0x1a, 0x0a))
    def chunk(typ: String, body: Array[Byte]): Unit = {
      out.putInt(body.length)
      val start = out.position()
      out.put(typ.getBytes("US-ASCII")).put(body)
      out.putInt(crc32(out.array(), start, 4 + body.length))
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    ihdr.putInt(w).putInt(h)
    ihdr.put(8.toByte)  // bit depth
    ihdr.put(2.toByte)  // color type: truecolor RGB
    ihdr.put(0.toByte).put(0.toByte).put(0.toByte) // deflate/adaptive/no-interlace
    chunk("IHDR", ihdr.array())
    chunk("IDAT", idat)
    chunk("IEND", Array.emptyByteArray)
    out.array()
  }

  /** REAL PNG parse: signature + chunk walk with CRC verification,
    * IHDR validation (8-bit truecolor non-interlaced — the one layout
    * this engine synthesizes; anything else RAISES loudly, the
    * parseBmp discipline), IDAT concatenation, full inflate, then the
    * complete unfilter matrix (None/Sub/Up/Average/Paeth). Returns
    * (w, h, top-down RGB). */
  private[multimodal] def parsePng(bytes: Array[Byte])
      : (Int, Int, Array[Byte]) = {
    require(bytes.length >= 8 &&
      (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' &&
      bytes(3) == 'G', "png: missing signature")
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.position(8)
    var w = 0; var h = 0
    var seenIhdr = false; var seenIend = false
    val idat = new java.io.ByteArrayOutputStream()
    while (!seenIend) {
      require(bb.remaining() >= 12, "png: truncated chunk stream")
      val len = bb.getInt
      require(len >= 0 && bb.remaining() >= len + 8,
        s"png: chunk length $len overruns the file")
      val start = bb.position()
      val typ = new String(bytes, start, 4, "US-ASCII")
      bb.position(start + 4 + len)
      val crcWant = bb.getInt
      require(crc32(bytes, start, 4 + len) == crcWant,
        s"png: bad CRC on $typ chunk")
      typ match {
        case "IHDR" =>
          val ih = java.nio.ByteBuffer.wrap(bytes, start + 4, len)
            .order(java.nio.ByteOrder.BIG_ENDIAN)
          w = ih.getInt; h = ih.getInt
          require(w > 0 && h > 0, s"png: bad dims ${w}x$h")
          // LONG bound check before any stride math (the parseBmp
          // header-overflow discipline)
          require(w.toLong * h * 3 < Int.MaxValue - 1024,
            s"png: image too large ${w}x$h")
          val depth = ih.get() & 0xff; val color = ih.get() & 0xff
          ih.get(); ih.get()
          val interlace = ih.get() & 0xff
          require(depth == 8 && color == 2 && interlace == 0,
            s"png: unsupported layout depth=$depth color=$color " +
              s"interlace=$interlace (8-bit RGB non-interlaced only)")
          seenIhdr = true
        case "IDAT" =>
          require(seenIhdr, "png: IDAT before IHDR")
          idat.write(bytes, start + 4, len)
        case "IEND" => seenIend = true
        case _ => () // ancillary chunks skipped (CRC still verified)
      }
    }
    require(seenIhdr, "png: no IHDR")
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(idat.toByteArray)
    val stride = w * 3
    val filtered = new Array[Byte]((stride + 1) * h)
    var got = 0
    while (got < filtered.length && !inflater.finished()) {
      val n = inflater.inflate(filtered, got, filtered.length - got)
      require(n > 0 || inflater.finished(),
        "png: deflate stream stalled (corrupt or truncated IDAT)")
      got += n
    }
    inflater.end()
    require(got == filtered.length,
      s"png: short pixel stream ($got of ${filtered.length} bytes)")
    val px = new Array[Byte](stride * h)
    var y = 0
    while (y < h) {
      val f = filtered((stride + 1) * y) & 0xff
      require(f <= 4, s"png: unknown filter $f on row $y")
      val rowOff = (stride + 1) * y + 1
      val outOff = stride * y
      var i = 0
      while (i < stride) {
        val x = filtered(rowOff + i) & 0xff
        val a = if (i >= 3) px(outOff + i - 3) & 0xff else 0
        val b = if (y > 0) px(outOff - stride + i) & 0xff else 0
        val c = if (y > 0 && i >= 3) px(outOff - stride + i - 3) & 0xff
          else 0
        val v = f match {
          case 0 => x
          case 1 => x + a
          case 2 => x + b
          case 3 => x + (a + b) / 2
          case 4 => x + paeth(a, b, c)
        }
        px(outOff + i) = (v & 0xff).toByte
        i += 1
      }
      y += 1
    }
    (w, h, px)
  }

  /** Attach a REAL (spec-valid, CRC'd, deflated) PNG payload to
    * documents — dims from `bmpDims(n_chars)`, same synthetic pixels
    * as the BMP path, so the two codecs are cross-checkable. */
  def withPngColumn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val outSchema = StructType(docs.schema.fields :+
      StructField("png", BinaryType))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val dIdx = docs.schema.fieldIndex("doc_id")
    val nIdx = docs.schema.fieldIndex("n_chars")
    docs.mapPartitions { it =>
      it.map { r =>
        val d = r.get(dIdx).asInstanceOf[Number].longValue
        val (w, h) = bmpDims(r.get(nIdx).asInstanceOf[Number].longValue)
        Row.fromSeq(r.toSeq :+ pngBytes(d, w, h))
      }
    }(enc)
  }

  /** Batched REAL decode of a PNG binary column — same output shape
    * as `decodeBmp`, so the m_png_decode oracle is the m_image_decode
    * oracle verbatim (two codecs, one truth). */
  def decodePng(images: DataFrame, pngCol: String = "png",
      batchSize: Int = 64): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val idField = images.schema("doc_id")
    val outSchema = StructType(Seq(idField,
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("bpp", IntegerType),
      StructField("n_pixels", LongType),
      StructField("sum_r", LongType),
      StructField("sum_g", LongType),
      StructField("sum_b", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val idIdx = images.schema.fieldIndex("doc_id")
    val bIdx = images.schema.fieldIndex(pngCol)
    images.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          val (w, h, px) = parsePng(r.getAs[Array[Byte]](bIdx))
          var sr = 0L; var sg = 0L; var sb = 0L; var i = 0
          while (i < w * h) {
            sr += px(i * 3) & 0xff
            sg += px(i * 3 + 1) & 0xff
            sb += px(i * 3 + 2) & 0xff
            i += 1
          }
          Row(r.get(idIdx), w, h, 24, (w.toLong * h), sr, sg, sb)
        }
      }
    }(enc)
  }

  /** Perceptual 64-bit difference hash (dHash) over decoded pixels:
    * nearest-neighbor sample a 9×8 luma grid, bit (gx,gy) = 1 iff
    * luma(gx,gy) > luma(gx+1,gy) — the standard gradient hash that is
    * invariant to uniform brightness/scale changes and moves only a
    * few bits under small local edits, which is exactly what Hamming
    * banding needs for image near-dup at corpus scale.
    *
    * INTEGER-ONLY by construction: luma = 299r+587g+114b carried
    * UNDIVIDED (comparisons are scale-invariant), sample indices are
    * integer div — so the DuckDB oracle replays every bit exactly.
    * The 64 bits ship as two non-negative 32-bit words (ph_hi = bits
    * 0..31, ph_lo = 32..63) to keep the SQL packing clear of the
    * BIGINT sign bit; `phash64` packs them for the band join. */
  def dhashBmp(images: DataFrame, bmpCol: String = "bmp",
      batchSize: Int = 64): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val idField = images.schema("doc_id")
    val outSchema = StructType(Seq(idField,
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("ph_hi", LongType),
      StructField("ph_lo", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val idIdx = images.schema.fieldIndex("doc_id")
    val bIdx = images.schema.fieldIndex(bmpCol)
    images.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          val (w, h, px) = parseBmp(r.getAs[Array[Byte]](bIdx))
          val luma = Array.ofDim[Long](9, 8)
          var gy = 0
          while (gy < 8) {
            val sy = gy * h / 8
            var gx = 0
            while (gx < 9) {
              val sx = gx * w / 9
              val o = (sy * w + sx) * 3
              luma(gx)(gy) = 299L * (px(o) & 0xff) +
                587L * (px(o + 1) & 0xff) + 114L * (px(o + 2) & 0xff)
              gx += 1
            }
            gy += 1
          }
          var hi = 0L; var lo = 0L
          var i = 0
          while (i < 64) {
            val gx = i % 8; val row = i / 8
            if (luma(gx)(row) > luma(gx + 1)(row)) {
              if (i < 32) hi |= 1L << i else lo |= 1L << (i - 32)
            }
            i += 1
          }
          Row(r.get(idIdx), w, h, hi, lo)
        }
      }
    }(enc)
  }

  /** Fixture input for the image near-dup gates: documents collapse
    * onto shared base images (img_id = doc_id div 4 → groups of ≤4
    * docs carry the SAME picture), each variant re-encoded with a
    * one-pixel perturbation (`bmpBytes(…, perturb)`). Dims ≥ 9×8 so
    * the dHash grid is not oversampled and the planted perturbation
    * moves at most one bit — every in-group pair sits within the
    * banding recall bound. Group size is FIXED (4), so pair count
    * stays linear in docs at any scale. */
  private[multimodal] def phashPairsInput(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val outSchema = StructType(Seq(docs.schema("doc_id"),
      StructField("bmp", BinaryType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val dIdx = docs.schema.fieldIndex("doc_id")
    docs.mapPartitions { it =>
      it.map { r =>
        val d = r.get(dIdx).asInstanceOf[Number].longValue
        val img = d / 4
        val perturb = ((d % 4) * 60L).toInt
        val w = (img % 6 + 9).toInt // 9..14
        val h = 8
        Row(r.get(dIdx), bmpBytes(img, w, h, perturb))
      }
    }(enc)
  }

  /** Fixture input for the VIDEO near-dup gates: each doc is a clip
    * VARIANT (clip_id = doc_id div 4, 4 variants per clip — the
    * phashPairsInput grouping), each clip carries 3 sampled frames
    * synthesized as real BMPs from a per-frame virtual id
    * (clip·131 + frame·17 — spacing chosen so frames of one clip
    * never collide), and each non-canonical variant perturbs EXACTLY
    * ONE frame (a re-encode artifact on one frame): the other two
    * frames stay bit-identical, so variants of a clip must meet the
    * ≥2-matching-frames vote however the perturbed frame hashes.
    * One row per (doc, frame); fid = doc_id·8 + frame_idx packs the
    * pair into dhashBmp's single id column. */
  private[multimodal] def vhashFramesInput(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("bmp", BinaryType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val dIdx = docs.schema.fieldIndex("doc_id")
    docs.mapPartitions { it =>
      it.flatMap { r =>
        val d = r.get(dIdx).asInstanceOf[Number].longValue
        val clip = d / 4
        val variant = (d % 4).toInt
        val w = (clip % 6 + 9).toInt // 9..14, the dHash grid floor
        val h = 8
        (0 until 3).iterator.map { f =>
          val pert = if (f == variant % 3) variant * 60 else 0
          Row(d * 8 + f, bmpBytes(clip * 131 + f * 17, w, h, pert))
        }
      }
    }(enc)
  }

  /** Per-frame dHash frame for the video gates (shared by both):
    * REAL per-frame decode → 64-bit dHash per (doc, frame). */
  private def vhashFrames(s: SparkSession, d: String): DataFrame =
    dhashBmp(vhashFramesInput(
      // constant-id slice: the m_phash_pairs rationale verbatim —
      // synthPixel is mod-256 periodic in the virtual id, so an
      // unbounded corpus hands the fixture identical-clip classes
      // that grow with SF (a corpus-construction artifact, not an
      // operator property; production video has no such periodicity)
      t(s, d, "documents").select("doc_id")
        .filter(col("doc_id") < 20000)))
      .select(expr("doc_id DIV 8").as("doc_id"),
        pmod(col("doc_id"), lit(8)).cast("int").as("frame_idx"),
        col("ph_hi"), col("ph_lo"))

  /** Gate query: per-frame video hash — REAL BMP decode per sampled
    * frame → 9×8 luma grid → 64-bit dHash, keyed (doc, frame). Full
    * oracle: DuckDB recomputes every frame's bits from the synthesis
    * arithmetic (the m_phash oracle, parameterized by frame). */
  private def mVhash(s: SparkSession, d: String): DataFrame =
    vhashFrames(s, d)

  /** Gate query: video NEAR-dup pairs — per-frame dHashes banded at
    * the SAME frame index (`Dedup.hammingBandCandidatesBy`: temporal
    * alignment is part of the blocking key), frames verified at
    * hamming ≤ 3, clip pairs voted by ≥2 matching frames — re-encoded
    * clips (one frame perturbed) pass on their untouched frames.
    * Oracle: DuckDB brute-forces every clip pair frame-by-frame over
    * the m_vhash dump — whose own oracle recomputes every hash bit
    * arithmetically in the same run — so banding completeness within
    * the recall bound is checked against arithmetic truth, not
    * assumed. */
  private def mVhashPairs(s: SparkSession, d: String): DataFrame = {
    val hashed = vhashFrames(s, d)
      .select(col("doc_id"), col("frame_idx"),
        shiftleft(col("ph_lo"), 32).bitwiseOR(col("ph_hi")).as("vh"))
    graft.dedup.Dedup
      .hammingBandCandidatesBy(hashed, "doc_id", "vh", "frame_idx",
        stageSketch = true)
      .filter(col("hamming") <= 3)
      .groupBy("doc_a", "doc_b")
      .agg(countDistinct("frame_idx").as("n_frames_matched"))
      .filter(col("n_frames_matched") >= 2)
  }

  /** Gate query: REAL image codec end-to-end — synthesize byte-valid
    * 24-bit BMPs from documents, decode them back through the batched
    * parser. The oracle recomputes dims + channel sums from the
    * synthesis arithmetic — a header mis-write, BGR/RGB swap, row-
    * order or padding drift on any doc hash-mismatches. */
  private def mImageDecode(s: SparkSession, d: String): DataFrame =
    decodeBmp(withBmpColumn(
      t(s, d, "documents").select("doc_id", "n_chars")))

  /** Gate query: REAL resize on decoded pixels (5x4 nearest-neighbor;
    * targets share no common factor with most source dims). Oracle
    * replays the index arithmetic ((x·w div 5, y·h div 4)) over the
    * synthetic pixel formula, including the position-weighted check. */
  private def mImageResize(s: SparkSession, d: String): DataFrame =
    resizeBmpNearest(withBmpColumn(
      t(s, d, "documents").select("doc_id", "n_chars")), 5, 4)

  /** Gate query: REAL codec end-to-end — synthesize byte-valid WAV
    * clips from documents, then decode them back through the batched
    * parser. The oracle recomputes every field from the synthesis
    * arithmetic (n_chars → n_samples, the synthSample recurrence →
    * peak/Σ|s|) — a header mis-write or parse drift on any doc
    * hash-mismatches. */
  private def mAudioDecode(s: SparkSession, d: String): DataFrame =
    decodeWav(withWavColumn(
      t(s, d, "documents").select("doc_id", "n_chars")))

  /** Gate query: frame sampling end-to-end (explode + per-frame
    * feature), oracled via generate_series on the same metadata. */
  private def mFrameSample(s: SparkSession, d: String): DataFrame =
    sampleFrames(withVideoColumn(t(s, d, "documents")), every = 10)

  /** Gate query: overlapped audio segmentation (1 s windows, 0.5 s
    * hop), oracled via generate_series on the same metadata. */
  private def mAudioSegments(s: SparkSession, d: String): DataFrame =
    segmentAudio(withAudioColumn(t(s, d, "documents")))

  /** Gate query: full plumbing — binary col, metadata struct,
    * stub-decode features, metadata-only projection. Oracle works on
    * the text the payload was derived from. */
  private def mStub(s: SparkSession, d: String): DataFrame =
    decodeStub(withImageColumn(t(s, d, "documents")))
      .select(
        col("doc_id"), col("meta.width").as("width"),
        col("meta.height").as("height"), col("n_bytes"),
        col("checksum"), col("brightness"))

  /** Gate query: perceptual hash per document image — REAL decode →
    * 9×8 luma grid → 64-bit dHash as two 32-bit words. Full oracle:
    * DuckDB recomputes every grid luma from the synthesis arithmetic
    * and packs the same bits. */
  private def mPhash(s: SparkSession, d: String): DataFrame =
    dhashBmp(withBmpColumn(
      t(s, d, "documents").select("doc_id", "n_chars")))

  /** Gate query: image NEAR-dup pairs — the perceptual twin of
    * `d_simhash_pairs`: planted shared-image groups with one-pixel
    * re-encode perturbations → dHash → Hamming band join
    * (`Dedup.hammingBandCandidates` — the same banding geometry as
    * text SimHash) → exact-distance verify ≤ 3. Full oracle: DuckDB
    * recomputes the hashes arithmetically and brute-forces ALL pairs
    * with bit_count(xor) — banding completeness within the recall
    * bound is therefore checked, not assumed. */
  private def mPhashPairs(s: SparkSession, d: String): DataFrame = {
    // constant-id slice (the ScaleUp vec_id<10 / doc_id<40 precedent):
    // synthPixel is periodic in doc mod 256, so an UNBOUNDED corpus
    // hands the fixture identical-image classes that grow with SF and
    // a pair surface quadratic in class size — a corpus-construction
    // artifact, not an operator property. 20k ids keep the planted
    // geometry at every SF and the gate constant-cost past sf0.1.
    // Production imagery has no such periodicity; the operator itself
    // is bounded by hammingBandCandidates' bucket cap.
    val hashed = dhashBmp(
        phashPairsInput(t(s, d, "documents").select("doc_id")
          .filter(col("doc_id") < 20000)))
      .withColumn("ph",
        shiftleft(col("ph_lo"), 32).bitwiseOR(col("ph_hi")))
    graft.dedup.Dedup.hammingBandCandidates(hashed, "doc_id", "ph",
      stageSketch = true)
      .filter(col("hamming") <= 3)
  }

  /** Gate query: REAL compressed-image codec end-to-end — synthesize
    * spec-valid PNGs (deflate, per-row filter rotation, real CRCs)
    * from documents, decode them back through the batched parser.
    * Same pixels and output shape as m_image_decode, so the SAME
    * oracle verifies both codecs — any drift between the BMP and PNG
    * paths, or in the filter/deflate round-trip, hash-mismatches. */
  private def mPngDecode(s: SparkSession, d: String): DataFrame =
    decodePng(withPngColumn(
      t(s, d, "documents").select("doc_id", "n_chars")))

  /** Gate query: perceptual audio fingerprint per document clip —
    * REAL WAV decode → 65 windowed energies → 64-bit delta hash.
    * Full oracle from the synthSample arithmetic. */
  private def mAudioFp(s: SparkSession, d: String): DataFrame =
    afp64Wav(withWavColumn(
      t(s, d, "documents").select("doc_id", "n_chars")))

  /** Gate query: audio NEAR-dup pairs — planted shared-clip groups
    * with one-sample perturbations → energy-delta fingerprint →
    * the SAME Hamming band machinery as text SimHash and image
    * dHash → exact verify ≤ 3. Full oracle: brute bit_count(xor)
    * over arithmetically-recomputed fingerprints. */
  private def mAudioFpPairs(s: SparkSession, d: String): DataFrame = {
    // constant-id slice (the m_phash_pairs rationale, different
    // mechanism): synthSample(base, i) = f(base·31 + i·7919) — every
    // clip is a PHASE SHIFT of one underlying |sample| waveform, so
    // at corpus scale unrelated clips share fingerprint substructure
    // and densify the band buckets (155 s cold at sf10 unsliced).
    // Real audio shares no global waveform; the operator is bounded
    // by the band-bucket cap. 20k ids keep the planted geometry at
    // every SF and the gate constant-cost past sf0.1.
    val hashed = afp64Wav(
        afpPairsInput(t(s, d, "documents").select("doc_id")
          .filter(col("doc_id") < 20000)))
      .withColumn("fp",
        shiftleft(col("fp_lo"), 32).bitwiseOR(col("fp_hi")))
    graft.dedup.Dedup.hammingBandCandidates(hashed, "doc_id", "fp",
      stageSketch = true)
      .filter(col("hamming") <= 3)
  }

  private val imageDecodeOracle: String =
    """WITH p AS (
         SELECT doc_id, (n_chars % 13) + 2 AS w, (n_chars % 7) + 2 AS h
         FROM documents),
       v AS (
         SELECT doc_id, w, h, x.x AS x, y.y AS y
         FROM p, unnest(range(0, w)) AS x(x),
                 unnest(range(0, h)) AS y(y))
       SELECT doc_id,
         CAST(w AS INT) AS width, CAST(h AS INT) AS height,
         CAST(24 AS INT) AS bpp,
         CAST(w * h AS BIGINT) AS n_pixels,
         CAST(sum((doc_id*31 + x*7 + y*13) % 256) AS BIGINT) AS sum_r,
         CAST(sum((doc_id*31 + x*7 + y*13 + 101) % 256) AS BIGINT)
           AS sum_g,
         CAST(sum((doc_id*31 + x*7 + y*13 + 202) % 256) AS BIGINT)
           AS sum_b
       FROM v GROUP BY doc_id, w, h"""

  val gates: Seq[Gate] = Seq(
    Gate("m_phash", mPhash _, Some(
      """WITH p AS (
           SELECT doc_id, (n_chars % 13) + 2 AS w, (n_chars % 7) + 2 AS h
           FROM documents),
         cells AS (
           SELECT doc_id, w, h, gx.gx AS gx, gy.gy AS gy,
             (gx.gx * w) // 9 AS sx, (gy.gy * h) // 8 AS sy
           FROM p, unnest(range(0, 9)) AS gx(gx),
                   unnest(range(0, 8)) AS gy(gy)),
         lum AS (
           SELECT doc_id, w, h, gx, gy,
             299 * ((doc_id*31 + sx*7 + sy*13) % 256)
             + 587 * ((doc_id*31 + sx*7 + sy*13 + 101) % 256)
             + 114 * ((doc_id*31 + sx*7 + sy*13 + 202) % 256) AS luma
           FROM cells),
         bits AS (
           SELECT a.doc_id, a.w, a.h, a.gy * 8 + a.gx AS i,
             CASE WHEN a.luma > b.luma THEN 1 ELSE 0 END AS bit
           FROM lum a JOIN lum b
             ON a.doc_id = b.doc_id AND a.gy = b.gy AND b.gx = a.gx + 1
           WHERE a.gx < 8)
         SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(sum(CASE WHEN i < 32
             THEN bit * (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS ph_hi,
           CAST(sum(CASE WHEN i >= 32
             THEN bit * (1::BIGINT << (i - 32)) ELSE 0 END) AS BIGINT)
             AS ph_lo
         FROM bits GROUP BY doc_id, w, h""")),
    Gate("m_phash_pairs", mPhashPairs _, Some(
      """WITH d AS (
           SELECT doc_id, doc_id // 4 AS img, (doc_id % 4) * 60 AS pert
           FROM documents WHERE doc_id < 20000),
         p AS (SELECT doc_id, img, pert, (img % 6) + 9 AS w, 8 AS h
               FROM d),
         cells AS (
           SELECT doc_id, img, pert, gx.gx AS gx, gy.gy AS gy,
             (gx.gx * w) // 9 AS sx, (gy.gy * h) // 8 AS sy
           FROM p, unnest(range(0, 9)) AS gx(gx),
                   unnest(range(0, 8)) AS gy(gy)),
         lum AS (
           SELECT doc_id, gx, gy,
             299 * (((img*31 + sx*7 + sy*13) % 256
               + CASE WHEN sx = 0 AND sy = 0 THEN pert ELSE 0 END) % 256)
             + 587 * (((img*31 + sx*7 + sy*13 + 101) % 256
               + CASE WHEN sx = 0 AND sy = 0 THEN pert ELSE 0 END) % 256)
             + 114 * (((img*31 + sx*7 + sy*13 + 202) % 256
               + CASE WHEN sx = 0 AND sy = 0 THEN pert ELSE 0 END) % 256)
               AS luma
           FROM cells),
         bits AS (
           SELECT a.doc_id, a.gy * 8 + a.gx AS i,
             CASE WHEN a.luma > b.luma THEN 1 ELSE 0 END AS bit
           FROM lum a JOIN lum b
             ON a.doc_id = b.doc_id AND a.gy = b.gy AND b.gx = a.gx + 1
           WHERE a.gx < 8),
         hashes AS (
           SELECT doc_id,
             sum(CASE WHEN i < 32
               THEN bit * (1::BIGINT << i) ELSE 0 END) AS hi,
             sum(CASE WHEN i >= 32
               THEN bit * (1::BIGINT << (i - 32)) ELSE 0 END) AS lo
           FROM bits GROUP BY doc_id)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.hi, b.hi))
             + bit_count(xor(a.lo, b.lo)) AS INT) AS hamming
         FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.hi, b.hi))
           + bit_count(xor(a.lo, b.lo)) <= 3""")),
    Gate("m_vhash", mVhash _, Some(
      """WITH d AS (
           SELECT doc_id, doc_id // 4 AS clip,
             CAST(doc_id % 4 AS INT) AS variant
           FROM documents WHERE doc_id < 20000),
         f AS (
           SELECT doc_id, ff.f AS frame_idx,
             clip * 131 + ff.f * 17 AS v,
             CASE WHEN ff.f = variant % 3 THEN variant * 60
               ELSE 0 END AS pert,
             (clip % 6) + 9 AS w, 8 AS h
           FROM d, unnest([0, 1, 2]) AS ff(f)),
         cells AS (
           SELECT doc_id, frame_idx, v, pert, gx.gx AS gx, gy.gy AS gy,
             (gx.gx * w) // 9 AS sx, (gy.gy * h) // 8 AS sy
           FROM f, unnest(range(0, 9)) AS gx(gx),
                   unnest(range(0, 8)) AS gy(gy)),
         lum AS (
           SELECT doc_id, frame_idx, gx, gy,
             299 * (((v*31 + sx*7 + sy*13) % 256
               + CASE WHEN sx = 0 AND sy = 0 THEN pert ELSE 0 END) % 256)
             + 587 * (((v*31 + sx*7 + sy*13 + 101) % 256
               + CASE WHEN sx = 0 AND sy = 0 THEN pert ELSE 0 END) % 256)
             + 114 * (((v*31 + sx*7 + sy*13 + 202) % 256
               + CASE WHEN sx = 0 AND sy = 0 THEN pert ELSE 0 END) % 256)
               AS luma
           FROM cells),
         bits AS (
           SELECT a.doc_id, a.frame_idx, a.gy * 8 + a.gx AS i,
             CASE WHEN a.luma > b.luma THEN 1 ELSE 0 END AS bit
           FROM lum a JOIN lum b
             ON a.doc_id = b.doc_id AND a.frame_idx = b.frame_idx
               AND a.gy = b.gy AND b.gx = a.gx + 1
           WHERE a.gx < 8)
         SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(sum(CASE WHEN i < 32
             THEN bit * (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS ph_hi,
           CAST(sum(CASE WHEN i >= 32
             THEN bit * (1::BIGINT << (i - 32)) ELSE 0 END) AS BIGINT)
             AS ph_lo
         FROM bits GROUP BY doc_id, frame_idx""")),
    Gate("m_vhash_pairs", mVhashPairs _, Some(
      """WITH h AS (
           SELECT doc_id, frame_idx, ph_hi AS hi, ph_lo AS lo
           FROM parquet_scan('__OUTDIR__/m_vhash/*.parquet')),
         fm AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.frame_idx
           FROM h a JOIN h b
             ON a.doc_id < b.doc_id AND a.frame_idx = b.frame_idx
           WHERE bit_count(xor(a.hi, b.hi))
             + bit_count(xor(a.lo, b.lo)) <= 3)
         SELECT doc_a, doc_b,
           CAST(count(DISTINCT frame_idx) AS BIGINT) AS n_frames_matched
         FROM fm GROUP BY doc_a, doc_b
         HAVING count(DISTINCT frame_idx) >= 2""")),
    Gate("m_audio_fp", mAudioFp _, Some(
      """WITH p AS (
           SELECT doc_id, (n_chars % 30 + 1) * 80 AS n FROM documents),
         s AS (
           SELECT doc_id, n,
             abs((doc_id * 31 + r.i * 7919) % 20001 - 10000) AS a,
             (r.i * 65) // n AS w
           FROM p, unnest(range(0, n)) AS r(i)),
         e AS (SELECT doc_id, n, w, sum(a) AS e
               FROM s GROUP BY doc_id, n, w),
         bits AS (
           SELECT a.doc_id, a.n, a.w AS i,
             CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
           FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.w = a.w + 1
           WHERE a.w < 64)
         SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
           CAST(sum(CASE WHEN i < 32
             THEN bit * (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS fp_hi,
           CAST(sum(CASE WHEN i >= 32
             THEN bit * (1::BIGINT << (i - 32)) ELSE 0 END) AS BIGINT)
             AS fp_lo
         FROM bits GROUP BY doc_id, n""")),
    Gate("m_audio_fp_pairs", mAudioFpPairs _, Some(
      """WITH d AS (
           SELECT doc_id, doc_id // 4 AS base, (doc_id % 4) * 500 AS pert
           FROM documents WHERE doc_id < 20000),
         p AS (SELECT doc_id, base, pert, (base % 30 + 1) * 80 AS n
               FROM d),
         s AS (
           SELECT doc_id, n,
             abs((base * 31 + r.i * 7919) % 20001 - 10000
               + CASE WHEN r.i = 0 THEN pert ELSE 0 END) AS a,
             (r.i * 65) // n AS w
           FROM p, unnest(range(0, n)) AS r(i)),
         e AS (SELECT doc_id, w, sum(a) AS e FROM s GROUP BY doc_id, w),
         bits AS (
           SELECT a.doc_id, a.w AS i,
             CASE WHEN a.e > b.e THEN 1 ELSE 0 END AS bit
           FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.w = a.w + 1
           WHERE a.w < 64),
         hashes AS (
           SELECT doc_id,
             sum(CASE WHEN i < 32
               THEN bit * (1::BIGINT << i) ELSE 0 END) AS hi,
             sum(CASE WHEN i >= 32
               THEN bit * (1::BIGINT << (i - 32)) ELSE 0 END) AS lo
           FROM bits GROUP BY doc_id)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.hi, b.hi))
             + bit_count(xor(a.lo, b.lo)) AS INT) AS hamming
         FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.hi, b.hi))
           + bit_count(xor(a.lo, b.lo)) <= 3""")),
    // PNG decodes the SAME synthetic pixels to the SAME shape — one
    // truth verifies both codecs
    Gate("m_png_decode", mPngDecode _, Some(imageDecodeOracle)),
    Gate("m_multimodal_stub", mStub _, Some(
      """SELECT doc_id,
         CAST(n_chars % 640 + 1 AS INT) AS width,
         CAST(n_chars % 480 + 1 AS INT) AS height,
         CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
         md5(text) AS checksum,
         CAST((ascii(substr(text,1,1)) + n_chars) % 256 AS INT)
           AS brightness
         FROM documents""")),
    Gate("m_frame_sample", mFrameSample _, Some(
      """WITH v AS (
           SELECT doc_id, text, n_chars % 120 + 1 AS n_frames
           FROM documents)
         SELECT doc_id, n_frames,
           unnest(generate_series(0, n_frames - 1, 10)) AS frame_idx,
           md5(text || ':' ||
             CAST(unnest(generate_series(0, n_frames - 1, 10))
               AS VARCHAR)) AS frame_feat
         FROM v""")),
    Gate("m_audio_segments", mAudioSegments _, Some(
      """WITH a AS (
           SELECT doc_id, text,
             CAST((n_chars % 30 + 1) * 1000 AS BIGINT) AS duration_ms
           FROM documents)
         SELECT doc_id, duration_ms,
           unnest(generate_series(0, duration_ms - 1000, 500))
             AS seg_start,
           md5(text || ':' ||
             CAST(unnest(generate_series(0, duration_ms - 1000, 500))
               AS VARCHAR)) AS seg_feat
         FROM a""")),
    Gate("m_audio_decode", mAudioDecode _, Some(
      """WITH p AS (
           SELECT doc_id, (n_chars % 30 + 1) * 80 AS n_samples
           FROM documents),
         v AS (
           SELECT doc_id, n_samples,
             abs((doc_id * 31 + r.i * 7919) % 20001 - 10000) AS a
           FROM p, unnest(range(0, n_samples)) AS r(i))
         SELECT doc_id,
           CAST(8000 AS INT) AS sample_rate,
           CAST(1 AS INT) AS n_channels,
           CAST(16 AS INT) AS bits,
           CAST(n_samples AS BIGINT) AS n_samples,
           CAST(n_samples * 1000 // 8000 AS BIGINT) AS duration_ms,
           CAST(max(a) AS BIGINT) AS peak_abs,
           CAST(sum(a) AS BIGINT) AS sum_abs
         FROM v GROUP BY doc_id, n_samples""")),
    Gate("m_image_decode", mImageDecode _, Some(imageDecodeOracle)),
    Gate("m_image_resize", mImageResize _, Some(
      """WITH p AS (
           SELECT doc_id, (n_chars % 13) + 2 AS w, (n_chars % 7) + 2 AS h
           FROM documents),
         g AS (
           SELECT doc_id, w, h, x.x AS x, y.y AS y,
             (x.x * w) // 5 AS sx, (y.y * h) // 4 AS sy
           FROM p, unnest(range(0, 5)) AS x(x),
                   unnest(range(0, 4)) AS y(y)),
         c AS (
           SELECT doc_id, w, h, x, y,
             (doc_id*31 + sx*7 + sy*13) % 256 AS r,
             (doc_id*31 + sx*7 + sy*13 + 101) % 256 AS gr,
             (doc_id*31 + sx*7 + sy*13 + 202) % 256 AS b
           FROM g)
         SELECT doc_id,
           CAST(w AS INT) AS src_w, CAST(h AS INT) AS src_h,
           CAST(5 AS INT) AS dst_w, CAST(4 AS INT) AS dst_h,
           CAST(sum(r) AS BIGINT) AS rs_sum_r,
           CAST(sum(gr) AS BIGINT) AS rs_sum_g,
           CAST(sum(b) AS BIGINT) AS rs_sum_b,
           CAST(sum((1 + x + 5*y) * (r + 2*gr + 3*b)) AS BIGINT)
             AS rs_check
         FROM c GROUP BY doc_id, w, h""")))
}
