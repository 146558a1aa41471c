package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque BINARY
  * columns + typed metadata struct, with batch-oriented per-partition
  * processing (the Scala analogue of `mapInPandas`).
  *
  * IMAGE decode is REAL — `javax.imageio` ships BMP/PNG/JPEG/GIF
  * readers in the JDK, so image-mime assets produce features and
  * perceptual-hash signatures from actual pixels. AUDIO decode is
  * REAL for WAV/PCM — `javax.sound.sampled` ships the reader in the
  * JDK, so audio-mime assets produce exact integer amplitude/phase
  * witnesses from actual samples. The heavyweight codecs the
  * container doesn't ship (video frame extraction, compressed audio)
  * stay STUBBED behind [[Codecs]], a single seam whose fakes produce
  * deterministic outputs with the real shapes. Everything Spark cares
  * about (schema, nullability, partition-wise batching, column pruning
  * of heavy binary columns) is real and tested either way.
  */
object Multimodal {

  val MediaCol = "media"

  /** media struct: raw bytes + mime + declared dims/duration. */
  val mediaType: StructType = StructType(Seq(
    StructField("bytes", BinaryType),
    StructField("mime", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", IntegerType)))

  /** Wrap a binary column (+ mime) into the canonical media struct. */
  def attachMedia(df: DataFrame, bytesCol: String, mime: String): DataFrame =
    df.withColumn(MediaCol, struct(
      col(bytesCol).as("bytes"),
      lit(mime).as("mime"),
      lit(null).cast(IntegerType).as("width"),
      lit(null).cast(IntegerType).as("height"),
      lit(null).cast(IntegerType).as("duration_ms")))

  /** Exact content dedup over raw media assets: one row per DISTINCT
    * byte content — the keeper (lowest id), its md5, and how many
    * assets shared those bytes. This is the manifest a 100 TB asset
    * store persists; filtering the store is then a semi-join on the
    * keeper ids. The md5 runs map-side next to the scan, so the only
    * thing that ever shuffles is (hash, id) — ~50 bytes per asset, the
    * raw bytes themselves never cross the wire (same discipline as the
    * text exact-dedup path, `Dedup.scala`). */
  def mediaDedupManifest(df: DataFrame, idCol: String): DataFrame =
    df.select(col(idCol), md5(col(s"$MediaCol.bytes")).as("media_md5"))
      .groupBy(col("media_md5"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))
      .select(col(idCol), col("media_md5"), col("dup_count"))

  /** NEAR-duplicate media pairs by 60-bit perceptual-hash Hamming
    * distance — re-encoded/resized variants of one asset land within a
    * few bits where [[mediaDedupManifest]]'s exact content hash only
    * catches byte-identical copies. The pairing machinery is the real
    * part and is shared with the text SimHash path
    * ([[Dedup.blockedHammingPairs]], 4×15-bit blocks): only (id, sig,
    * block) longs ever shuffle — the bytes stay at the scan. The HASH
    * is the codec seam: here a deterministic 60-bit content hash
    * (first 15 md5 hex chars — engine-replayable, so the whole
    * pipeline oracles in SQL); a real deployment swaps a DCT
    * pHash / chromaprint per mime at decode time without touching the
    * join. Output: (id_a, id_b, hamming), id_a < id_b. */
  def mediaNearDupPairs(df: DataFrame, idCol: String, maxDistance: Int = 3,
      maxBlockBucket: Int = 1024): DataFrame = {
    val sigs = df.select(col(idCol).as("__id"),
      conv(substring(md5(col(s"$MediaCol.bytes")), 1, 15), 16, 10)
        .cast("long").as("__sig"))
    Dedup.blockedHammingPairs(sigs, 15, maxDistance, maxBlockBucket)
  }

  // ---- codec seam ----------------------------------------------------
  // image/* decodes are REAL (javax.imageio ships BMP/PNG/JPEG/GIF
  // readers in the JDK) and so is audio/* WAV-PCM (javax.sound); the
  // remaining heavyweight formats (video, compressed audio) stay
  // behind deterministic fakes with real signatures.

  /** The decode seam. Real deployments swap in ffmpeg-backed
    * implementations for the stubbed video / compressed-audio paths;
    * the image and WAV-PCM audio paths are real JDK code. */
  object Codecs {

    /** Real JVM image decode: (width, height, lumaSum) with lumaSum =
      * Σ over pixels of (R+G+B) — an EXACT integer, so features
      * derived from it replay bit-identically in the oracle. None when
      * no ImageIO reader accepts the bytes (corrupt asset, or a format
      * the JDK doesn't ship — those fall to the stub path). */
    def decodeImagePixels(bytes: Array[Byte]): Option[(Int, Int, Long)] =
      readImage(bytes).map { img =>
        val w = img.getWidth
        val h = img.getHeight
        var sum = 0L
        // bulk row reads: per-pixel getRGB(x, y) pays a ColorModel
        // conversion call per pixel — an order of magnitude slower on
        // the scan hot loop for identical values. Row-wise keeps the
        // buffer bounded at w ints for arbitrarily tall images.
        val row = new Array[Int](w)
        var y = 0
        while (y < h) {
          img.getRGB(0, y, w, 1, row, 0, w)
          var x = 0
          while (x < w) {
            val rgb = row(x)
            sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
            x += 1
          }
          y += 1
        }
        (w, h, sum)
      }

    /** Pixel witness robust to LOSSY per-frame codecs: (width, height,
      * count of pixels whose R+G+B ≥ 384 — the luma midpoint). With
      * fixtures built from JPEG-block-aligned uniform 8×8 cells at full
      * black/white, DC quantization moves each channel by at most a few
      * counts and can never cross the midpoint, so the COUNT replays
      * exactly in the analytic oracle while [[decodeImagePixels]]'s
      * luma_sum would not survive the lossy round-trip. */
    def decodeImageBright(bytes: Array[Byte]): Option[(Int, Int, Long)] =
      readImage(bytes).map { img =>
        val w = img.getWidth
        val h = img.getHeight
        var n = 0L
        val row = new Array[Int](w)
        var y = 0
        while (y < h) {
          img.getRGB(0, y, w, 1, row, 0, w)
          var x = 0
          while (x < w) {
            val rgb = row(x)
            if (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) +
              (rgb & 0xff) >= 384) n += 1
            x += 1
          }
          y += 1
        }
        (w, h, n)
      }

    /** REAL PNG chunk walk: every `tEXt` chunk's (keyword, text) pair,
      * in stream order — the embedded alt-text/caption metadata an
      * image-text pair-mining pipeline harvests (the LAION-style
      * caption source when the surrounding HTML is gone). Walks the
      * PNG container independently of any writer: 8-byte signature,
      * then length/type/data/crc chunks until IEND; keyword and text
      * split at the NUL per the PNG spec, both Latin-1. Returns Nil
      * for non-PNG bytes and stops cleanly at truncation — corrupt
      * assets must not kill a scan. Constant memory: only the tEXt
      * payloads materialize. */
    def pngTextChunks(bytes: Array[Byte]): Seq[(String, String)] = {
      val Sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
        .map(_.toByte)
      if (bytes == null || bytes.length < 8 ||
        !bytes.take(8).sameElements(Sig)) return Nil
      val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
      var off = 8
      var done = false
      while (!done && off + 8 <= bytes.length) {
        // length math in Long: a corrupt chunk declaring ~2^31 bytes
        // would wrap Int arithmetic negative, slip past the truncation
        // guard and crash the walk — and a corrupt asset must not kill
        // a scan
        val len = ((bytes(off) & 0xffL) << 24) | ((bytes(off + 1) & 0xffL) << 16) |
          ((bytes(off + 2) & 0xffL) << 8) | (bytes(off + 3) & 0xffL)
        val typ = new String(bytes, off + 4, 4, "ISO-8859-1")
        if (off.toLong + 12L + len > bytes.length) done = true
        else {
          val n = len.toInt // guarded: off + 12 + len <= bytes.length
          if (typ == "tEXt") {
            val data = java.util.Arrays.copyOfRange(bytes, off + 8,
              off + 8 + n)
            val nul = data.indexOf(0.toByte)
            if (nul > 0) out += ((new String(data, 0, nul, "ISO-8859-1"),
              new String(data, nul + 1, data.length - nul - 1,
                "ISO-8859-1")))
          }
          if (typ == "IEND") done = true
          off += 12 + n
        }
      }
      out.toSeq
    }

    /** Splice `tEXt` chunks into an existing PNG right before its
      * IEND chunk — the fixture writer for [[pngTextChunks]],
      * independent of the JDK encoder (which doesn't emit tEXt), with
      * real CRC32s so any spec-compliant reader accepts the result. */
    def pngAddText(png: Array[Byte],
        texts: Seq[(String, String)]): Array[Byte] = {
      def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
        val buf = java.nio.ByteBuffer.allocate(12 + data.length)
        buf.putInt(data.length)
        val tb = typ.getBytes("ISO-8859-1")
        buf.put(tb).put(data)
        val crc = new java.util.zip.CRC32()
        crc.update(tb); crc.update(data)
        buf.putInt(crc.getValue.toInt)
        buf.array()
      }
      val inserted = texts.flatMap { case (k, v) =>
        chunk("tEXt", (k.getBytes("ISO-8859-1") :+ 0.toByte) ++
          v.getBytes("ISO-8859-1"))
      }.toArray
      // locate IEND by the chunk walk, not by assuming it occupies the
      // final 12 bytes: a PNG with trailing bytes after IEND would get
      // the tEXt spliced PAST IEND, where pngTextChunks (which stops at
      // IEND) silently never sees it — a confusing no-op for fixture
      // reuse
      var cut = -1
      var off = 8
      while (cut < 0 && off + 8 <= png.length) {
        val len = ((png(off) & 0xffL) << 24) | ((png(off + 1) & 0xffL) << 16) |
          ((png(off + 2) & 0xffL) << 8) | (png(off + 3) & 0xffL)
        if (new String(png, off + 4, 4, "ISO-8859-1") == "IEND") cut = off
        else if (off.toLong + 12L + len > png.length) cut = png.length - 12
        else off += 12 + len.toInt
      }
      require(cut >= 0, "pngAddText: no IEND chunk found")
      png.take(cut) ++ inserted ++ png.drop(cut)
    }

    /** 60-bit sampled-threshold pixel hash over the DECODED image:
      * bit i is set iff the channel sum at sampled position
      * ((i·7) mod w, (i·11) mod h) is ≥ 384 (half of 765).
      * Deterministic and analytically replayable — the m-family oracle
      * recomputes it from the fixture's pixel formula — and brightness
      * /re-encode variants of one asset flip only near-threshold bits,
      * which is what the blocked Hamming join exists to catch. A real
      * deployment swaps a DCT pHash at this seam without touching the
      * join machinery. */
    def pixelHash60(img: java.awt.image.BufferedImage): Long = {
      val w = img.getWidth
      val h = img.getHeight
      var sig = 0L
      var i = 0
      while (i < 60) {
        val rgb = img.getRGB((i * 7) % w, (i * 11) % h)
        val s = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
        if (s >= 384) sig |= 1L << i
        i += 1
      }
      sig
    }

    // JVM-global, applied once per executor (not per decoded row): a
    // tmp cache file per decode would be pathological at scan
    // parallelism. Shared with the ENCODE sites (the synthetic media
    // writers): ImageIO.write(img, fmt, OutputStream) consults the
    // same flag, and with the JDK default (true) every encode creates
    // and deletes a FileCacheImageOutputStream temp file — 32 threads
    // churning temp files in one directory serialize on the kernel,
    // which is why the m14/m15 generator stages ran SLOWER at 32
    // cores than at 8.
    private[operators] lazy val imageIoNoDiskCache: Unit =
      javax.imageio.ImageIO.setUseCache(false)

    /** ImageIO decode with the disk cache off. Null/garbage bytes →
      * None, never a throw: a corrupt asset must not kill a 100 TB
      * scan. */
    def readImage(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
      if (bytes == null || bytes.isEmpty) None
      else try {
        imageIoNoDiskCache
        Option(javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes)))
      } catch { case scala.util.control.NonFatal(_) => None }

    /** STUB image decode: (width, height, meanLuma) pseudo-derived. */
    def decodeImage(bytes: Array[Byte]): (Int, Int, Double) = {
      val n = if (bytes == null) 0 else bytes.length
      val w = 16 + (math.abs(n * 2654435761L) % 1024).toInt
      val h = 16 + (math.abs(n * 40503L) % 1024).toInt
      val luma = if (n == 0) 0.0
        else bytes.iterator.map(b => (b & 0xff).toDouble).sum / n / 255.0
      (w, h, luma)
    }

    /** Real JVM audio decode (WAV/PCM via javax.sound.sampled — pure
      * JDK, no external codec): (n_samples, sample_rate_hz, amp_sum,
      * phase_sum) over 16-bit signed PCM samples of the FIRST channel.
      * amp_sum = Σ s(i) and phase_sum = Σ i·s(i) are EXACT integers —
      * phase binds every sample value to its position, so a reader
      * that returns the right multiset in the wrong order still fails
      * the oracle (the m7 rgb/phase discipline on the audio axis).
      * None when the JDK can't parse the bytes or the format isn't
      * 16-bit signed PCM (compressed formats fall to the stub seam,
      * where a deployment plugs ffmpeg). */
    /** The JDK's audio container readers, loaded ONCE via the public
      * SPI with the WAVE readers first. `AudioSystem
      * .getAudioInputStream` probes EVERY installed reader per call —
      * including `SoftMidiAudioFileReader`, whose probe takes a
      * JVM-global lock: measured on this box, 16 decode threads ran at
      * ~1.6× single-thread throughput through AudioSystem and ~16×
      * with the cached WAVE-first list (the readers themselves are
      * stateless). On a 100 TB audio scan that lock would serialize
      * every executor core in the JVM. */
    private lazy val audioFileReaders
        : Seq[javax.sound.sampled.spi.AudioFileReader] = {
      import scala.jdk.CollectionConverters._
      val all = java.util.ServiceLoader.load(
        classOf[javax.sound.sampled.spi.AudioFileReader],
        classOf[javax.sound.sampled.AudioSystem].getClassLoader)
        .asScala.toSeq
      val (wave, rest) =
        all.partition(_.getClass.getSimpleName.startsWith("Wave"))
      wave ++ rest
    }

    /** Container-sniffing open against the cached reader list — the
      * lock-free replacement for `AudioSystem.getAudioInputStream`.
      * None when no reader accepts the bytes. */
    private def audioStream(bytes: Array[Byte])
        : Option[javax.sound.sampled.AudioInputStream] =
      audioFileReaders.iterator.map { r =>
        try Some(r.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes)))
        catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => None
          case scala.util.control.NonFatal(_) => None
        }
      }.collectFirst { case Some(s) => s }

    /** Normalize a decoded audio stream to 16-bit signed PCM: identity
      * for PCM16; REAL companded-codec expansion for G.711 μ-law/A-law
      * (the JDK ships both converters, and the μ-law expansion matches
      * the CCITT table EXACTLY — MultimodalCodecSpec pins all 256
      * codes against the analytic formula); None for formats the JDK
      * can't expand (MP3/AAC — the documented ffmpeg seam). */
    /** The JDK's format-conversion codecs, loaded once via the public
      * SPI — the [[audioFileReaders]] rationale applied to the
      * expansion path (`AudioSystem.getAudioInputStream(format, in)`
      * goes through the same synchronized global provider registry
      * per call). */
    private lazy val audioConverters
        : Seq[javax.sound.sampled.spi.FormatConversionProvider] = {
      import scala.jdk.CollectionConverters._
      java.util.ServiceLoader.load(
        classOf[javax.sound.sampled.spi.FormatConversionProvider],
        classOf[javax.sound.sampled.AudioSystem].getClassLoader)
        .asScala.toSeq
    }

    private def pcm16(in: javax.sound.sampled.AudioInputStream)
        : Option[javax.sound.sampled.AudioInputStream] = {
      import javax.sound.sampled.AudioFormat
      val f = in.getFormat
      val enc = f.getEncoding
      if (enc == AudioFormat.Encoding.PCM_SIGNED &&
        f.getSampleSizeInBits == 16) Some(in)
      else if (enc == AudioFormat.Encoding.ULAW ||
        enc == AudioFormat.Encoding.ALAW) {
        val target = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
          f.getSampleRate, 16, f.getChannels, 2 * f.getChannels,
          f.getSampleRate, false)
        audioConverters
          .find(_.isConversionSupported(target, f))
          .map(_.getAudioInputStream(target, in))
      } else None
    }

    def decodeAudioPcm(bytes: Array[Byte]): Option[(Long, Int, Long, Long)] =
      if (bytes == null || bytes.isEmpty) None
      else try audioStream(bytes) match {
        case None => None
        case Some(in0) => try {
          pcm16(in0) match {
            case None => None
            case Some(in) =>
              val f = in.getFormat
              val frame = f.getFrameSize // bytes per frame, all channels
              val data = in.readAllBytes()
              val n = data.length / frame
              var amp = 0L
              var phase = 0L
              var i = 0
              while (i < n) {
                val off = i * frame // first channel at frame start
                val lo = data(off) & 0xff
                val hi = data(off + 1).toInt
                val s = if (f.isBigEndian) (lo << 8) | (hi & 0xff)
                  else (hi << 8) | lo
                val v = s.toShort.toLong
                amp += v
                phase += i.toLong * v
                i += 1
              }
              Some((n.toLong, f.getSampleRate.toInt, amp, phase))
          }
        } finally in0.close()
      } catch { case scala.util.control.NonFatal(_) => None }

    /** 60-bit sign fingerprint over DECODED audio samples: bit i is
      * set iff sample ((i·7) mod n) ≥ 0 — the audio twin of
      * [[pixelHash60]], deterministic and analytically replayable.
      * Amplitude-shifted re-encodes of one asset flip only the
      * near-zero bits, which is what the blocked Hamming join catches.
      * A real deployment swaps a chromaprint/spectral hash at this
      * seam without touching the join machinery. None when the bytes
      * don't decode or the clip is empty. */
    def audioHash60(bytes: Array[Byte]): Option[Long] =
      if (bytes == null || bytes.isEmpty) None
      else try audioStream(bytes) match {
        case None => None
        // ONE decode per asset — this sits on the scan hot loop
        case Some(in0) => try pcm16(in0) match {
          case None => None
          case Some(in) =>
            val f = in.getFormat
            val frame = f.getFrameSize
            val data = in.readAllBytes()
            val n = data.length / frame
            if (n <= 0) None
            else {
              var sig = 0L
              var i = 0
              while (i < 60) {
                val off = ((i * 7) % n) * frame
                val lo = data(off) & 0xff
                val hi = data(off + 1).toInt
                val s = if (f.isBigEndian) ((lo << 8) | (hi & 0xff)).toShort
                  else ((hi << 8) | lo).toShort
                if (s >= 0) sig |= 1L << i
                i += 1
              }
              Some(sig)
            }
        } finally in0.close()
      } catch { case scala.util.control.NonFatal(_) => None }

    /** STUB resize: returns a deterministic re-hash of the input sized
      * proportionally to the target area. */
    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val out = new Array[Byte](math.max(1, (w * h) / 64))
      var i = 0
      while (i < out.length) {
        out(i) = (if (bytes == null || bytes.isEmpty) i
          else bytes(i % bytes.length) + i).toByte
        i += 1
      }
      out
    }

    /** STUB frame sampling: byte-range slices standing in for frames. */
    def sampleFrames(bytes: Array[Byte], everyN: Int): Seq[Array[Byte]] = {
      if (bytes == null || bytes.isEmpty) Seq.empty
      else bytes.grouped(math.max(1, bytes.length / everyN)).take(everyN).toSeq
    }

    // ---- REAL video container path: RIFF-AVI walk + per-frame
    // ImageIO decode (pure JDK). Motion-JPEG/Motion-PNG AVIs carry one
    // self-contained image per '00dc' chunk, so frame extraction is a
    // chunk walk and frame DECODE is the JDK's own image readers — the
    // same two-ingredient shape that made m5 (BMP) and m8 (WAV) real.
    // Compressed inter-frame codecs (H.264 et al.) remain the
    // documented ffmpeg deployment seam via [[sampleFrames]].

    /** Minimal single-video-stream AVI writer (RIFF + hdrl + movi,
      * each frame one '00dc' chunk, even-byte padded): the FIXTURE
      * encoder for the real walk — hand-rolled here, walked by
      * [[aviFrames]], frames decoded by the JDK's independent image
      * readers, pinned by an analytic oracle, so a writer/walker bug
      * cannot self-cancel. `fourcc` is the stream handler tag
      * ("MJPG" for JPEG frames, "MPNG" for PNG frames). */
    def encodeAvi(frames: Seq[Array[Byte]], w: Int, h: Int,
        fourcc: String = "MPNG", fps: Int = 10): Array[Byte] = {
      require(fourcc.length == 4, "fourcc must be 4 chars")
      val framesSz = frames.map(f => 8L + f.length + (f.length & 1)).sum
      val moviSz = 4 + framesSz // 'movi' type + chunks
      val strlSz = 4 + (8 + 56) + (8 + 40) // 'strl' + strh + strf
      val hdrlSz = 4 + (8 + 56) + (8 + strlSz) // 'hdrl' + avih + LIST strl
      val riffSz = 4 + (8 + hdrlSz) + (8 + moviSz) // 'AVI ' + 2 LISTs
      val buf = java.nio.ByteBuffer.allocate((8 + riffSz).toInt)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def tag(s: String): Unit = { buf.put(s.getBytes("US-ASCII")); () }
      tag("RIFF"); buf.putInt(riffSz.toInt); tag("AVI ")
      tag("LIST"); buf.putInt(hdrlSz); tag("hdrl")
      tag("avih"); buf.putInt(56)
      buf.putInt(1000000 / fps).putInt(0).putInt(0).putInt(0)
        .putInt(frames.size).putInt(0).putInt(1).putInt(0)
        .putInt(w).putInt(h).putInt(0).putInt(0).putInt(0).putInt(0)
      tag("LIST"); buf.putInt(strlSz); tag("strl")
      tag("strh"); buf.putInt(56)
      tag("vids"); tag(fourcc)
      buf.putInt(0).putInt(0).putInt(0).putInt(1).putInt(fps)
        .putInt(0).putInt(frames.size).putInt(0).putInt(-1).putInt(0)
        .putShort(0).putShort(0)
        .putShort(w.toShort).putShort(h.toShort) // rcFrame
      tag("strf"); buf.putInt(40)
      buf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      tag(fourcc) // biCompression carries the handler tag
      buf.putInt(0).putInt(0).putInt(0).putInt(0).putInt(0)
      tag("LIST"); buf.putInt(moviSz.toInt); tag("movi")
      frames.foreach { f =>
        tag("00dc"); buf.putInt(f.length); buf.put(f)
        if ((f.length & 1) == 1) buf.put(0.toByte)
      }
      buf.array()
    }

    /** 60-bit sign fingerprint of a VIDEO from its real decoded frames
      * — the video leg of [[audioHash60]]: bit `i` samples frame
      * `i % nFrames` at pixel `((i·7) mod w, (i·13) mod h)` and is set
      * iff that pixel's R+G+B is at or above the luma midpoint (384 of
      * 765). Strided over frames AND positions, so re-encodes whose
      * pixels shift by a small clamped amount flip only the
      * near-threshold bits, while unrelated videos land ~30 bits
      * apart. One container walk, at most the first 60 frames decoded,
      * no full-corpus state. None on undecodable containers/frames —
      * corrupt media must not kill a scan. */
    def videoHash60(bytes: Array[Byte]): Option[Long] =
      aviFrames(bytes).flatMap { frames =>
        if (frames.isEmpty) None
        else {
          val nf = frames.length
          val decoded = (0 until math.min(nf, 60)).map(f =>
            readImage(frames(f)))
          if (decoded.exists(_.isEmpty)) None
          else {
            val imgs = decoded.map(_.get)
            var sig = 0L
            var i = 0
            while (i < 60) {
              val img = imgs(i % nf)
              val px = img.getRGB((i * 7) % img.getWidth,
                (i * 13) % img.getHeight)
              val lum = ((px >> 16) & 0xff) + ((px >> 8) & 0xff) +
                (px & 0xff)
              if (lum >= 384) sig |= 1L << i
              i += 1
            }
            Some(sig)
          }
        }
      }

    /** RIFF-AVI chunk walk: every video-frame payload ('00dc'/'00db'
      * chunks, LIST recursion, even-byte padding honored) in stream
      * order. None when the bytes are not a RIFF-AVI container;
      * truncated/corrupt tails stop the walk instead of throwing — a
      * corrupt asset must not kill a 100 TB scan. */
    def aviFrames(bytes: Array[Byte]): Option[Vector[Array[Byte]]] = {
      if (bytes == null || bytes.length < 12) return None
      def fcc(off: Int) = new String(bytes, off, 4, "US-ASCII")
      def le32(off: Int): Long =
        ((bytes(off) & 0xffL)) | ((bytes(off + 1) & 0xffL) << 8) |
          ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
      if (fcc(0) != "RIFF" || fcc(8) != "AVI ") return None
      val out = Vector.newBuilder[Array[Byte]]
      def walk(start: Long, end: Long): Unit = {
        var p = start
        var ok = true
        while (ok && p + 8 <= end) {
          val id = fcc(p.toInt)
          val sz = le32(p.toInt + 4)
          if (sz < 0 || p + 8 + sz > end) ok = false // corrupt: stop
          else {
            if (id == "LIST") walk(p + 12, p + 8 + sz)
            else if ((id == "00dc" || id == "00db") && sz > 0)
              out += java.util.Arrays.copyOfRange(
                bytes, p.toInt + 8, (p + 8 + sz).toInt)
            p += 8 + sz + (sz & 1)
          }
        }
      }
      walk(12, math.min(bytes.length.toLong, 8L + le32(4)))
      Some(out.result())
    }
  }

  /** Minimal 24-bit uncompressed BMP encoder (bottom-up rows, 4-byte
    * row padding, BI_RGB): the fixture for the real-decode path —
    * hand-rolled HERE, decoded by the JDK's independent BMP reader,
    * and pinned by an analytic oracle, so an encode/decode bug cannot
    * self-cancel. `pixel(x, y)` returns (r, g, b) in 0..255. */
  def encodeBmp(w: Int, h: Int,
      pixel: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    require(w > 0 && h > 0, s"encodeBmp: bad dims ${w}x$h")
    val rowSize = (w * 3 + 3) / 4 * 4
    val dataSize = rowSize * h
    val b = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize)
      .putInt(0).putInt(54) // reserved, pixel-array offset
    b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(dataSize).putInt(2835).putInt(2835)
      .putInt(0).putInt(0) // BI_RGB, 72 dpi, no palette
    var y = h - 1
    while (y >= 0) { // bottom-up row order
      var x = 0
      while (x < w) {
        val (r, g, bl) = pixel(x, y)
        b.put(bl.toByte).put(g.toByte).put(r.toByte)
        x += 1
      }
      var p = rowSize - w * 3
      while (p > 0) { b.put(0.toByte); p -= 1 }
      y -= 1
    }
    b.array()
  }

  /** Deterministic synthetic image for the real-decode fixtures:
    * channel c at (x, y) is an affine-mod-256 formula of the seed the
    * ORACLE can replay analytically, optionally brightened (clamped at
    * 255) to make near-threshold pixel-hash bits flip — the
    * re-encoded-variant scenario [[mediaPixelNearDupPairs]] exists
    * for. */
  def syntheticBmp(seed: Long, w: Int, h: Int,
      brighten: Int = 0): Array[Byte] =
    encodeBmp(w, h, (x, y) => (
      math.min(255, ((seed * 7 + x * 13 + y * 31) % 256).toInt + brighten),
      math.min(255, ((seed * 11 + x * 3 + y * 17) % 256).toInt + brighten),
      math.min(255, ((seed * 5 + x * 29 + y * 7) % 256).toInt + brighten)))

  /** Minimal RIFF/WAVE PCM16 mono encoder — the audio twin of
    * [[encodeBmp]]: hand-rolled HERE, decoded by the JDK's independent
    * javax.sound reader, pinned by an analytic oracle, so an
    * encode/decode bug cannot self-cancel. `sample(i)` returns a
    * signed 16-bit value. */
  def encodeWav(n: Int, sampleRate: Int,
      sample: Int => Int): Array[Byte] = {
    require(n > 0 && sampleRate > 0, s"encodeWav: bad n=$n sr=$sampleRate")
    val dataSize = n * 2
    val b = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2) // byte rate
      .putShort(2) // block align
      .putShort(16) // bits per sample
    b.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var i = 0
    while (i < n) { b.putShort(sample(i).toShort); i += 1 }
    b.array()
  }

  /** Deterministic synthetic waveform for the real-decode fixtures:
    * sample i = ((seed·31 + i·17) mod 4096) − 2048 — inside 16-bit
    * range, analytically replayable by the oracle. `shift` raises the
    * whole waveform (clamped at 2047), the audio analogue of the BMP
    * fixture's `brighten`: a re-encode that flips only the
    * near-threshold sign bits [[Codecs.audioHash60]] samples. */
  def syntheticWav(seed: Long, n: Int, sampleRate: Int = 8000,
      shift: Int = 0): Array[Byte] =
    encodeWav(n, sampleRate, i => math.min(
      (((seed * 31 + i.toLong * 17) % 4096) - 2048).toInt + shift, 2047))

  /** Minimal RIFF/WAVE G.711 μ-law mono encoder (format tag 7, 8 bits
    * per sample): the COMPRESSED-audio fixture — hand-rolled here,
    * expanded by the JDK's independent ULAW converter inside
    * [[Codecs.decodeAudioPcm]], pinned by the analytic G.711 expansion
    * formula, so an encode/expand bug cannot self-cancel. `code(i)`
    * returns the raw μ-law byte (0..255). */
  private def encodeWavCompanded(formatTag: Int, n: Int, sampleRate: Int,
      code: Int => Int): Array[Byte] = {
    require(n > 0 && sampleRate > 0, s"encodeWavCompanded: bad n=$n sr=$sampleRate")
    val b = java.nio.ByteBuffer.allocate(44 + n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + n)
      .put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(formatTag.toShort) // 7 = MULAW, 6 = ALAW
      .putShort(1) // mono
      .putInt(sampleRate)
      .putInt(sampleRate) // byte rate (1 byte/sample)
      .putShort(1) // block align
      .putShort(8) // bits per sample
    b.put("data".getBytes("US-ASCII")).putInt(n)
    var i = 0
    while (i < n) { b.put((code(i) & 0xff).toByte); i += 1 }
    b.array()
  }

  def encodeWavUlaw(n: Int, sampleRate: Int, code: Int => Int): Array[Byte] =
    encodeWavCompanded(7, n, sampleRate, code)

  /** A-law sibling of [[encodeWavUlaw]] (format tag 6) — the JDK's
    * ALAW expansion likewise matches the analytic G.711 A-law formula
    * for all 256 codes (MultimodalCodecSpec pins it). */
  def encodeWavAlaw(n: Int, sampleRate: Int, code: Int => Int): Array[Byte] =
    encodeWavCompanded(6, n, sampleRate, code)

  /** Deterministic μ-law clip: code byte i = (seed·31 + i·7) mod 256 —
    * every one of the 256 G.711 codes appears across the corpus, so
    * the oracle exercises the full expansion table. */
  def syntheticUlawWav(seed: Long, n: Int, sampleRate: Int = 8000): Array[Byte] =
    encodeWavUlaw(n, sampleRate, i => ((seed * 31 + i.toLong * 7) % 256).toInt)

  /** Deterministic A-law clip, same code formula as the μ-law twin. */
  def syntheticAlawWav(seed: Long, n: Int, sampleRate: Int = 8000): Array[Byte] =
    encodeWavAlaw(n, sampleRate, i => ((seed * 31 + i.toLong * 7) % 256).toInt)

  private val audioSchema = StructType(Seq(
    StructField("n_samples", LongType),
    StructField("sample_rate_hz", IntegerType),
    StructField("amp_sum", LongType),
    StructField("phase_sum", LongType)))

  /** REAL audio decode over the media column — the audio leg of the
    * decode quartet, same shape as [[extractImageFeatures]]:
    * per-partition iterator, constant memory, bytes never shuffle.
    * audio-mime rows go through the JDK javax.sound WAV/PCM reader and
    * get exact integer (n_samples, sample_rate_hz, amp_sum, phase_sum)
    * — amp = value witness, phase = position-bound witness; anything
    * else (or undecodable/compressed audio) gets a null struct, the
    * documented seam where a deployment plugs ffmpeg. */
  def extractAudioFeatures(df: DataFrame): DataFrame = {
    val schema = StructType(df.schema.fields :+
      StructField("audio", audioSchema))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val media = r.getAs[Row](MediaCol)
        val bytes = if (media == null) null else media.getAs[Array[Byte]]("bytes")
        val mime = if (media == null) null else media.getAs[String]("mime")
        val feat =
          if (mime != null && mime.startsWith("audio/"))
            Codecs.decodeAudioPcm(bytes) match {
              case Some((n, sr, amp, phase)) => Row(n, sr, amp, phase)
              case None => null
            }
          else null
        Row.fromSeq(r.toSeq :+ feat)
      }
    }(enc)
  }

  private val featureSchema = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("mean_luma", DoubleType),
    StructField("n_bytes", IntegerType),
    StructField("luma_sum", LongType)))

  /** Batch feature extraction over the media column — per-partition
    * iterator processing (constant memory, no driver collection), the
    * shape a vectorized decode needs. Appends a `features` struct.
    *
    * Dispatch is mime-driven: image-mime rows take the REAL JDK decode
    * (width/height/mean_luma from actual pixels, plus the exact
    * integer `luma_sum` the oracle replays); everything else — and
    * any image no reader accepts — falls to the deterministic stub
    * with a null `luma_sum`, so the two paths are distinguishable
    * downstream. */
  def extractImageFeatures(df: DataFrame): DataFrame = {
    val schema = StructType(df.schema.fields :+ StructField("features", featureSchema))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val media = r.getAs[Row](MediaCol)
        val bytes = if (media == null) null else media.getAs[Array[Byte]]("bytes")
        val mime = if (media == null) null else media.getAs[String]("mime")
        val n = if (bytes == null) 0 else bytes.length
        val real =
          if (mime != null && mime.startsWith("image/"))
            Codecs.decodeImagePixels(bytes)
          else None
        val feat = real match {
          case Some((w, h, sum)) =>
            Row(w, h, sum.toDouble / (w.toLong * h * 3) / 255.0, n, sum)
          case None =>
            val (w, h, luma) = Codecs.decodeImage(bytes)
            Row(w, h, luma, n, null)
        }
        Row.fromSeq(r.toSeq :+ feat)
      }
    }(enc)
  }

  private val resizedSchema = StructType(Seq(
    StructField("out_w", IntegerType),
    StructField("out_h", IntegerType),
    StructField("rgb_sum", LongType),
    StructField("phase_sum", LongType)))

  /** REAL image resize over the media column — the third leg of the
    * decode/feature/resize/frame-sample quartet, and like the decode
    * it runs on ACTUAL pixels: JDK reader at the scan, then
    * nearest-neighbor sampling with the integer rule
    * `src = (out · srcDim) div outDim` — truncating division, exactly
    * replayable by an oracle. Appends a `resized` struct
    * (out_w, out_h, rgb_sum, phase_sum): rgb_sum = Σ(r+g+b) over the
    * resized raster, phase_sum = Σ(x·r + y·g) binds every sampled
    * value to its output POSITION, so picking the wrong source pixel
    * cannot hide behind an unchanged value multiset. Output stays
    * exact-integer columnar rather than re-encoded bytes — the sums
    * are the witness; a deployment needing the resized bytes plugs
    * its encoder into the same per-partition loop ([[encodeBmp]]
    * shows the shape). Undecodable/non-image rows get a null struct.
    * Per-partition iterator, constant memory, bytes never shuffle. */
  def resizeImageFeatures(df: DataFrame, outW: Int, outH: Int): DataFrame = {
    require(outW > 0 && outH > 0, s"resizeImageFeatures: bad dims ${outW}x$outH")
    val schema = StructType(df.schema.fields :+
      StructField("resized", resizedSchema))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val media = r.getAs[Row](MediaCol)
        val bytes = if (media == null) null else media.getAs[Array[Byte]]("bytes")
        val resized = Codecs.readImage(bytes).map { img =>
          val w = img.getWidth
          val h = img.getHeight
          var rgbSum = 0L
          var phaseSum = 0L
          var y = 0
          while (y < outH) {
            val sy = (y.toLong * h / outH).toInt
            var x = 0
            while (x < outW) {
              val sx = (x.toLong * w / outW).toInt
              val p = img.getRGB(sx, sy)
              val rr = (p >> 16) & 0xff
              val gg = (p >> 8) & 0xff
              val bb = p & 0xff
              rgbSum += rr + gg + bb
              phaseSum += x.toLong * rr + y.toLong * gg
              x += 1
            }
            y += 1
          }
          Row(outW, outH, rgbSum, phaseSum)
        }.orNull
        Row.fromSeq(r.toSeq :+ resized)
      }
    }(enc)
  }

  /** Pixel-level near-duplicate pairs: REAL decode at the scan, a
    * 60-bit [[Codecs.pixelHash60]] per asset, then the same blocked
    * Hamming join as every media near-dup operator
    * ([[bytesNearDupPairs]]). Pixels and bytes stay at the scan.
    * Undecodable assets are skipped (they have no pixels to compare;
    * [[mediaDedupManifest]] still covers them byte-exactly). Output:
    * (id_a, id_b, hamming), id_a < id_b. */
  def mediaPixelNearDupPairs(df: DataFrame, idCol: String,
      maxDistance: Int = 3, maxBlockBucket: Int = 1024): DataFrame =
    bytesNearDupPairs(df, idCol, maxDistance, maxBlockBucket)(
      Codecs.readImage(_).map(Codecs.pixelHash60))

  /** NEAR-duplicate audio pairs by 60-bit sign-fingerprint Hamming
    * distance over REAL decoded samples — the audio leg of
    * [[mediaPixelNearDupPairs]]: amplitude-shifted re-encodes of one
    * clip flip only the near-zero fingerprint bits and land within
    * `maxDistance`. Same shared pairing machinery
    * ([[bytesNearDupPairs]]). Undecodable clips drop (a corrupt asset
    * must not kill the scan). Output: (id_a, id_b, hamming),
    * id_a < id_b. */
  def audioNearDupPairs(df: DataFrame, idCol: String,
      maxDistance: Int = 3, maxBlockBucket: Int = 1024): DataFrame =
    bytesNearDupPairs(df, idCol, maxDistance, maxBlockBucket)(
      Codecs.audioHash60)

  /** Shared shell of the per-modality near-dup operators: fingerprint
    * each asset's bytes with `hash` (None = undecodable, dropped),
    * then the 4×15-bit blocked Hamming join
    * ([[Dedup.blockedHammingPairs]]). Only (id, sig, block) longs
    * shuffle; the media bytes never leave the scan. */
  private def bytesNearDupPairs(df: DataFrame, idCol: String,
      maxDistance: Int, maxBlockBucket: Int)(
      hash: Array[Byte] => Option[Long]): DataFrame = {
    val sigSchema = StructType(Seq(
      StructField("__id", LongType),
      StructField("__sig", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(sigSchema)
    val sigs = df
      .select(col(idCol).cast("long").as("__id"),
        col(s"$MediaCol.bytes").as("__bytes"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          hash(r.getAs[Array[Byte]]("__bytes"))
            .map(sig => Row(r.getLong(0), sig))
        }
      }(enc)
    Dedup.blockedHammingPairs(sigs, 15, maxDistance, maxBlockBucket)
  }

  /** NEAR-duplicate video pairs by 60-bit sign-fingerprint Hamming
    * distance over REAL decoded frames — the video leg of
    * [[audioNearDupPairs]], closing the near-dup family across all
    * three media axes (pixels/m6, audio/m9, video/m13). The
    * fingerprint ([[Codecs.videoHash60]]) strides frames and pixel
    * positions, so clamped-shift re-encodes flip only near-threshold
    * bits; the shared pairing machinery ([[bytesNearDupPairs]]) pairs
    * them back up. Undecodable assets drop. Output:
    * (id_a, id_b, hamming), id_a < id_b. */
  def videoNearDupPairs(df: DataFrame, idCol: String,
      maxDistance: Int = 3, maxBlockBucket: Int = 1024): DataFrame =
    bytesNearDupPairs(df, idCol, maxDistance, maxBlockBucket)(
      Codecs.videoHash60)

  /** Harvest embedded textual metadata from image assets — the
    * image-text pair-mining step of a multimodal training pipeline
    * (alt-text/caption recovery when the page context is gone): one
    * row per PNG `tEXt` (keyword, text) pair via the REAL container
    * walk ([[Codecs.pngTextChunks]]). Non-PNG and corrupt assets
    * yield no rows — a broken asset must not kill the scan. Scale
    * shape: mapPartitions generator, constant memory, the image
    * bytes never shuffle; only (id, keyword, text) strings leave the
    * scan. Output: (`idCol`, tkey, tval). */
  def extractImageText(df: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      df.schema(idCol),
      StructField("tkey", StringType),
      StructField("tval", StringType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.select(col(idCol), col(MediaCol)).mapPartitions { rows =>
      rows.flatMap { r =>
        val media = r.getAs[Row](MediaCol)
        val bytes = if (media == null) null else media.getAs[Array[Byte]]("bytes")
        Codecs.pngTextChunks(bytes).map { case (k, v) => Row(r.get(0), k, v) }
      }
    }(enc)
  }

  /** Synthetic PNG-with-captions fixture: the [[syntheticBmp]] pixel
    * formula encoded as a real PNG by the JDK, then `tEXt` chunks
    * spliced in by the independent hand-rolled writer
    * ([[Codecs.pngAddText]]) — walker, splicer and encoder are three
    * separate implementations, so the m14 oracle replaying the
    * planted strings pins all of them. */
  def syntheticPngText(seed: Long, w: Int, h: Int,
      texts: Seq[(String, String)]): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var x = 0
    while (x < w) {
      var y = 0
      while (y < h) {
        val r = ((seed * 7 + x * 13 + y * 31) % 256).toInt
        val g = ((seed * 11 + x * 3 + y * 17) % 256).toInt
        val b = ((seed * 5 + x * 29 + y * 7) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        y += 1
      }
      x += 1
    }
    Codecs.imageIoNoDiskCache // memory-backed encode stream, not a temp file
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    Codecs.pngAddText(bos.toByteArray, texts)
  }

  /** Frame-sample a video media column into one row per frame
    * (generator shape: explode after per-partition decode). RIFF-AVI
    * assets take the REAL container walk ([[Codecs.aviFrames]]) and
    * emit every `everyN`-th frame payload under its ORIGINAL frame
    * index; other bytes fall to the stub byte-slice seam. */
  def explodeFrames(df: DataFrame, everyN: Int, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      df.schema(idCol),
      StructField("frame_no", IntegerType),
      StructField("frame_bytes", BinaryType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.select(col(idCol), col(MediaCol)).mapPartitions { rows =>
      rows.flatMap { r =>
        val media = r.getAs[Row](MediaCol)
        val bytes = if (media == null) null else media.getAs[Array[Byte]]("bytes")
        Codecs.aviFrames(bytes) match {
          case Some(frames) => frames.zipWithIndex.collect {
            case (f, i) if i % everyN == 0 => Row(r.get(0), i, f)
          }
          case None => Codecs.sampleFrames(bytes, everyN).zipWithIndex.map {
            case (f, i) => Row(r.get(0), i, f)
          }
        }
      }
    }(enc)
  }

  /** REAL video frame decode: walk the RIFF-AVI container, decode
    * every `everyN`-th frame with the JDK's image readers (Motion-PNG
    * /Motion-JPEG — each '00dc' chunk is one self-contained image),
    * and emit per-frame pixel witnesses: (id, frame_no, width, height,
    * luma_sum) with luma_sum = Σ(R+G+B) an EXACT integer. frame_no is
    * the frame's ORIGINAL stream index, binding each witness to its
    * position. Non-AVI assets and undecodable frames are skipped —
    * corrupt media must not kill the scan. One container walk + one
    * decode per sampled frame, constant memory per partition; the
    * binary column never shuffles. */
  def extractVideoFrames(df: DataFrame, everyN: Int,
      idCol: String): DataFrame = {
    require(everyN > 0, "everyN must be > 0")
    val schema = StructType(Seq(
      df.schema(idCol),
      StructField("frame_no", IntegerType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("luma_sum", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.select(col(idCol), col(MediaCol)).mapPartitions { rows =>
      rows.flatMap { r =>
        val media = r.getAs[Row](MediaCol)
        val bytes = if (media == null) null else media.getAs[Array[Byte]]("bytes")
        Codecs.aviFrames(bytes).toSeq.flatMap { frames =>
          frames.zipWithIndex.collect {
            case (f, i) if i % everyN == 0 => (f, i)
          }.flatMap { case (f, i) =>
            Codecs.decodeImagePixels(f).map { case (w, h, luma) =>
              Row(r.get(0), i, w, h, luma)
            }
          }
        }
      }
    }(enc)
  }

  /** Synthetic Motion-PNG AVI fixture: `nFrames` PNG frames (lossless
    * → the decode replays the formula EXACTLY) whose channels are the
    * [[syntheticBmp]] affine-mod-256 formula extended with a frame
    * term — r = (id·7 + f·19 + x·13 + y·31) % 256, g = (id·11 + f·23 +
    * x·3 + y·17) % 256, b = (id·5 + f·29 + x·29 + y·7) % 256 — wrapped
    * by the hand-rolled [[Codecs.encodeAvi]]. Writer and walker are
    * independent of the per-frame codec (JDK PNG), so the analytic
    * oracle pins all three. */
  def syntheticAvi(id: Long, w: Int, h: Int, nFrames: Int,
      shift: Int = 0): Array[Byte] = {
    // shift models a brightness-bumped re-encode: channels rise by
    // `shift` CLAMPED at 255 (no mod-256 wrap), so a shifted copy's
    // videoHash60 differs from its base only at near-threshold bits —
    // the m13 fixture, analytically replayable with least(c+s, 255)
    Codecs.imageIoNoDiskCache // memory-backed encode stream, not a temp file
    val frames = (0 until nFrames).map { f =>
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var x = 0
      while (x < w) {
        var y = 0
        while (y < h) {
          val r = math.min(
            ((id * 7 + f * 19 + x * 13 + y * 31) % 256).toInt + shift, 255)
          val g = math.min(
            ((id * 11 + f * 23 + x * 3 + y * 17) % 256).toInt + shift, 255)
          val b = math.min(
            ((id * 5 + f * 29 + x * 29 + y * 7) % 256).toInt + shift, 255)
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          y += 1
        }
        x += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    Codecs.encodeAvi(frames, w, h)
  }

  /** REAL video frame decode for LOSSY per-frame codecs (Motion-JPEG):
    * walk the RIFF-AVI container, decode every `everyN`-th frame with
    * the JDK's image readers, and emit the quantization-robust witness
    * (id, frame_no, width, height, bright_px) with bright_px the count
    * of pixels at or above the luma midpoint ([[Codecs
    * .decodeImageBright]]). Same scan shape as [[extractVideoFrames]]:
    * one container walk + one decode per sampled frame, constant
    * memory, bytes never shuffle; undecodable assets/frames are
    * skipped. */
  def extractFrameBrightness(df: DataFrame, everyN: Int,
      idCol: String): DataFrame = {
    require(everyN > 0, "everyN must be > 0")
    val schema = StructType(Seq(
      df.schema(idCol),
      StructField("frame_no", IntegerType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("bright_px", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.select(col(idCol), col(MediaCol)).mapPartitions { rows =>
      rows.flatMap { r =>
        val media = r.getAs[Row](MediaCol)
        val bytes = if (media == null) null else media.getAs[Array[Byte]]("bytes")
        Codecs.aviFrames(bytes).toSeq.flatMap { frames =>
          frames.zipWithIndex.collect {
            case (f, i) if i % everyN == 0 => (f, i)
          }.flatMap { case (f, i) =>
            Codecs.decodeImageBright(f).map { case (w, h, n) =>
              Row(r.get(0), i, w, h, n)
            }
          }
        }
      }
    }(enc)
  }

  /** Synthetic Motion-JPEG AVI fixture: `nFrames` JPEG frames (JDK
    * ImageIO JPEG writer — a REAL lossy encode) whose pixels form a
    * light/dark checkerboard of 8×8 cells ALIGNED to the JPEG DCT
    * block grid — cell (cx, cy) of frame f is light iff
    * (cx + cy + id + f) % 2 = 0. Each cell carries a small
    * within-block gray ramp (±14 counts via (x%8)+(y%8)), so the
    * blocks have genuine AC content the quantizer must lose — a
    * UNIFORM block's DC (8·(v−128)) is always a multiple of the
    * default-quality DC step and would round-trip bit-exactly,
    * proving nothing about the lossy path. Light pixels stay ≥ 241
    * per channel and dark ≤ 14, so quantization/ringing error (a few
    * counts) can never cross the 384-of-765 luma midpoint: the
    * [[extractFrameBrightness]] witness replays the cell formula
    * EXACTLY through a genuinely lossy codec. w and h must be
    * multiples of 8 for the alignment to hold. */
  def syntheticMjpegAvi(id: Long, w: Int, h: Int,
      nFrames: Int): Array[Byte] = {
    require(w % 8 == 0 && h % 8 == 0, "dims must align to JPEG blocks")
    Codecs.imageIoNoDiskCache // memory-backed encode stream, not a temp file
    val frames = (0 until nFrames).map { f =>
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var x = 0
      while (x < w) {
        var y = 0
        while (y < h) {
          val ramp = (x % 8) + (y % 8) // 0..14 of AC content
          val light = (x / 8 + y / 8 + id + f) % 2 == 0
          val v = if (light) 255 - ramp else ramp
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          y += 1
        }
        x += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    Codecs.encodeAvi(frames, w, h, fourcc = "MJPG")
  }
}
