package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column handling: media as opaque `binary` payloads with typed
  * metadata, and a feature-extraction pass with the real Spark plumbing
  * (typed Dataset, mapPartitions with intra-partition batching — the Scala
  * analogue of mapInPandas' batch iteration).
  *
  * The payloads are REAL public formats and the decoder is a REAL byte
  * parser AND pixel/sample decoder — JDK-only, no codec libraries:
  *
  *   - images are PNG (ISO/IEC 15948): signature, IHDR with CRC-32,
  *     8-bit GRAYSCALE scanlines run through the spec's per-row filters
  *     (all five types), zlib-deflated into (multiple) IDAT chunks, IEND;
  *   - videos are APNG (the PNG animation extension): acTL declares the
  *     frame count, frame 0's fcTL precedes the IDAT stream, and every
  *     later frame is an fcTL + its own complete zlib stream in
  *     sequence-numbered fdAT chunks — n REAL deflated bitmaps per clip,
  *     each a one-row-scrolled prefix render of the document text;
  *   - audio is WAV (RIFF): `fmt ` chunk (PCM, mono, 8 kHz, 8-bit) +
  *     `data` chunk of raw unsigned samples.
  *
  * `decode` dispatches on the MAGIC BYTES (not the `kind` column), walks
  * the chunk structure, verifies the PNG IHDR CRC-32 and the RIFF/WAVE
  * tags, INFLATES the IDAT stream (`java.util.zip.Inflater`), reverses
  * the per-row PNG filters (None/Sub/Up/Average/Paeth), and derives every
  * feature column — kind, dimensions, frame count, duration, checksum,
  * mean brightness — from the parsed payload alone. A corrupted
  * signature, a flipped CRC byte, a truncated chunk, or a broken deflate
  * stream makes the record undecodable (`None`), which the corruption
  * specs in PipelineSpec pin.
  *
  * The perceptual hashes are computed from DECODED CONTENT: dHash from an
  * 8×8 integer-mean box-sample of the inflated+unfiltered grayscale
  * bitmap, the audio envelope from per-window |PCM − 128| energy
  * accumulators over the decoded samples. The ENCODER (the test-data builder) derives pixels
  * and samples deterministically from the document text (pixel p = code
  * point (p mod L), mod 256), which is what lets the DuckDB oracle
  * rebuild the same grid from the stored text while the Spark side reads
  * ONLY the payload bytes through the full real decode path.
  */
object Multimodal {

  case class MediaRecord(doc_id: Long, kind: String, payload: Array[Byte],
      width: Int, height: Int)

  /** `mean_px` is the content-level feature: floor-mean pixel brightness
    * for images/video (over the inflated+unfiltered bitmap), floor-mean
    * |sample − 128| for audio (over the decoded PCM) — the column that
    * makes the m1 oracle a gate on the pixel/sample decode itself, not
    * just the header walk. */
  case class MediaFeatures(doc_id: Long, kind: String, byte_len: Int,
      width: Int, height: Int, n_frames: Long, duration_ms: Long,
      checksum: Long, mean_px: Long)

  /** Resized/sampled representation: target dims after aspect-preserving
    * resize — the source dims come from the PARSED payload, never the
    * metadata columns — plus min(n_frames, maxFrames) evenly-spaced
    * byte offsets into the DECODED stream (bitmap for images/video, PCM
    * for audio): the frame-sample access pattern a video pipeline feeds
    * the decoder. Undecodable payloads drop, like `extractFeatures`. */
  case class MediaSample(doc_id: Long, kind: String, out_w: Int, out_h: Int,
      frame_offsets: Array[Long])

  // ---------------------------------------------------------------- bytes
  private val PngSig: Array[Byte] =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  private def crc32(parts: Array[Byte]*): Long = {
    val c = new java.util.zip.CRC32
    parts.foreach(c.update)
    c.getValue
  }

  private def be32(v: Long): Array[Byte] = Array(
    ((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
    ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)

  private def le32(v: Long): Array[Byte] = Array(
    (v & 0xff).toByte, ((v >>> 8) & 0xff).toByte,
    ((v >>> 16) & 0xff).toByte, ((v >>> 24) & 0xff).toByte)

  private def le16(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >>> 8) & 0xff).toByte)

  private def be16(v: Int): Array[Byte] =
    Array(((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)

  private def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val t = typ.getBytes("US-ASCII")
    be32(data.length.toLong) ++ t ++ data ++ be32(crc32(t, data))
  }

  // -------------------------------------------------- pixel/PCM synthesis
  /** Deterministic content-derived bytes — a PREFIX RENDER: position j
    * (0-based) carries code point j of `text` mod 256 while text lasts,
    * 0 (black/silence) past the end — per CODE POINT (surrogate pairs
    * contribute once), matching the oracle's per-character `unicode()`
    * walk. With `n` = w·h this is the grayscale bitmap the PNG encoder
    * compresses; with `n` = L it is the PCM sample stream. Prefix
    * alignment (no cyclic wrap) is what makes the planted suffix-edit
    * near-dups land at small Hamming: a "+k chars" edit perturbs only
    * the pixels/samples at positions ≥ L, never re-phases the whole
    * frame. */
  private[graft] def textPixels(text: String, n: Int): Array[Byte] = {
    val cps = text.codePoints().toArray
    val out = new Array[Byte](n)
    var p = 0
    val m = math.min(n, cps.length)
    while (p < m) {
      out(p) = (cps(p) % 256).toByte
      p += 1
    }
    out
  }

  /** The per-frame video render: frame k is the prefix render SCROLLED
    * by one row per frame — pixel p of frame k carries code point
    * k·w + p (0 past the text end), so the video "pans" down the
    * document one scanline at a time. Frame 0 equals [[textPixels]],
    * consecutive frames overlap in all but one row, and a "+ dup"
    * SUFFIX append perturbs only the trailing render positions of every
    * frame — the same prefix-alignment property the still-image and
    * audio fingerprints rely on. */
  private[graft] def textFrames(text: String, w: Int, h: Int,
      nf: Int): Array[Array[Byte]] = {
    val cps = text.codePoints().toArray
    Array.tabulate(nf) { k =>
      val out = new Array[Byte](w * h)
      val off = k * w
      var p = 0
      val m = math.min(w * h, math.max(cps.length - off, 0))
      while (p < m) {
        out(p) = (cps(off + p) % 256).toByte
        p += 1
      }
      out
    }
  }

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b)
    val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** PNG per-row filtering of an 8-bit grayscale bitmap (bpp = 1): row r
    * gets filter type r mod 5, so every encoded image exercises all five
    * spec filters (None/Sub/Up/Average/Paeth) through the decoder's
    * reversal paths. Output: h scanlines of (1 filter byte + w bytes). */
  private[graft] def filterScanlines(px: Array[Byte], w: Int,
      h: Int): Array[Byte] = {
    require(px.length == w * h, "bitmap must be w*h bytes")
    val out = new Array[Byte](h * (w + 1))
    var r = 0
    while (r < h) {
      val f = r % 5
      out(r * (w + 1)) = f.toByte
      var c = 0
      while (c < w) {
        val x = px(r * w + c) & 0xff
        val left = if (c > 0) px(r * w + c - 1) & 0xff else 0
        val up = if (r > 0) px((r - 1) * w + c) & 0xff else 0
        val ul = if (r > 0 && c > 0) px((r - 1) * w + c - 1) & 0xff else 0
        val v = f match {
          case 0 => x
          case 1 => x - left
          case 2 => x - up
          case 3 => x - ((left + up) >> 1)
          case _ => x - paeth(left, up, ul)
        }
        out(r * (w + 1) + 1 + c) = (v & 0xff).toByte
        c += 1
      }
      r += 1
    }
    out
  }

  /** Reverse the per-row PNG filters of a grayscale 8-bit scanline
    * stream. None on a wrong-length stream or an undefined filter type —
    * the "truncated/garbage deflate payload" rejection leg. */
  private[graft] def unfilterScanlines(fs: Array[Byte], w: Int,
      h: Int): Option[Array[Int]] = {
    if (fs.length != h * (w + 1)) return None
    val px = new Array[Int](w * h)
    var r = 0
    while (r < h) {
      val f = fs(r * (w + 1)) & 0xff
      if (f > 4) return None
      var c = 0
      while (c < w) {
        val v = fs(r * (w + 1) + 1 + c) & 0xff
        val left = if (c > 0) px(r * w + c - 1) else 0
        val up = if (r > 0) px((r - 1) * w + c) else 0
        val ul = if (r > 0 && c > 0) px((r - 1) * w + c - 1) else 0
        px(r * w + c) = (f match {
          case 0 => v
          case 1 => v + left
          case 2 => v + up
          case 3 => v + ((left + up) >> 1)
          case _ => v + paeth(left, up, ul)
        }) & 0xff
        c += 1
      }
      r += 1
    }
    Some(px)
  }

  private[graft] def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(data); d.finish()
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 32)
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Inflate a zlib stream into EXACTLY `expect` bytes. The output buffer
    * is pre-sized from the IHDR-declared dimensions, so a zip bomb (tiny
    * stream, huge expansion) cannot allocate past the declared bitmap —
    * the bounded-decode posture a 100 TB ingest needs. None on a corrupt
    * stream, or one that inflates to any other length. */
  private[graft] def inflate(data: Array[Byte],
      expect: Int): Option[Array[Byte]] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(data)
      val out = new Array[Byte](expect)
      var off = 0
      while (!inf.finished()) {
        val n = inf.inflate(out, off, expect - off)
        if (n == 0 && !inf.finished()) return None // truncated/needs-dict
        off += n
        if (off == expect && !inf.finished()) {
          // would overflow the declared size: probe one more byte
          val probe = new Array[Byte](1)
          if (inf.inflate(probe, 0, 1) > 0) return None
          if (!inf.finished()) return None
        }
      }
      if (off == expect) Some(out) else None
    } catch {
      case _: java.util.zip.DataFormatException => None
    } finally inf.end()
  }

  /** A real PNG: signature + IHDR(width, height, 8-bit GRAYSCALE) + the
    * filtered-and-deflated bitmap split across 512-byte IDAT chunks
    * (multi-IDAT is spec-legal and the decoder must concatenate) + IEND.
    * `px` is the w·h bitmap. */
  private[graft] def pngBytes(w: Int, h: Int,
      px: Array[Byte]): Array[Byte] = {
    val ihdr = be32(w.toLong) ++ be32(h.toLong) ++
      Array[Byte](8, 0, 0, 0, 0) // depth 8, grayscale, deflate, none, none
    val idat = deflate(filterScanlines(px, w, h))
    val idats = idat.grouped(512)
      .map(g => chunk("IDAT", g)).foldLeft(Array.empty[Byte])(_ ++ _)
    PngSig ++ chunk("IHDR", ihdr) ++ idats ++
      chunk("IEND", Array.empty[Byte])
  }

  /** A real APNG (the PNG spec's animation extension, now folded into
    * ISO/IEC 15948 third edition): IHDR + acTL(n, 0 plays) + per-frame
    * control and data chunks. Frame 0 is the default image — its fcTL
    * precedes the IDAT stream, making it part of the animation; frames
    * 1..n−1 each carry an fcTL followed by that frame's OWN complete
    * zlib stream split across 4-byte-sequence-prefixed fdAT chunks.
    * fcTL and fdAT share one strictly-consecutive sequence counter
    * starting at 0; every frame here is full-canvas (x = y = 0, dims =
    * IHDR dims, dispose NONE, blend SOURCE) with a uniform
    * delayNum/delayDen delay. */
  private[graft] def apngBytes(w: Int, h: Int, frames: Seq[Array[Byte]],
      delayNum: Int = 40, delayDen: Int = 1000): Array[Byte] = {
    require(frames.nonEmpty, "an APNG needs at least one frame")
    val ihdr = be32(w.toLong) ++ be32(h.toLong) ++
      Array[Byte](8, 0, 0, 0, 0)
    val out = new java.io.ByteArrayOutputStream()
    var seq = 0L
    def fctl(): Array[Byte] = {
      val d = be32(seq) ++ be32(w.toLong) ++ be32(h.toLong) ++
        be32(0L) ++ be32(0L) ++ be16(delayNum) ++ be16(delayDen) ++
        Array[Byte](0, 0) // dispose APNG_DISPOSE_OP_NONE, blend SOURCE
      seq += 1
      chunk("fcTL", d)
    }
    out.write(PngSig)
    out.write(chunk("IHDR", ihdr))
    out.write(chunk("acTL", be32(frames.length.toLong) ++ be32(0L)))
    out.write(fctl()) // frame 0 = the IDAT stream
    deflate(filterScanlines(frames.head, w, h)).grouped(512)
      .foreach(g => out.write(chunk("IDAT", g)))
    frames.tail.foreach { f =>
      out.write(fctl())
      deflate(filterScanlines(f, w, h)).grouped(512).foreach { g =>
        out.write(chunk("fdAT", be32(seq) ++ g))
        seq += 1
      }
    }
    out.write(chunk("IEND", Array.empty[Byte]))
    out.toByteArray
  }

  /** A real WAV: RIFF/WAVE + `fmt ` (PCM, 1 channel, `rate` Hz, 8-bit) +
    * `data` carrying the raw unsigned samples. Overhead: 44 bytes. */
  private[graft] def wavBytes(data: Array[Byte],
      rate: Int = 8000): Array[Byte] =
    "RIFF".getBytes("US-ASCII") ++ le32(36L + data.length) ++
      "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ le32(16L) ++
      le16(1) ++ le16(1) ++ le32(rate.toLong) ++ le32(rate.toLong) ++
      le16(1) ++ le16(8) ++
      "data".getBytes("US-ASCII") ++ le32(data.length.toLong) ++ data

  private def be32At(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)

  private def le32At(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)

  private def le16At(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)

  private def asciiAt(b: Array[Byte], i: Int, n: Int): String =
    new String(b, i, n, "US-ASCII")

  // --------------------------------------------------------------- decode
  private def be16At(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)

  /** A fully decoded PNG/APNG: dimensions, whether the payload declared
    * animation (acTL present), every frame's unfiltered bitmap (frame 0
    * = the IDAT stream; frames 1.. = their fdAT streams), and the
    * per-frame fcTL delays in milliseconds (a single 0 for a plain
    * PNG). */
  private[graft] case class PngParsed(w: Int, h: Int, animated: Boolean,
      frames: Vector[Array[Int]], delaysMs: Vector[Long])

  /** REAL whole-payload decode of a grayscale-8 PNG/APNG: signature +
    * IHDR CRC-32 + full chunk-walk validation, then EVERY frame's zlib
    * stream inflated (bounded by the IHDR-declared size) and its per-row
    * filters reversed. APNG structure is validated, not trusted: fcTL
    * and fdAT sequence numbers must be strictly consecutive from 0, the
    * fcTL count must equal the acTL-declared frame count, frame 0's fcTL
    * must precede the IDAT stream (the default image IS the first
    * animation frame — the only layout this decoder supports), every
    * frame must be full-canvas (dims = IHDR, zero offsets, blend
    * SOURCE), and fdAT before its fcTL, IDAT after fdAT, or acTL after
    * IDAT all reject. None for non-PNG, corrupt, truncated,
    * non-grayscale-8, or any stream that inflates to the wrong length —
    * this decoder declares its supported profile and rejects the rest
    * rather than mis-decoding (the untrusted-media posture: a malformed
    * payload degrades to "undecodable", never to wrong pixels or a
    * runaway allocation — every buffer here is bounded by the validated
    * IHDR dims and the per-frame chunk bytes actually present). */
  private[graft] def decodePng(b: Array[Byte]): Option[PngParsed] = try {
    // 33 = signature + a complete IHDR chunk, the minimum any valid PNG
    // carries; shorter buffers would hit the fixed-offset header reads
    if (b.length < 33 || !b.take(8).sameElements(PngSig)) return None
    if (be32At(b, 8) != 13L || asciiAt(b, 12, 4) != "IHDR") return None
    if (crc32(java.util.Arrays.copyOfRange(b, 12, 29)) != be32At(b, 29))
      return None
    val w = be32At(b, 16).toInt
    val h = be32At(b, 20).toInt
    if (w <= 0 || h <= 0) return None
    if (b(24) != 8 || b(25) != 0) return None // depth 8, grayscale only
    // ALL-long arithmetic: a declared width of Int.MaxValue would
    // overflow (w + 1) in Int, slip past this guard negative, and
    // crash the allocation below instead of returning None
    if (h.toLong * (w.toLong + 1L) > Int.MaxValue) return None
    val rowBytes = h * (w + 1)
    var acTL = -1L     // declared animation frame count; -1 = plain PNG
    var sawIdat = false
    var sawFdat = false
    var sawEnd = false
    var seqExpect = 0L // fcTL/fdAT shared strictly-consecutive counter
    val idat = new java.io.ByteArrayOutputStream()
    val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
    val fdat =
      scala.collection.mutable.ArrayBuffer
        .empty[java.io.ByteArrayOutputStream]
    var i = 33
    while (i + 8 <= b.length && !sawEnd) {
      val len = be32At(b, i)
      val typ = asciiAt(b, i + 4, 4)
      if (i + 12 + len > b.length) return None // truncated chunk
      // EVERY chunk's CRC-32 (type + data) must verify, exactly like a
      // conformant decoder — with the signature check this makes any
      // single corrupted payload byte (data, CRC field, or a length
      // field that misaligns the walk into garbage) reject rather than
      // silently decode; PropertySpec sweeps every byte position
      if (crc32(java.util.Arrays.copyOfRange(b, i + 4, i + 8 + len.toInt))
          != be32At(b, i + 8 + len.toInt)) return None
      typ match {
        case "acTL" =>
          // once, before IDAT, exactly 8 bytes, >= 1 declared frame
          if (len != 8L || acTL >= 0L || sawIdat) return None
          acTL = be32At(b, i + 8)
          if (acTL <= 0L) return None
        case "fcTL" =>
          if (len != 26L || acTL < 0L) return None
          // frames after the first need the default image already done
          if (delays.nonEmpty && !sawIdat) return None
          if (be32At(b, i + 8) != seqExpect) return None
          seqExpect += 1
          // full-canvas frames only: dims = IHDR, no offset, blend
          // SOURCE — the profile this decoder supports
          if (be32At(b, i + 12) != w.toLong ||
            be32At(b, i + 16) != h.toLong) return None
          if (be32At(b, i + 20) != 0L || be32At(b, i + 24) != 0L)
            return None
          if ((b(i + 32) & 0xff) > 2 || (b(i + 33) & 0xff) != 0)
            return None
          val num = be16At(b, i + 28)
          val den = be16At(b, i + 30)
          delays += num.toLong * 1000L / (if (den == 0) 100 else den)
          if (delays.length >= 2)
            fdat += new java.io.ByteArrayOutputStream()
        case "IDAT" =>
          if (sawFdat) return None // IDAT after frame data: malformed
          // animated: the default image must be declared frame 0 (its
          // fcTL precedes IDAT) — a hidden default image is out of
          // profile
          if (acTL >= 0L && delays.length != 1) return None
          sawIdat = true
          idat.write(b, i + 8, len.toInt)
        case "fdAT" =>
          // needs its own fcTL (frame >= 1) and the 4-byte seq prefix
          if (len < 4L || fdat.isEmpty) return None
          if (be32At(b, i + 8) != seqExpect) return None
          seqExpect += 1
          sawFdat = true
          fdat.last.write(b, i + 12, len.toInt - 4)
        case "IEND" => sawEnd = true
        case _      => () // ancillary chunks skipped
      }
      i += 12 + len.toInt
    }
    if (!sawEnd || !sawIdat) return None
    if (acTL < 0L) {
      if (delays.nonEmpty || sawFdat) return None // fdAT/fcTL need acTL
      inflate(idat.toByteArray, rowBytes)
        .flatMap(unfilterScanlines(_, w, h))
        .map(px => PngParsed(w, h, animated = false, Vector(px),
          Vector(0L)))
    } else {
      if (delays.length.toLong != acTL) return None // fcTL count = acTL
      val streams = idat.toByteArray +: fdat.map(_.toByteArray).toVector
      if (streams.exists(_.isEmpty)) return None // a frame with no data
      val frames = Vector.newBuilder[Array[Int]]
      var k = 0
      while (k < streams.length) {
        inflate(streams(k), rowBytes).flatMap(
          unfilterScanlines(_, w, h)) match {
          case Some(px) => frames += px
          case None     => return None
        }
        k += 1
      }
      Some(PngParsed(w, h, animated = true, frames.result(),
        delays.toVector))
    }
  } catch { case _: IndexOutOfBoundsException => None }

  /** First-frame pixel decode of a grayscale-8 PNG/APNG payload (the
    * whole-payload validation and per-frame inflation of [[decodePng]],
    * projected to frame 0). Returns (w, h, pixels row-major 0..255). */
  private[graft] def decodePixels(
      b: Array[Byte]): Option[(Int, Int, Array[Int])] =
    decodePng(b).map(p => (p.w, p.h, p.frames.head))

  /** Extract the PCM `data` chunk of a structurally valid WAV (RIFF
    * walk mirroring `decode`'s audio branch); None for non-WAV, non-PCM,
    * or truncated payloads — so PNG/APNG images drop out of the audio
    * path the same way audio drops out of [[decodePixels]]. */
  private[graft] def wavDataBody(b: Array[Byte]): Option[Array[Byte]] =
    try {
      if (b.length < 12 || asciiAt(b, 0, 4) != "RIFF" ||
        asciiAt(b, 8, 4) != "WAVE") return None
      var pcm = false
      var out = Option.empty[Array[Byte]]
      var i = 12
      while (i + 8 <= b.length) {
        val id = asciiAt(b, i, 4)
        val len = le32At(b, i + 4)
        if (i + 8 + len > b.length) return None // truncated chunk
        if (id == "fmt ") {
          if (len < 16 || le16At(b, i + 8) != 1) return None // PCM only
          pcm = true
        }
        if (id == "data")
          out = Some(java.util.Arrays.copyOfRange(b, i + 8,
            i + 8 + len.toInt))
        i += 8 + len.toInt
      }
      if (pcm) out else None
    } catch { case _: IndexOutOfBoundsException => None }

  /** Parse one payload END TO END. PNG/APNG: chunk walk + IHDR CRC +
    * full per-frame pixel decode (inflate + unfilter, [[decodePng]]) — a
    * payload whose headers parse but whose IDAT/fdAT streams are corrupt
    * is UNDECODABLE, exactly like a real decoder; kind and frame count
    * come from the DECODED frames (validated against acTL, never trusted
    * from it); duration_ms = Σ per-frame fcTL delays; mean_px =
    * floor-mean brightness over EVERY decoded frame's pixels. WAV: RIFF
    * walk; sample count = data length / block align, duration from byte
    * rate, mean_px = floor-mean |sample − 128| of the decoded PCM (0 for
    * an empty data chunk). The checksum is the CRC-32 of the whole
    * payload. */
  private[graft] def decode(r: MediaRecord): Option[MediaFeatures] = try {
    val b = r.payload
    if (b.length >= 8 && b.take(8).sameElements(PngSig)) {
      decodePng(b).map { p =>
        var s = 0L
        p.frames.foreach(_.foreach(s += _))
        val total = p.frames.length.toLong * p.w * p.h
        MediaFeatures(r.doc_id,
          if (p.animated) "video" else "image", b.length,
          p.w, p.h, p.frames.length.toLong,
          if (p.animated) p.delaysMs.sum else 0L, crc32(b), s / total)
      }
    } else if (b.length >= 12 && asciiAt(b, 0, 4) == "RIFF" &&
        asciiAt(b, 8, 4) == "WAVE") {
      var rate = 0L; var byteRate = 0L; var blockAlign = 0
      var i = 12
      while (i + 8 <= b.length) {
        val id = asciiAt(b, i, 4)
        val len = le32At(b, i + 4)
        if (i + 8 + len > b.length) return None // truncated chunk
        if (id == "fmt ") {
          if (len < 16 || le16At(b, i + 8) != 1) return None // PCM only
          rate = le32At(b, i + 12)
          byteRate = le32At(b, i + 16)
          blockAlign = le16At(b, i + 20)
        }
        i += 8 + len.toInt
      }
      if (rate <= 0 || byteRate <= 0 || blockAlign <= 0) return None
      wavDataBody(b).map { pcm =>
        var s = 0L
        pcm.foreach(x => s += math.abs((x & 0xff) - 128))
        MediaFeatures(r.doc_id, "audio", b.length, 0, 0,
          pcm.length.toLong / blockAlign,
          pcm.length * 1000L / byteRate, crc32(b),
          if (pcm.length == 0) 0L else s / pcm.length)
      }
    } else None
  } catch { case _: IndexOutOfBoundsException => None }

  /** Build a media table from documents: REAL format bytes whose pixel /
    * sample content derives from the document text ([[textPixels]]),
    * kind cycling image/audio/video by doc_id, PNG dims from COARSE
    * n_chars buckets (w = n_chars/100·3 + 12, h = n_chars/150·4 + 10 —
    * small enough that the per-pixel oracle expansion stays linear in
    * the corpus, both ≥ 8 so the 8×8 box-sample has no empty cell, and
    * bucketed so a few-character edit keeps the canvas: near-dup texts
    * must render onto the SAME dims to hash near each other, exactly
    * like a real camera/thumbnailer pipeline fixing the frame size),
    * APNG frame count n_chars/64 + 1. The width/height metadata columns
    * mirror what the encoder wrote — `decode` never reads them
    * (spec-pinned: it re-derives both from the parsed payload). */
  def toMediaTable(documents: DataFrame): DataFrame =
    // session-memoized ([[SessionMemo]], keyed on the CANONICALIZED input
    // plan because the typed mapPartitions closure defeats CacheManager
    // plan-equality): six suite queries (m1/m2/d21/d23/e8/e9) plus
    // compositions all start from the same encoded media frame, and the
    // encode (filter + deflate per doc) is the expensive part
    mediaCache.getOrBuildElse(documents.queryExecution.analyzed
      .canonicalized, documents) {
      MemoLedger.timed("media_table") {
        val df = buildMediaTable(documents)
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        df.count() // materialization barrier: one encode pass, not one
                   // per concurrent scan inside a single action
        df
      }
    }(buildMediaTable(documents))

  private val mediaCache = new SessionMemo[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame](
    Seq(_))

  /** The uncached per-call encode — the session memo above is for the
    * repeated-query batch suite; streaming foreachBatch bodies call this
    * directly (a per-batch plan would never re-hit the memo and would
    * only pin persisted frames). */
  private[graft] def buildMediaTable(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text"),
      col("n_chars").cast("int").as("n_chars"))
      .as[(Long, String, Int)]
      .mapPartitions(_.map { case (id, text, nChars) =>
        val w = nChars / 100 * 3 + 12
        val h = nChars / 150 * 4 + 10
        (id % 3) match {
          case 0 => MediaRecord(id, "image",
            pngBytes(w, h, textPixels(text, w * h)), w, h)
          case 1 => MediaRecord(id, "audio",
            wavBytes(textPixels(text, text.codePointCount(0, text.length))),
            0, 0)
          case _ => MediaRecord(id, "video",
            apngBytes(w, h,
              textFrames(text, w, h, (nChars / 64 + 1))), w, h)
        }
      }).toDF()
  }

  def sampleFrames(media: DataFrame, targetW: Int = 224,
      maxFrames: Int = 4): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it =>
      it.grouped(64).flatMap(_.flatMap { r =>
        decode(r).map { f =>
          val w = math.max(f.width, 1) // parsed audio dims are 0x0
          val scale = targetW.toDouble / w
          // scale the RAW height and clamp the RESULT (clamping height
          // before scaling would turn a degenerate 0-height medium into
          // out_h = scale instead of the 1-pixel floor)
          val n = math.max(1L,
            math.min(maxFrames.toLong, f.n_frames)).toInt
          // offsets index the DECODED stream — and for video they are
          // FRAME-ALIGNED: sampled frame i is frame i·⌊n_frames/n⌋ and
          // its offset is that frame's start in the concatenated
          // decoded bitmap stream (n_frames of them, w·h bytes each;
          // n_frames here is the DECODED count, validated against
          // acTL). Audio strides through the decoded PCM samples; a
          // still image is its own single frame at offset 0.
          val offsets = f.kind match {
            case "audio" =>
              val stride = math.max(f.n_frames / n, 1L)
              Array.tabulate(n)(i => i.toLong * stride)
            case _ =>
              val frameStride = math.max(f.n_frames / n, 1L)
              val frameBytes = f.width.toLong * f.height
              Array.tabulate(n)(i => i.toLong * frameStride * frameBytes)
          }
          MediaSample(r.doc_id, f.kind, targetW,
            math.max((f.height * scale).toInt, 1), offsets)
        }
      })
    }.toDF()
  }

  // ------------------------------------------------------ content hashes
  /** 8×8 integer-mean box-sample of a decoded grayscale bitmap: pixel
    * (r, c) lands in cell (r·8/h, c·8/w); cell value = floor(sum/count).
    * Encoder dims guarantee w, h ≥ 8 (no empty cell), but empty cells
    * still read 0 defensively. */
  private[graft] def grayGrid(w: Int, h: Int, px: Array[Int]): Array[Long] = {
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var r = 0
    while (r < h) {
      val gr = r * 8 / h
      var c = 0
      while (c < w) {
        val cell = gr * 8 + c * 8 / w
        sums(cell) += px(r * w + c)
        cnts(cell) += 1
        c += 1
      }
      r += 1
    }
    val g = new Array[Long](64)
    var i = 0
    while (i < 64) {
      g(i) = if (cnts(i) == 0) 0L else sums(i) / cnts(i)
      i += 1
    }
    g
  }

  /** Per-bit MAJORITY over a stack of per-frame signatures: bit b of the
    * result is set iff strictly more than half the frames set it. The
    * robust clip fingerprint over per-frame dHashes — a near-dup clip
    * whose every frame pair sits at small Hamming lands at small Hamming
    * here too (a flipped bit must flip in >half the frames to move the
    * vote), and an extra/missing trailing frame barely shifts the vote,
    * unlike a temporal-mean grid, which blurs frames together before
    * hashing. For one frame this IS that frame's signature. */
  private[graft] def majorityHash(sigs: Seq[Long], bits: Int): Long = {
    val n = sigs.length
    var out = 0L
    var b = 0
    while (b < bits) {
      var c = 0
      sigs.foreach(s => if (((s >> b) & 1L) == 1L) c += 1)
      if (2 * c > n) out |= 1L << b
      b += 1
    }
    out
  }

  /** 56-bit difference hash (dHash) over an 8×8 brightness grid: bit
    * (r, c) = [g(r,c) < g(r,c+1)] packed LSB-first at r·7+c — 8 rows ×
    * 7 horizontal-gradient comparisons = 56 bits inside a signed 64-bit
    * long (the d19 posture: banded-Hamming widths stay pigeonhole-exact
    * for any maxHamming < 56). */
  private[graft] def dHash56(grid: Array[Long]): Long = {
    var sig = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 7) {
        if (grid(r * 8 + c) < grid(r * 8 + c + 1)) sig |= 1L << (r * 7 + c)
        c += 1
      }
      r += 1
    }
    sig
  }

  /** 31-bit energy-envelope fingerprint over DECODED PCM samples — the
    * audio sibling of the dHash (chromaprint-lite): 32 FIXED 16-sample
    * windows over the leading 512 samples (prefix-aligned, like the
    * bitmap render: a suffix edit perturbs at most the boundary window
    * and its successor — ≤ 2 gradient bits — instead of re-phasing every
    * window the way clip-relative windows would), window value = the low
    * byte of the window's energy Σ|sample − 128| (8-bit unsigned PCM
    * centered at 128; an 8-bit accumulator — a quantized fingerprint
    * feature, deliberately chaotic across unrelated clips so the banded
    * pair space stays sparse), bit w = [env(w) < env(w+1)] packed
    * LSB-first. Windows a short clip leaves empty read 0. */
  private[graft] def envHash31(samples: Array[Byte]): Long = {
    val s = math.min(samples.length, 512)
    if (s == 0) return 0L
    val env = new Array[Long](32)
    var j = 0
    while (j < s) {
      env(j >> 4) += math.abs((samples(j) & 0xff) - 128)
      j += 1
    }
    var w = 0
    while (w < 32) { env(w) = env(w) % 256; w += 1 }
    var sig = 0L
    var c = 0
    while (c < 31) { if (env(c) < env(c + 1)) sig |= 1L << c; c += 1 }
    sig
  }

  /** Per-image/clip perceptual hash over a media table: (doc_id, phash)
    * for every payload that FULLY decodes as grayscale-8 PNG/APNG
    * (inflate + unfilter EVERY frame + box-sample); audio and corrupt
    * payloads drop. A still image hashes its bitmap's grid; a video
    * dHashes EVERY decoded frame's grid and takes the per-bit MAJORITY
    * ([[majorityHash]]) — the clip signature consumes every frame's
    * pixels, and near-dup clips (small per-frame Hamming throughout)
    * stay near. Same embarrassingly-parallel mapPartitions batch shape
    * as [[extractFeatures]] — one task per split, no shuffle. */
  def phash(media: DataFrame): DataFrame =
    memoSig("phash", media)(phashCompute(media))

  /** The uncached per-call decode+hash — streaming foreachBatch bodies
    * call this directly (a per-batch plan would never re-hit the memo
    * and would only pin persisted frames — the [[buildMediaTable]]
    * contract). */
  private[graft] def phashCompute(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it =>
      it.grouped(64).flatMap(_.flatMap { r =>
        decodePng(r.payload).map { p =>
          (r.doc_id, majorityHash(
            p.frames.map(px => dHash56(grayGrid(p.w, p.h, px))), 56))
        }
      })
    }.toDF("doc_id", "phash")
  }

  /** Session-memoized signature substrates (image dHash, audio
    * envelope, per-frame video dHash) — the [[toMediaTable]] contract
    * one stage later (optimization round, guide §1.2 "don't recompute
    * what you throw away"): the decode+hash pass over the media table
    * is the expensive leg, and SEVEN suite queries plus the release
    * compositions (d21/d23/d24, e9/e10, the e18 family, both media
    * funnels, d25's probe) re-derive identical signatures from the same
    * media frame. At 100 TB the signatures are a persisted index
    * artifact living next to the media store (the d21/d23 scale story),
    * so computing them once per session per corpus IS the deployed
    * shape. Keyed on (session, kind, canonicalized input plan) because
    * the typed mapPartitions closure defeats CacheManager
    * plan-equality. A [[SessionMemo]]: a batch session re-deriving
    * signatures over a GROWN file-backed store replaces the stale frame
    * instead of being served old signatures. The count() is the
    * materialization barrier: one decode pass, not one per concurrent
    * scan inside a single action. */
  private val sigCache = new SessionMemo[
    (String, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan),
    DataFrame](Seq(_))

  private def memoSig(kind: String, input: DataFrame)(
      build: => DataFrame): DataFrame =
    sigCache.getOrBuildElse((kind,
      input.queryExecution.analyzed.canonicalized), input) {
      MemoLedger.timed(s"sig_$kind") {
        val df = build
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        df.count()
        df
      }
    }(build)

  /** Per-frame brightness profile of every VIDEO payload: (doc_id,
    * frame, mean_px) — one row per DECODED frame, floor-mean over that
    * frame's unfiltered bitmap. The direct per-frame-pixel gate (m3):
    * a decoder that substituted the poster frame for frame k, or
    * mis-sequenced the fdAT streams, produces different rows. Still
    * images and audio drop (single-frame profiles carry no information
    * the m1 mean doesn't). */
  def videoFrameMeans(documents: DataFrame): DataFrame = {
    val media = toMediaTable(documents)
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it =>
      it.grouped(64).flatMap(_.flatMap { r =>
        decodePng(r.payload).filter(_.animated).toSeq.flatMap { p =>
          p.frames.zipWithIndex.map { case (px, k) =>
            var s = 0L
            px.foreach(s += _)
            (r.doc_id, k, s / px.length)
          }
        }
      })
    }.toDF("doc_id", "frame", "mean_px")
  }

  /** Perceptual near-dup image pairs — the multimodal bridge into the
    * dedup family: dHash signatures banded through the SAME distinct-
    * signature Hamming engine as d4/d19 (`Dedup.bandedHammingPairs`,
    * maxHamming+1 near-equal bands over the 56 bits — pigeonhole makes
    * banded == brute force for any maxHamming < 56, which is what makes
    * the hash-equality oracle possible). Output (doc1 < doc2, hamming).
    * Scale shape inherits the engine's: banding over distinct signature
    * VALUES, output-proportional re-expansion — exact-duplicate images
    * (the bulk of image dup mass) never inflate the candidate join. */
  def phashPairs(documents: DataFrame, maxHamming: Int = 3,
      bands: Int = 0): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 56,
      "maxHamming must sit inside the 56-bit signature")
    // bands = 0 -> the tightest pigeonhole layout (resolved by the one
    // shared Dedup.hammingBandLayout rule); an explicit larger count is
    // the sf1 cross-check's independent layout (same pair set)
    Dedup.bandedHammingPairs(
      phash(toMediaTable(documents)).select(col("doc_id"),
        col("phash").as("simhash")),
      56, maxHamming, bands)
  }

  /** Per-clip envelope hash over a media table: (doc_id, ahash) for
    * every payload that parses as PCM WAV; images and corrupt payloads
    * drop. Same no-shuffle mapPartitions batch shape as [[phash]]. */
  def audioHash(media: DataFrame): DataFrame =
    memoSig("ahash", media)(audioHashCompute(media))

  /** Uncached per-call form — the streaming entry ([[phashCompute]]'s
    * contract). */
  private[graft] def audioHashCompute(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it =>
      it.grouped(64).flatMap(_.flatMap { r =>
        wavDataBody(r.payload).map { body =>
          (r.doc_id, envHash31(body))
        }
      })
    }.toDF("doc_id", "ahash")
  }

  /** Near-dup AUDIO pairs — completes the multimodal dedup bridge
    * (text d2-d19, images d21, audio here): envelope hashes banded
    * through the same distinct-signature Hamming engine, maxHamming+1
    * near-equal bands over the 31 bits (pigeonhole: banded == brute
    * force). Output (doc1 < doc2, hamming). */
  def audioPairs(documents: DataFrame, maxHamming: Int = 2,
      bands: Int = 0): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 31,
      "maxHamming must sit inside the 31-bit signature")
    Dedup.bandedHammingPairs(
      audioHash(toMediaTable(documents)).select(col("doc_id"),
        col("ahash").as("simhash")),
      31, maxHamming, bands)
  }

  /** Per-frame perceptual hashes of every VIDEO payload: (doc_id, frame,
    * fhash) — one 56-bit dHash per DECODED frame, the fingerprint
    * substrate of [[videoContainmentPairs]]. Same no-shuffle
    * mapPartitions batch shape as [[phash]]. */
  def videoFramePhashes(documents: DataFrame): DataFrame = {
    val media = toMediaTable(documents)
    memoSig("vframes", media) {
      val spark = media.sparkSession
      import spark.implicits._
      media.as[MediaRecord].mapPartitions { it =>
        it.grouped(64).flatMap(_.flatMap { r =>
          decodePng(r.payload).filter(_.animated).toSeq.flatMap { p =>
            p.frames.zipWithIndex.map { case (px, k) =>
              (r.doc_id, k, dHash56(grayGrid(p.w, p.h, px)))
            }
          }
        })
      }.toDF("doc_id", "frame", "fhash")
    }
  }

  /** Clip-containment pairs via FRAME-LEVEL near-dup matching — the
    * video sibling of the d17 text-containment operator: two clips pair
    * when ≥ `threshold` of either clip's frames have a Hamming-≤
    * `maxHamming` partner frame in the other AT A CONSISTENT TEMPORAL
    * ALIGNMENT (sub-clip / re-encode detection, where a whole-clip
    * signature like d21's majority vote dilutes). Frame pairs come from
    * the SAME distinct-signature banded Hamming engine as d21/d23 —
    * frames keyed as doc_id·2²⁰ + frame (so the engine's per-key
    * normalization is a no-op and cross-doc fid order IS doc order),
    * maxHamming+1 near-equal bands over the 56 bits: pigeonhole makes
    * the banded frame-pair set equal brute force, which is what lets the
    * DuckDB oracle recompute it.
    *
    * TEMPORAL CONSISTENCY: only matches within ±1 frame of the pair's
    * DOMINANT offset (the most frequent k2−k1, ties to the smallest)
    * count toward the containment fraction — a true sub-clip matches at
    * one consistent shift, while a shuffled bag of the same frames
    * scatters its matches across many shifts and never reaches the
    * threshold (the ±1 tolerance admits a one-frame re-encode jitter).
    * The any-order fraction stays as the `containment_any` DIAGNOSTIC
    * column (containment ≤ containment_any always).
    *
    * Output (doc1 < doc2, containment, containment_any, shift). Scale
    * shape inherits the engine's (banding over distinct signature
    * values; a hash shared by many frames re-expands output-
    * proportionally); the per-pair work is one groupBy + one window over
    * the frame-pair output, never corpus-proportional. */
  def videoContainmentPairs(documents: DataFrame, maxHamming: Int = 3,
      threshold: Double = 0.8, bands: Int = 0): DataFrame =
    // the memoized frame-hash substrate is already materialized
    // (persist + count barrier) — the fan-out barrier the old
    // localCheckpoint provided comes with it
    videoContainmentFromFrames(videoFramePhashes(documents),
      maxHamming, threshold, bands)

  /** [[videoContainmentPairs]] below the decode: containment over an
    * already-computed (doc_id, frame, fhash) frame-hash table — the spec
    * entry point for planted alignment fixtures. */
  private[graft] def videoContainmentFromFrames(fh: DataFrame,
      maxHamming: Int, threshold: Double, bands: Int = 0): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 56,
      "maxHamming must sit inside the 56-bit signature")
    // fid packing: frame counts are bounded far below 2^20 by the
    // encoder (n_chars/64 + 1), and doc_id must fit the remaining 43
    // bits (2^43·2^20 = 2^63) — an out-of-range id on a general 64-bit
    // id space would silently overflow into the sign bit and corrupt
    // the banded join keys, so it raises instead
    val M = 1L << 20
    val fid = when(col("doc_id").between(0L, (1L << 43) - 1L)
        && col("frame").between(0, (1 << 20) - 1),
      col("doc_id") * M + col("frame"))
      .otherwise(raise_error(concat(
        lit("videoContainmentPairs: (doc_id, frame) outside the packable "
          + "range [0, 2^43) x [0, 2^20): "),
        col("doc_id").cast("string"), lit(","),
        col("frame").cast("string"))))
    val framePairs = Dedup.bandedHammingPairs(
      fh.select(fid.as("doc_id"), col("fhash").as("simhash")),
      56, maxHamming, bands)
    // unpack with EXACT integer ops (shift/mask — M is a power of two
    // and fids are non-negative): a double-promoting floor(x / M) would
    // decode fids above 2^53 inexactly
    val cross = framePairs.select(
        shiftright(col("doc1"), 20).as("doc1"),
        col("doc1").bitwiseAND(M - 1L).cast("int").as("k1"),
        shiftright(col("doc2"), 20).as("doc2"),
        col("doc2").bitwiseAND(M - 1L).cast("int").as("k2"))
      .where(col("doc1") =!= col("doc2"))
    val nf = fh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // dominant temporal offset + shift-consistent fractions: the rollup
    // shared with d27's text alignment (Dedup.shiftConsistentRollup)
    Dedup.shiftConsistentRollup(cross
      .join(nf.select(col("doc_id").as("doc1"), col("n").as("na")), "doc1")
      .join(nf.select(col("doc_id").as("doc2"), col("n").as("nb")), "doc2"),
      threshold, tol = 1)
  }

  /** Media TRAIN/EVAL contamination check — the d9 decontamination shape
    * over perceptual fingerprints: benchmark media (doc_id < benchMaxId,
    * the eval-holdout id layout d9 uses) flagged when a TRAINING doc of
    * the same modality carries a signature within the modality's Hamming
    * budget (visual = the d21 image/video signature, audio = the d23
    * envelope). An eval image leaking into training as a resize or
    * re-encode is exactly what survives text decontamination and shows
    * up here. Blocking is BIPARTITE banded Hamming (maxHamming+1
    * near-equal bands, pigeonhole ⇒ banded == brute force — the oracle
    * recomputes it exactly): the benchmark side is broadcast (eval sets
    * are small by definition), the training side streams through the
    * band probe, and the only aggregation is a groupBy over the
    * match output — contamination-mass-proportional, never corpus-
    * proportional. Output (doc_id [train], bench_id, modality,
    * hamming). */
  def mediaContaminationSplitCheck(documents: DataFrame, benchMaxId: Long,
      maxHamming: Int = 3, audioMaxHamming: Int = 2,
      bands: Int = 0): DataFrame = {
    // the ONE shared bands knob must satisfy BOTH legs' pigeonhole —
    // validated up front so an invalid layout (e.g. bands in (31, 56],
    // legal for the 56-bit visual leg but wider than the 31-bit audio
    // signature) fails with one clear message before any Spark work runs
    require(bands == 0 ||
        (bands > math.max(maxHamming, audioMaxHamming) && bands <= 31),
      s"shared bands=$bands must cover both pigeonholes: " +
        s"max(maxHamming=$maxHamming, audioMaxHamming=$audioMaxHamming) " +
        "< bands <= 31 (the audio signature width)")
    val media = toMediaTable(documents)
    def leg(sigs: DataFrame, bits: Int, mh: Int,
        modality: String): DataFrame =
      contaminationProbe(sigs.where(col("doc_id") >= benchMaxId),
        sigs.where(col("doc_id") < benchMaxId)
          .select(col("doc_id").as("bench_id"), col("sig").as("bsig")),
        bits, mh, bands, modality)
    leg(phash(media).select(col("doc_id"), col("phash").as("sig")),
      56, maxHamming, "visual")
      .unionByName(
        leg(audioHash(media).select(col("doc_id"), col("ahash").as("sig")),
          31, audioMaxHamming, "audio"))
  }

  /** The bipartite banded-Hamming probe one d25 modality leg runs:
    * `train(doc_id, sig)` streamed through the band keys of a BROADCAST
    * `bench(bench_id, bsig)` frame (eval sets are small by definition),
    * maxHamming+1 near-equal bands (pigeonhole ⇒ banded == brute
    * force). Shared by the batch [[mediaContaminationSplitCheck]] and
    * the per-micro-batch probe of the streaming media ingest — the
    * probe is STATELESS given the benchmark signatures, so the online
    * form equals the batch form on any arrival order. Output (doc_id,
    * bench_id, modality, hamming). */
  private[graft] def contaminationProbe(train: DataFrame, bench: DataFrame,
      bits: Int, mh: Int, bands: Int, modality: String): DataFrame = {
    require(mh >= 0 && mh < bits, s"maxHamming inside the $bits bits")
    val nb = if (bands == 0) mh + 1 else bands
    require(nb > mh && nb <= bits, "bands must cover the pigeonhole")
    val base = bits / nb
    val extra = bits % nb
    val widths =
      Array.tabulate(nb)(i => base + (if (i < extra) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _).take(nb)
    def chunked(df: DataFrame, idCol: String, sigCol: String) =
      df.select(col(idCol), col(sigCol),
        explode(array((0 until nb).map(c =>
          struct(lit(c).as("chunk"),
            shiftright(col(sigCol), offsets(c))
              .bitwiseAND((1L << widths(c)) - 1).as("chunk_val"))): _*))
          .as("ck"))
        .select(col(idCol), col(sigCol),
          col("ck.chunk").as("chunk"), col("ck.chunk_val").as("chunk_val"))
    chunked(train, "doc_id", "sig")
      .join(broadcast(chunked(bench, "bench_id", "bsig")),
        Seq("chunk", "chunk_val"))
      .select(col("doc_id"), col("bench_id"),
        bit_count(col("sig").bitwiseXOR(col("bsig"))).as("hamming"))
      .where(col("hamming") <= mh)
      // a pair can match in several bands; min == the single hamming
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(min(col("hamming")).as("hamming"))
      .select(col("doc_id"), col("bench_id"),
        lit(modality).as("modality"), col("hamming"))
  }

  /** D26 — the BENCHMARK BURN report: [[mediaContaminationSplitCheck]]'s
    * flags rolled up per eval item — for each contaminated benchmark
    * doc, how many training docs carry its media (n_train), how close
    * the closest is (min_hamming), and the earliest offender
    * (first_train). This is the report an eval owner reads to decide
    * which items to RETIRE: e10 already drops the training side, but an
    * eval item whose content escaped into the wild stays compromised
    * for any model trained elsewhere — the burn report is the
    * evidence. Runs at e10's LOOSER budgets by default (the enforcement
    * view, not the dedup view). One groupBy over the probe output —
    * contamination-mass-proportional, never corpus-proportional. */
  def benchmarkBurnReport(documents: DataFrame, benchMaxId: Long,
      maxHamming: Int = 5, audioMaxHamming: Int = 3): DataFrame =
    mediaContaminationSplitCheck(documents, benchMaxId, maxHamming,
      audioMaxHamming)
      .groupBy(col("bench_id"), col("modality"))
      .agg(count(lit(1)).as("n_train"),
        min(col("hamming")).as("min_hamming"),
        min(col("doc_id")).as("first_train"))

  /** The benchmark side of the contamination probe, precomputed once per
    * stream (or per corpus release): BOTH modality signature frames of
    * the given benchmark documents, tagged (bench_id, bsig, modality,
    * bits). Small by definition (it is the eval holdout), so the
    * streaming sink localCheckpoints it at setup and broadcasts it into
    * every micro-batch probe. */
  def benchmarkMediaSignatures(benchDocs: DataFrame): DataFrame = {
    val media = toMediaTable(benchDocs)
    phash(media).select(col("doc_id").as("bench_id"),
        col("phash").as("bsig"), lit("visual").as("modality"),
        lit(56).as("bits"))
      .unionByName(audioHash(media).select(col("doc_id").as("bench_id"),
        col("ahash").as("bsig"), lit("audio").as("modality"),
        lit(31).as("bits")))
  }

  /** Feature extraction over the media table: typed mapPartitions, batched
    * 64 records at a time inside each partition (the batch shape a
    * vectorized decoder wants). Runs embarrassingly parallel — one task
    * per input split, no shuffle. Undecodable payloads drop out (the
    * filter-on-parse-failure a real media pipeline applies). */
  def extractFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val ds: Dataset[MediaRecord] = media.as[MediaRecord]
    ds.mapPartitions { it =>
      it.grouped(64).flatMap { batch => batch.flatMap(decode) }
    }.toDF()
  }

  /** Oracle-checkable projection of the feature pass. byte_len (deflate
    * output size) and checksum (CRC-32) aren't DuckDB-SQL-expressible
    * and are ScalaTest-pinned instead; mean_px IS oracle-checked — it is
    * the column that proves the inflate+unfilter path recovered the
    * encoder's exact bitmap. */
  def mediaFeatureSummary(documents: DataFrame): DataFrame =
    extractFeatures(toMediaTable(documents))
      .select(col("doc_id"), col("kind"), col("width"),
        col("height"), col("n_frames"), col("duration_ms"), col("mean_px"))
}
