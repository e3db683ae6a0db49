package graft.sources

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{IIOImage, ImageIO}

import graft.core.{ImageLog, ImageMeta, LogEntry, PixelCodec, SparkImage}

/** File-format codec for on-disk images via `javax.imageio` (PNG, GIF,
  * BMP, TIFF — the JDK's built-ins; replaces the reference's temp-file
  * round-trip through ImageJ, Spiji.java:1585-1614 / 1623-1634, with
  * in-memory streams). TIFF is the multi-slice interchange format: a
  * SparkImage stack writes one TIFF page per slice and a multi-page
  * file decodes back to a stack in page order (the reference's
  * flagship IO case reads a 68-slice DICOM stack,
  * IjRDDTests.scala:30-99 — same shape, JDK-supported container).
  * Pure functions — safe to call concurrently from any task thread. */
object ImageCodecIO {

  // ImageIO defaults to a DISK-backed stream cache: every encode/decode
  // creates (and synchronizes on) a temp file, which serializes all
  // codec work across task threads. In-memory streams only.
  ImageIO.setUseCache(false)

  /** TIFF magic: II*\0 (little-endian) or MM\0* (big-endian). Sniffing
    * bytes beats trusting extensions — `imagedir` patterns are
    * user-supplied. */
  private def isTiff(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 &&
      ((bytes(0) == 0x49 && bytes(1) == 0x49 && bytes(2) == 0x2a && bytes(3) == 0x00) ||
       (bytes(0) == 0x4d && bytes(1) == 0x4d && bytes(2) == 0x00 && bytes(3) == 0x2a))

  /** DICOM Part 10 magic: a 128-byte preamble then "DICM". */
  private def isDicom(bytes: Array[Byte]): Boolean =
    bytes.length >= 132 && bytes(128) == 'D' && bytes(129) == 'I' &&
      bytes(130) == 'C' && bytes(131) == 'M'

  /** The core five DICOM transfer syntaxes this codec speaks: the three
    * uncompressed ones — implicit-VR little-endian (the default
    * syntax every conformant reader must accept), explicit-VR
    * little-endian, explicit-VR big-endian (retired but present in
    * old PACS archives) — plus two lossless compressed syntaxes that
    * round-trip exactly: RLE Lossless (PackBits segments in an
    * encapsulated PixelData) and JPEG Lossless SV1 (process 14,
    * first-order horizontal prediction — the syntax real PACS
    * archives most commonly use for lossless exports). */
  private[graft] val TsImplicitLE = "1.2.840.10008.1.2"
  private[graft] val TsExplicitLE = "1.2.840.10008.1.2.1"
  private[graft] val TsExplicitBE = "1.2.840.10008.1.2.2"
  private[graft] val TsRle = "1.2.840.10008.1.2.5"
  private[graft] val TsJpegLossless = "1.2.840.10008.1.2.4.70"

  /** Two more JPEG-family syntaxes beyond SV1: process-14 with ANY
    * predictor (the decoder is predictor-generic, and an SV1 stream
    * is itself a legal process-14 stream, so encode emits the same
    * bytes as [[TsJpegLossless]]), and 8-bit JPEG Baseline — LOSSY,
    * decoded by the JDK's built-in baseline codec; decode of a given
    * file is deterministic but encode→decode does not round-trip
    * pixel values, so Baseline stays out of the hash gate (sbt-spec
    * coverage only) and out of [[graft.ops.ImageOps]]' lossless
    * series rotation. */
  private[graft] val TsJpegLossless14 = "1.2.840.10008.1.2.4.57"
  private[graft] val TsJpegBaseline = "1.2.840.10008.1.2.4.50"

  /** JPEG Extended (Process 2 & 4) — LOSSY 12-bit sequential DCT,
    * the syntax PACS archives use for 12-bit CT/MR exports that
    * Baseline (8-bit only) cannot carry. Implemented natively in
    * [[JpegDctCodec]] (SOF1, flat canonical tables, all-ones quant;
    * the decoder also reads SOF0 and third-party DQT/DHT/DRI
    * streams). Same gate treatment as Baseline: deterministic decode,
    * but encode→decode perturbs values by design, so it stays out of
    * the hash gate and the lossless rotation. */
  private[graft] val TsJpegExtended = "1.2.840.10008.1.2.4.51"

  /** JPEG-LS Lossless (ITU-T T.87, the LOCO-I algorithm) — the
    * modern lossless PACS syntax; context-modeled Golomb coding with
    * run mode, implemented natively in [[JpegLsCodec]] and bit-exact
    * on round-trip. */
  private[graft] val TsJpegLs = "1.2.840.10008.1.2.4.80"

  /** JPEG-LS Lossy (Near-Lossless) — NEAR > 0 in the T.87 SOS: every
    * coded residual quantizes to a multiple of 2·NEAR+1, giving the
    * HARD per-sample guarantee |decoded − original| ≤ NEAR (this
    * codec writes NEAR = 2). Like .50/.51 it stays out of the
    * value-exact gate; img22's census gates its metadata and
    * PropertySpec asserts the error bound exactly. */
  private[graft] val TsJpegLsNear = "1.2.840.10008.1.2.4.81"

  /** JPEG 2000 Image Compression (Lossless Only) — ITU-T T.800 with
    * the reversible 5/3 wavelet, implemented natively in
    * [[Jpeg2000Codec]] (MQ coder, EBCOT Tier-1/Tier-2, raw
    * codestream as DICOM requires) and bit-exact on round-trip. */
  private[graft] val TsJpeg2000Lossless = "1.2.840.10008.1.2.4.90"

  /** JPEG 2000 Image Compression — the lossy-capable .91 syntax. The
    * writer emits the irreversible 9/7 path of [[Jpeg2000Codec]]
    * (float lifting, scalar-expounded quantization at a documented
    * fixed step — a quantizer-bounded lossy codec like Baseline's
    * Byte8 clamp is a documented range clamp); the reader decodes
    * whatever transform the codestream declares, since .91 legally
    * carries reversible streams too. */
  private[graft] val TsJpeg2000 = "1.2.840.10008.1.2.4.91"

  /** The .91 writer's quantization step (sample units at 16-bit).
    * Fixed and documented, like the .81 writer's NEAR = 2. */
  private[graft] val J2kLossyStep = 8.0

  /** PackBits decode of one RLE segment into exactly `expected`
    * bytes. Control byte n (signed): 0..127 → copy the next n+1
    * bytes; −1..−127 → repeat the next byte 1−n times; −128 → no-op.
    * Trailing pad bytes past `expected` are ignored. */
  private def unpackBits(src: Array[Byte], from: Int, to: Int,
                         expected: Int, path: String): Array[Byte] = {
    val out = new Array[Byte](expected)
    var i = from; var o = 0
    while (o < expected && i < to) {
      val n = src(i); i += 1
      if (n >= 0) {
        val c = n + 1
        require(i + c <= to && o + c <= expected,
          s"RLE literal overruns segment in $path")
        System.arraycopy(src, i, out, o, c); i += c; o += c
      } else if (n != -128) {
        val c = 1 - n
        require(i < to && o + c <= expected,
          s"RLE replicate overruns segment in $path")
        java.util.Arrays.fill(out, o, o + c, src(i)); i += 1; o += c
      }
    }
    require(o == expected, s"short RLE segment ($o of $expected bytes) in $path")
    out
  }

  /** PackBits encode: runs of ≥3 identical bytes replicate, the rest
    * copy as literals (≤128 per control byte). */
  private def packBits(src: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def runLen(p: Int): Int = {
      var r = 1
      while (p + r < src.length && src(p + r) == src(p) && r < 128) r += 1
      r
    }
    var i = 0
    while (i < src.length) {
      val r = runLen(i)
      if (r >= 3) { out.write((1 - r) & 0xff); out.write(src(i)); i += r }
      else {
        val start = i
        i += r
        while (i < src.length && (i - start) < 128 && runLen(i) < 3) i += runLen(i)
        var litLen = i - start
        if (litLen > 128) { i -= litLen - 128; litLen = 128 }
        out.write(litLen - 1); out.write(src, start, litLen)
      }
    }
    out.toByteArray
  }

  /** Read an undefined-length PixelData element's encapsulated
    * fragments (Basic Offset Table item — empty or populated — then
    * fragment items up to the sequence delimiter) and assemble ONE
    * complete codec payload per FRAME (PS3.5 A.4):
    *
    *  - populated BOT: entry k is the offset of frame k's FIRST
    *    fragment item; a frame split across ≤64 KB fragments (what
    *    real encoders emit for large frames) reassembles by
    *    concatenating the fragment contents between consecutive BOT
    *    entries. Every entry must land exactly on a fragment item and
    *    be strictly increasing from 0 — anything else is corrupt, not
    *    guessable.
    *  - empty BOT: unambiguous only when fragments = frames (one
    *    each), or for a single-frame object (all fragments are that
    *    frame). A fragment-less frame count mismatch rejects loudly.
    *  - RLE (`allowMultiFragment = false`): PS3.5 Annex G requires
    *    each frame in one and only one fragment — multi-fragment RLE
    *    is a conformance error, rejected.
    */
  private def readEncapsulatedFrames(bb: java.nio.ByteBuffer,
                                     path: String, minLen: Int, frames: Int,
                                     allowMultiFragment: Boolean): Seq[Array[Byte]] = {
    def item(): (Int, Int, Int) =
      ((bb.getShort & 0xffff), (bb.getShort & 0xffff), bb.getInt)
    val (g1, e1, l1) = item()
    require(g1 == 0xfffe && e1 == 0xe000 && l1 >= 0 && l1 % 4 == 0 && l1 <= bb.remaining,
      s"missing Basic Offset Table item in $path")
    val bot = Array.fill(l1 / 4)(bb.getInt)
    val fragStart = bb.position() // offsets in the BOT are relative to here
    val frags = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    var done = false
    while (!done) {
      require(bb.remaining >= 8, s"unterminated encapsulated PixelData in $path")
      offsets += bb.position() - fragStart
      val (g, e, l) = item()
      if (g == 0xfffe && e == 0xe0dd) {
        require(l == 0, s"non-empty sequence delimiter in $path")
        offsets.remove(offsets.length - 1)
        done = true
      } else {
        require(g == 0xfffe && e == 0xe000 && l >= 0 && l % 2 == 0 && l <= bb.remaining,
          s"malformed pixel fragment item in $path")
        val frag = new Array[Byte](l); bb.get(frag)
        frags += frag
      }
    }
    require(frags.nonEmpty, s"encapsulated PixelData with no fragments in $path")
    val assembled: Seq[Array[Byte]] =
      if (bot.isEmpty) {
        if (frags.length == frames) frags.toSeq
        else if (frames == 1) {
          // multi-fragment single-frame is legal for the JPEG family
          // but a PS3.5 Annex G violation for RLE — same reject as the
          // BOT-grouped path
          require(allowMultiFragment,
            s"single frame spans ${frags.length} fragments in $path, but this " +
              "transfer syntax requires one fragment per frame (PS3.5 Annex G)")
          Seq(Array.concat(frags.toSeq: _*))
        }
        else throw new IllegalArgumentException(
          s"${frags.length} pixel fragments for NumberOfFrames $frames with an " +
            s"empty Basic Offset Table in $path (frame boundaries are ambiguous — " +
            "a conformant multi-frame encoder populates the BOT)")
      } else {
        require(bot.length == frames,
          s"Basic Offset Table has ${bot.length} entries for NumberOfFrames " +
            s"$frames in $path")
        require(bot(0) == 0,
          s"Basic Offset Table does not start at offset 0 in $path")
        val offsetIdx = offsets.zipWithIndex.toMap
        val starts = bot.map { o =>
          offsetIdx.getOrElse(o, throw new IllegalArgumentException(
            s"Basic Offset Table entry $o does not land on a fragment item in $path"))
        }
        require(starts.zip(starts.tail).forall { case (a, b) => a < b },
          s"Basic Offset Table entries not strictly increasing in $path")
        (0 until frames).map { k =>
          val from = starts(k)
          val until = if (k + 1 < frames) starts(k + 1) else frags.length
          if (until - from == 1) frags(from)
          else {
            require(allowMultiFragment,
              s"frame $k spans ${until - from} fragments in $path, but this " +
                "transfer syntax requires one fragment per frame (PS3.5 Annex G)")
            Array.concat(frags.slice(from, until).toSeq: _*)
          }
        }
      }
    assembled.foreach(f => require(f.length >= minLen,
      s"assembled frame payload shorter than $minLen bytes in $path"))
    assembled
  }

  /** Decode one RLE Lossless fragment (PS3.5 annex G): 64-byte header
    * (number of segments + 15 offsets from fragment start), then one
    * PackBits segment per byte plane of each sample — mono 8-bit has
    * one segment, mono 16-bit two (MSB then LSB), 8-bit RGB three
    * (R, G, B planes). Returns little-endian interleaved pixel bytes
    * (the layout the shared pixel loop reads: lo,hi per 16-bit sample;
    * r,g,b per RGB pixel). */
  private def rleDecodeFragment(frag: Array[Byte], nPix: Int, bits: Int,
                                samples: Int, path: String): Array[Byte] = {
    val hb = java.nio.ByteBuffer.wrap(frag).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nSeg = hb.getInt
    require(nSeg == samples * (bits / 8),
      s"RLE segment count $nSeg does not match SamplesPerPixel $samples × " +
        s"BitsAllocated $bits in $path")
    val offsets = Array.fill(15)(hb.getInt)
    val segs = (0 until nSeg).map { s =>
      val start = offsets(s)
      val end = if (s + 1 < nSeg && offsets(s + 1) > 0) offsets(s + 1) else frag.length
      require(start >= 64 && start <= end && end <= frag.length,
        s"corrupt RLE segment offsets in $path")
      unpackBits(frag, start, end, nPix, path)
    }
    if (samples == 3) {
      val px = new Array[Byte](nPix * 3)
      var i = 0
      while (i < nPix) {
        px(3 * i) = segs(0)(i); px(3 * i + 1) = segs(1)(i); px(3 * i + 2) = segs(2)(i)
        i += 1
      }
      px
    } else if (bits == 8) segs(0)
    else {
      val px = new Array[Byte](nPix * 2)
      var i = 0
      while (i < nPix) { px(2 * i) = segs(1)(i); px(2 * i + 1) = segs(0)(i); i += 1 }
      px
    }
  }

  /** Encode byte planes as an RLE Lossless fragment: header + one
    * even-padded PackBits segment per plane (mono 16-bit: MSB, LSB;
    * RGB: R, G, B). */
  private def rleEncodePlanes(planes: Seq[Array[Byte]]): Array[Byte] = {
    require(planes.nonEmpty && planes.length <= 15, "1..15 RLE segments")
    def pad(a: Array[Byte]): Array[Byte] = if (a.length % 2 == 0) a else a :+ 0.toByte
    val segs = planes.map(p => pad(packBits(p)))
    val bos = new ByteArrayOutputStream()
    def u32(v: Int): Unit = {
      bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
      bos.write((v >> 16) & 0xff); bos.write((v >>> 24) & 0xff)
    }
    u32(segs.length)
    var off = 64
    segs.foreach { s => u32(off); off += s.length }
    (segs.length until 15).foreach(_ => u32(0))
    segs.foreach(bos.write)
    bos.toByteArray
  }

  /** Encode 16-bit pixels as an RLE Lossless fragment: header + the
    * MSB then LSB PackBits segments, each even-padded. */
  private def rleEncodeFragment(vals: Array[Int]): Array[Byte] =
    rleEncodePlanes(Seq(
      Array.tabulate(vals.length)(i => ((vals(i) >> 8) & 0xff).toByte),
      Array.tabulate(vals.length)(i => (vals(i) & 0xff).toByte)))

  // ======================= JPEG Lossless (process 14, SV1) ==========
  // ITU-T T.81 annex H: lossless sequential Huffman coding of
  // prediction differences, computed modulo 2^16. SV1 ("selection
  // value 1") predicts each sample from its left neighbour Ra, the
  // first sample of every subsequent line from the sample above Rb,
  // and the very first sample from 2^(P-1). A difference d is coded
  // as Huffman(SSSS = magnitude category 0..16) followed by SSSS raw
  // bits (negatives as d-1 in SSSS low bits, exactly DC coding);
  // SSSS=16 means d=32768 with no extra bits. Entropy bytes 0xFF are
  // stuffed with 0x00.

  /** MSB-first bit writer with JPEG 0xFF→0xFF00 byte stuffing. */
  private final class BitWriter(bos: ByteArrayOutputStream) {
    private var acc = 0; private var nBits = 0
    def put(value: Int, bits: Int): Unit = {
      var b = bits - 1
      while (b >= 0) {
        acc = (acc << 1) | ((value >>> b) & 1); nBits += 1
        if (nBits == 8) {
          bos.write(acc)
          if (acc == 0xff) bos.write(0x00)
          acc = 0; nBits = 0
        }
        b -= 1
      }
    }
    /** Pad the final partial byte with 1-bits (T.81 F.1.2.3). */
    def flush(): Unit = if (nBits > 0) put(0xff, 8 - nBits)
  }

  /** MSB-first bit reader that un-stuffs 0xFF00 and refuses to read
    * past a marker (any 0xFF followed by non-zero). */
  private final class BitReader(src: Array[Byte], private var pos: Int,
                                path: String) {
    private var acc = 0; private var nBits = 0
    def bit(): Int = {
      if (nBits == 0) {
        require(pos < src.length, s"truncated JPEG entropy data in $path")
        var b = src(pos) & 0xff; pos += 1
        if (b == 0xff) {
          require(pos < src.length && src(pos) == 0x00,
            s"unexpected marker inside JPEG entropy data in $path")
          pos += 1
        }
        acc = b; nBits = 8
      }
      nBits -= 1
      (acc >>> nBits) & 1
    }
    def bits(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
  }

  /** The one Huffman table this encoder writes: all 17 SSSS symbols
    * at code length 5 (BITS = seventeen length-5 codes). Canonical
    * codes are then simply 00000₂..10000₂ = the symbol value itself,
    * the all-ones code stays reserved as T.81 annex C requires, and
    * the table is complete for every possible difference. A
    * per-image optimal table would shave bits but adds a second
    * pass; lossless-exact and conformant is the contract here — and
    * the DECODER builds its table from whatever BITS/HUFFVAL the
    * file declares, so third-party streams with tuned tables decode
    * fine. */
  private val JpegFlatCodeLen = 5

  /** Magnitude category of a difference mapped to (-32767..32768). */
  private def ssss(sd: Int): Int =
    if (sd == 32768) 16
    else 32 - Integer.numberOfLeadingZeros(math.abs(sd))

  /** Encode one 16-bit single-component frame as a complete JPEG
    * lossless interchange stream (SOI, SOF3, DHT, SOS with Ss=1,
    * entropy data, EOI). */
  private[graft] def jpegLosslessEncode(vals: Array[Int], w: Int, h: Int): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    def marker(m: Int): Unit = { bos.write(0xff); bos.write(m) }
    def u16(v: Int): Unit = { bos.write((v >> 8) & 0xff); bos.write(v & 0xff) }
    marker(0xd8) // SOI
    marker(0xc3) // SOF3: lossless sequential Huffman
    u16(11); bos.write(16); u16(h); u16(w); bos.write(1)
    bos.write(1); bos.write(0x11); bos.write(0)
    marker(0xc4) // DHT: class 0 / id 0, 17 symbols all at length 5
    u16(2 + 1 + 16 + 17); bos.write(0x00)
    (1 to 16).foreach(l => bos.write(if (l == JpegFlatCodeLen) 17 else 0))
    (0 to 16).foreach(bos.write)
    marker(0xda) // SOS: one component, predictor SV1, no point transform
    u16(8); bos.write(1); bos.write(1); bos.write(0x00)
    bos.write(1); bos.write(0); bos.write(0x00)
    val bw = new BitWriter(bos)
    var i = 0
    while (i < vals.length) {
      val pred =
        if (i == 0) 32768
        else if (i % w == 0) vals(i - w)
        else vals(i - 1)
      val d = (vals(i) - pred) & 0xffff
      val sd = if (d > 32768) d - 65536 else d
      val s = ssss(sd)
      bw.put(s, JpegFlatCodeLen) // canonical code == symbol at flat length
      if (s > 0 && s < 16) bw.put(if (sd >= 0) sd else sd - 1, s)
      i += 1
    }
    bw.flush()
    marker(0xd9) // EOI
    bos.toByteArray
  }

  /** Encode one slice as an 8-bit grayscale JPEG Baseline stream via
    * the JDK's built-in codec (LOSSY — values clamp to Byte8 and DCT
    * quantization perturbs them; callers gate on that). */
  private def jpegBaselineEncode(img: SparkImage, px: Array[Double],
                                 slice: Int): Array[Byte] = {
    val w = img.width; val h = img.height
    val off = slice * w * h
    val page = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val raster = page.getRaster
    var i = 0
    while (i < w * h) {
      raster.setSample(i % w, i / w, 0,
        PixelCodec.clamp(px(off + i), PixelCodec.Byte8).toInt)
      i += 1
    }
    writeJpeg(page)
  }

  /** Shared JDK JPEG writer (quality 0.95) for the grayscale and color
    * baseline encoders — one place for writer selection and params. */
  private def writeJpeg(page: BufferedImage): Array[Byte] = {
    val writers = ImageIO.getImageWritersByFormatName("jpeg")
    require(writers.hasNext, "no JPEG writer registered (the JDK ships one)")
    val writer = writers.next()
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(0.95f)
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    try { writer.setOutput(ios); writer.write(null, new IIOImage(page, null, null), p) }
    finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** Color JPEG Baseline frame via the JDK writer: interleaved RGB
    * image bytes → TYPE_INT_RGB page → JFIF stream (the writer owns
    * the RGB→YCbCr conversion and chroma subsampling — the stream a
    * real .50 color ultrasound/endoscopy file carries). */
  private def jpegBaselineEncodeColor(img: SparkImage, frame: Int): Array[Byte] = {
    val w = img.width; val h = img.height; val n = w * h
    val page = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    // bulk setRGB: one array pass instead of a per-pixel color-model
    // conversion call
    val packed = new Array[Int](n)
    var i = 0
    while (i < n) {
      val b = (frame * n + i) * 3
      packed(i) = ((img.data(b) & 0xff) << 16) | ((img.data(b + 1) & 0xff) << 8) |
        (img.data(b + 2) & 0xff)
      i += 1
    }
    page.setRGB(0, 0, w, h, packed, 0, w)
    writeJpeg(page)
  }

  /** Canonical Huffman decode tables per T.81 F.2.2.3: for each code
    * length, the smallest/largest code and the HUFFVAL index of the
    * smallest. */
  private final class HuffTable(bits: Array[Int], vals: Array[Int]) {
    private val minCode = new Array[Int](17)
    private val maxCode = Array.fill(17)(-1)
    private val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0; var l = 1
      while (l <= 16) {
        if (bits(l - 1) > 0) {
          valPtr(l) = k; minCode(l) = code
          code += bits(l - 1); k += bits(l - 1)
          maxCode(l) = code - 1
        }
        code <<= 1; l += 1
      }
    }
    def decode(br: BitReader, path: String): Int = {
      var code = br.bit(); var l = 1
      while (l <= 16 && (maxCode(l) < 0 || code > maxCode(l))) {
        code = (code << 1) | br.bit(); l += 1
      }
      require(l <= 16, s"invalid Huffman code in JPEG stream in $path")
      vals(valPtr(l) + code - minCode(l))
    }
  }

  /** Decode a single-component JPEG lossless (SOF3) stream. Handles
    * any declared Huffman table and any predictor selection 1..7;
    * rejects loudly everything this profile does not cover (lossy
    * SOFs, multi-component scans, point transforms, restart
    * intervals). Returns (width, height, samples in raster order). */
  private[graft] def jpegLosslessDecode(frag: Array[Byte], path: String): (Int, Int, Array[Int]) = {
    require(frag.length >= 4 && (frag(0) & 0xff) == 0xff && (frag(1) & 0xff) == 0xd8,
      s"missing JPEG SOI marker in $path")
    var pos = 2
    def u16(p: Int): Int = ((frag(p) & 0xff) << 8) | (frag(p + 1) & 0xff)
    var w = 0; var h = 0; var precision = 0
    var table: HuffTable = null
    var predictor = 0; var scanStart = -1
    while (scanStart < 0) {
      require(pos + 4 <= frag.length && (frag(pos) & 0xff) == 0xff,
        s"malformed JPEG marker stream in $path")
      // T.81 B.1.1.2: markers may be preceded by any number of 0xFF
      // fill bytes — skip them or the next marker byte reads as a length
      while (pos + 4 <= frag.length && (frag(pos + 1) & 0xff) == 0xff) pos += 1
      val m = frag(pos + 1) & 0xff
      val len = u16(pos + 2)
      require(pos + 2 + len <= frag.length, s"truncated JPEG segment in $path")
      m match {
        case 0xc3 => // SOF3: the only frame type this profile speaks
          precision = frag(pos + 4) & 0xff
          h = u16(pos + 5); w = u16(pos + 7)
          require((frag(pos + 9) & 0xff) == 1,
            s"multi-component lossless JPEG unsupported in $path")
          require(precision >= 2 && precision <= 16,
            s"bad JPEG precision $precision in $path")
        case sof if sof >= 0xc0 && sof <= 0xcf && sof != 0xc4 && sof != 0xc8 && sof != 0xcc =>
          throw new IllegalArgumentException(
            f"lossy JPEG frame (SOF marker 0xFF$sof%02X) unsupported in $path — lossless SOF3 only")
        case 0xc4 => // DHT: may carry several tables; keep class-0 id-0
          var p = pos + 4
          while (p < pos + 2 + len) {
            val tcTh = frag(p) & 0xff
            val bits = Array.tabulate(16)(i => frag(p + 1 + i) & 0xff)
            val n = bits.sum
            val vals = Array.tabulate(n)(i => frag(p + 17 + i) & 0xff)
            if (tcTh == 0x00) table = new HuffTable(bits, vals)
            p += 17 + n
          }
        case 0xdd =>
          require(u16(pos + 4) == 0, s"JPEG restart intervals unsupported in $path")
        case 0xda => // SOS
          require((frag(pos + 4) & 0xff) == 1,
            s"multi-component JPEG scan unsupported in $path")
          predictor = frag(pos + 7) & 0xff
          require(predictor >= 1 && predictor <= 7,
            s"bad JPEG predictor selection $predictor in $path")
          require((frag(pos + 9) & 0x0f) == 0,
            s"JPEG point transform unsupported in $path")
          scanStart = pos + 2 + len
        case _ => () // APPn / COM / other tables: skip
      }
      pos += 2 + len
    }
    require(w > 0 && h > 0, s"missing JPEG SOF3 frame header in $path")
    require(table != null, s"missing JPEG Huffman table in $path")
    val br = new BitReader(frag, scanStart, path)
    val out = new Array[Int](w * h)
    val defaultPred = 1 << (precision - 1)
    var i = 0
    while (i < out.length) {
      val s = table.decode(br, path)
      require(s <= 16, s"bad JPEG magnitude category $s in $path")
      val d =
        if (s == 0) 0
        else if (s == 16) 32768
        else {
          val v = br.bits(s)
          if (v < (1 << (s - 1))) v - (1 << s) + 1 else v
        }
      val x = i % w
      val pred =
        if (i == 0) defaultPred
        else if (i < w) out(i - 1)                       // first line: Ra
        else if (x == 0) out(i - w)                      // first column: Rb
        else predictor match {
          case 1 => out(i - 1)
          case 2 => out(i - w)
          case 3 => out(i - w - 1)
          case 4 => out(i - 1) + out(i - w) - out(i - w - 1)
          case 5 => out(i - 1) + ((out(i - w) - out(i - w - 1)) >> 1)
          case 6 => out(i - w) + ((out(i - 1) - out(i - w - 1)) >> 1)
          case 7 => (out(i - 1) + out(i - w)) >> 1
        }
      out(i) = (pred + d) & 0xffff
      i += 1
    }
    (w, h, out)
  }

  private val LongVrs = Set("OB", "OW", "OF", "SQ", "UT", "UN")

  /** The value length of the data element whose tag was just read,
    * leaving `bb` at the value: implicit VR carries a 4-byte length,
    * explicit VR a 2-byte one, or 2 reserved bytes and a 4-byte one
    * after the long VRs. -1 is the undefined length. */
  private def elementLength(bb: java.nio.ByteBuffer, explicitVr: Boolean): Int =
    if (!explicitVr) bb.getInt
    else {
      val vr = new String(Array(bb.get(), bb.get()).map(b => b.toChar))
      if (LongVrs(vr)) { bb.getShort(); bb.getInt() } else bb.getShort & 0xffff
    }

  /** The `len`-byte element value at `bb`'s position; `corrupt` names
    * the reject for an undefined length or one past the end. */
  private def elementValue(bb: java.nio.ByteBuffer, len: Int, corrupt: => String): Array[Byte] = {
    require(len >= 0 && len <= bb.remaining, corrupt)
    val value = new Array[Byte](len); bb.get(value)
    value
  }

  /** Walk the Part 10 file-meta group, which is always explicit-VR
    * little-endian, and return its TransferSyntaxUID; `bb` is left at
    * the first dataset element. */
  private def readMetaGroup(bb: java.nio.ByteBuffer, path: String): String = {
    require(isDicom(bb.array), s"not a DICOM Part 10 file: $path")
    bb.position(132)
    var ts: String = null
    var inMeta = true
    while (inMeta && bb.remaining >= 8) {
      bb.mark()
      if ((bb.getShort & 0xffff) != 0x0002) { bb.reset(); inMeta = false }
      else {
        val elem = bb.getShort & 0xffff
        val value = elementValue(bb, elementLength(bb, explicitVr = true),
          s"corrupt DICOM meta length in $path")
        if (elem == 0x0010) ts = new String(value, "US-ASCII").trim
      }
    }
    require(ts != null, s"missing TransferSyntaxUID in $path")
    ts
  }

  /** Read ONLY the Part 10 file-meta group and return the
    * TransferSyntaxUID (no dataset walk; bytes beyond the meta group
    * are never touched). */
  private[graft] def dicomTransferSyntax(path: String, bytes: Array[Byte]): String =
    readMetaGroup(java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN), path)

  /** What a DICOM file's header says about its pixel data: the
    * TransferSyntaxUID, the image pixel module, InstanceNumber, the
    * modality LUT and the palette LUTs, and `pixelData`, the offset
    * just past the PixelData (7FE0,0010) tag, where the pixel stage
    * goes on reading (-1 when the file has no PixelData). */
  private[graft] final case class DicomHeader(
      ts: String, rows: Int, cols: Int, frames: Int, instance: Int,
      bits: Int, bitsStored: Int, samples: Int, photometric: String, planar: Int,
      pixelRep: Int, rescaleSlope: Option[Double], rescaleIntercept: Option[Double],
      lutDesc: IndexedSeq[Array[Int]], lutRaw: IndexedSeq[Array[Byte]], pixelData: Int) {
    def explicitVr: Boolean = ts != TsImplicitLE
    def bigEndian: Boolean = ts == TsExplicitBE
    def encapsulated: Boolean = ts != TsImplicitLE && ts != TsExplicitLE && ts != TsExplicitBE
    def isRgb: Boolean = samples == 3
    def is422: Boolean = photometric == "YBR_FULL_422"
    def signed: Boolean = pixelRep == 1
    def hasRescale: Boolean = rescaleSlope.nonEmpty || rescaleIntercept.nonEmpty
  }

  /** The header walk: the meta group, then the dataset elements in the
    * syntax's encoding and byte order up to the PixelData tag, which
    * it does not read past. Runs every reject of [[decodeDicomWithInstance]]
    * that reads only header fields (syntax, geometry, photometric,
    * sample, sign, rescale and palette rules), so an archive census
    * reads what a decode would accept without decoding a pixel. */
  private[graft] def dicomHeader(path: String, bytes: Array[Byte]): DicomHeader = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ts = readMetaGroup(bb, path)
    ts match {
      case TsImplicitLE | TsExplicitLE | TsExplicitBE | TsRle | TsJpegLossless |
           TsJpegLossless14 | TsJpegBaseline | TsJpegExtended | TsJpegLs | TsJpegLsNear |
           TsJpeg2000Lossless | TsJpeg2000 => ()
      case other => throw new IllegalArgumentException(
        s"unsupported DICOM transfer syntax $other in $path " +
          "(implicit-VR LE / explicit-VR LE / explicit-VR BE / RLE Lossless / " +
          "JPEG Lossless (.57/.70) / JPEG Baseline / JPEG Extended (.51) / " +
          "JPEG-LS (.80/.81) / JPEG 2000 Lossless only)")
    }
    val explicitVr = ts != TsImplicitLE
    val bigEndian = ts == TsExplicitBE
    if (bigEndian) bb.order(java.nio.ByteOrder.BIG_ENDIAN)
    var rows = 0; var cols = 0; var bits = 16; var pixelRep = 0; var instance = 1
    var samples = 1; var photometric = "MONOCHROME2"; var planar = 0; var frames = 1
    var bitsStored = 0 // (0028,0101); 0 = absent, defaults to BitsAllocated
    // PALETTE COLOR state: Red/Green/Blue Palette Color Lookup Table
    // Descriptor (0028,1101-1103, three US values each) and Data
    // (0028,1201-1203, OW words in the dataset byte order)
    val lutDesc = new Array[Array[Int]](3)
    val lutRaw = new Array[Array[Byte]](3)
    // Rescale Intercept/Slope (0028,1052/1053, DS) — the modality LUT
    // that turns stored CT values into Hounsfield units. DS values
    // parse through a loud, path-naming reject (anonymizers emit
    // zero-length DS elements; a bare NumberFormatException would be
    // undiagnosable in a distributed decode)
    var rescaleIntercept: Option[Double] = None
    var rescaleSlope: Option[Double] = None
    def parseDs(s: String, what: String): Double =
      try s.toDouble catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"unparseable $what DS value '$s' in $path")
      }
    var pixelData = -1
    while (pixelData < 0 && bb.remaining >= 8) {
      val group = bb.getShort & 0xffff; val elem = bb.getShort & 0xffff
      if (group == 0x7fe0 && elem == 0x0010) pixelData = bb.position()
      else {
        val value = elementValue(bb, elementLength(bb, explicitVr),
          s"corrupt or undefined DICOM element length in $path")
        def u16At(i: Int): Int =
          if (bigEndian) ((value(2 * i) & 0xff) << 8) | (value(2 * i + 1) & 0xff)
          else (value(2 * i) & 0xff) | ((value(2 * i + 1) & 0xff) << 8)
        def u16: Int = u16At(0)
        def str: String = new String(value, "US-ASCII").trim
        def desc: Array[Int] = {
          require(value.length == 6,
            s"palette LUT descriptor must hold 3 US values in $path")
          Array(u16At(0), u16At(1), u16At(2))
        }
        (group, elem) match {
          case (0x0020, 0x0013) => instance = str.toInt
          case (0x0028, 0x0002) => samples = u16
          case (0x0028, 0x0004) => photometric = str
          case (0x0028, 0x0006) => planar = u16
          case (0x0028, 0x0008) => frames = str.toInt
          case (0x0028, 0x0010) => rows = u16
          case (0x0028, 0x0011) => cols = u16
          case (0x0028, 0x0100) => bits = u16
          case (0x0028, 0x0101) => bitsStored = u16
          case (0x0028, 0x0103) => pixelRep = u16
          case (0x0028, 0x1052) => rescaleIntercept = Some(parseDs(str, "RescaleIntercept"))
          case (0x0028, 0x1053) => rescaleSlope = Some(parseDs(str, "RescaleSlope"))
          case (0x0028, 0x1101) => lutDesc(0) = desc
          case (0x0028, 0x1102) => lutDesc(1) = desc
          case (0x0028, 0x1103) => lutDesc(2) = desc
          case (0x0028, 0x1201) => lutRaw(0) = value
          case (0x0028, 0x1202) => lutRaw(1) = value
          case (0x0028, 0x1203) => lutRaw(2) = value
          case _ => ()
        }
      }
    }
    val h = DicomHeader(ts, rows, cols, frames, instance, bits, bitsStored, samples,
      photometric, planar, pixelRep, rescaleSlope, rescaleIntercept,
      lutDesc.toIndexedSeq, lutRaw.toIndexedSeq, pixelData)
    checkDicomHeader(h, path)
    h
  }

  /** The rejects that read only header fields: a file that fails one
    * is refused before any pixel byte is read. */
  private def checkDicomHeader(h: DicomHeader, path: String): Unit = {
    import h._
    require(rows > 0 && cols > 0, s"missing DICOM dims: $path")
    require(bits == 8 || bits == 16, s"unsupported DICOM BitsAllocated $bits: $path")
    require(frames >= 1, s"bad DICOM NumberOfFrames $frames: $path")
    // signed (PixelRepresentation 1) — the real CT shape (Hounsfield
    // units are signed): two's-complement grayscale, native syntaxes
    require(pixelRep == 0 || pixelRep == 1, s"bad PixelRepresentation $pixelRep: $path")
    if (signed) {
      require(samples == 1 &&
          (photometric == "MONOCHROME2" || photometric == "MONOCHROME1"),
        s"signed pixel data supported for MONOCHROME2/MONOCHROME1 grayscale only: $path")
      require(!encapsulated,
        s"signed pixel data in transfer syntax $ts unsupported (native only): $path")
    }
    if (isRgb) {
      require(photometric == "RGB" || photometric == "YBR_FULL" || is422 ||
          (photometric == "YBR_RCT" &&
            (ts == TsJpeg2000Lossless || ts == TsJpeg2000)),
        s"SamplesPerPixel 3 with PhotometricInterpretation '$photometric' unsupported " +
          s"(RGB / YBR_FULL / YBR_FULL_422 / YBR_RCT-with-JPEG-2000 only): $path")
      require(bits == 8, s"color DICOM with BitsAllocated $bits unsupported (8 only): $path")
      require(!hasRescale, s"Rescale on color pixel data unsupported: $path")
      require(!encapsulated || ts == TsRle || ts == TsJpegBaseline ||
          ts == TsJpeg2000Lossless || ts == TsJpeg2000 || ts == TsJpegLs ||
          ts == TsJpegLsNear,
        s"color pixel data in transfer syntax $ts unsupported (native syntaxes + " +
          s"RLE Lossless + JPEG Baseline + JPEG 2000 Lossless + JPEG-LS only): $path")
      require(planar == 0 || planar == 1, s"bad PlanarConfiguration $planar: $path")
      if (is422 && ts != TsJpegBaseline) {
        // PS3.3 C.7.6.3.1.2: 422 chroma is subsampled 2:1 horizontally
        // (Y1 Y2 Cb Cr groups per ROW — odd Columns pad the last
        // group's Y2, the tolerant layout real toolkits read and the
        // one our writer emits), the layout is inherently interleaved
        // (PlanarConfiguration 0), and the RLE plane form doesn't
        // apply (real RLE color is YBR_FULL). Under JPEG Baseline
        // (.50 — where YBR_FULL_422 is what real color ultrasound/
        // endoscopy declares) the JFIF codec owns the subsampling, so
        // none of the native-layout rules apply.
        require(planar == 0, s"YBR_FULL_422 requires PlanarConfiguration 0: $path")
        require(!encapsulated,
          s"YBR_FULL_422 pixel data in transfer syntax $ts unsupported " +
            s"(native or JPEG Baseline): $path")
      }
    } else {
      require(samples == 1, s"SamplesPerPixel $samples unsupported (1 or 3): $path")
      require(photometric == "MONOCHROME2" || photometric == "MONOCHROME1" ||
          photometric == "PALETTE COLOR",
        s"PhotometricInterpretation '$photometric' unsupported for 1-sample data " +
          s"(MONOCHROME2 / MONOCHROME1 / PALETTE COLOR): $path")
      if (photometric == "MONOCHROME1") {
        val sb = if (bitsStored > 0) bitsStored else bits
        require(sb <= bits, s"BitsStored $sb exceeds BitsAllocated $bits: $path")
      }
      if (photometric == "PALETTE COLOR") {
        require(!signed && !hasRescale,
          s"PALETTE COLOR indices must be unsigned and unrescaled: $path")
        require(lutDesc.forall(_ != null) && lutRaw.forall(_ != null),
          s"PALETTE COLOR without all three LUT descriptor+data pairs: $path")
        // LUT indices are categorical: a lossy codec's ±1 index error
        // maps to an arbitrary unrelated color (PS3.5 8.2.1 prohibits
        // lossy JPEG with PALETTE COLOR) — reject, never mis-decode
        require(ts != TsJpegBaseline && ts != TsJpegExtended && ts != TsJpegLsNear &&
            ts != TsJpeg2000,
          s"PALETTE COLOR with the lossy transfer syntax $ts is non-conformant " +
            s"(PS3.5 8.2.1 — index errors become arbitrary colors): $path")
        lutDesc.zip(lutRaw).foreach { case (d, raw) =>
          val entries = if (d(0) == 0) 65536 else d(0)
          require(d(2) == 8 || d(2) == 16,
            s"palette LUT bits ${d(2)} unsupported (8/16): $path")
          require(raw.length >= entries * (d(2) / 8), s"short palette LUT data: $path")
        }
      }
    }
    if (ts == TsJpegBaseline)
      require(bits == 8, s"JPEG Baseline with BitsAllocated $bits unsupported: $path")
    if (ts == TsJpegLossless || ts == TsJpegLossless14)
      require(bits == 16, s"JPEG lossless with BitsAllocated $bits unsupported: $path")
    require(pixelData >= 0, s"missing DICOM pixel data: $path")
  }

  /** Minimal DICOM decode — unsigned MONOCHROME2 (8/16-bit) or 8-bit
    * RGB (SamplesPerPixel 3, PlanarConfiguration 0/1), single- OR
    * multi-frame (NumberOfFrames (0028,0008): native syntaxes store
    * frames contiguously in one PixelData, encapsulated syntaxes one
    * fragment per frame with the BOT marking frame starts), in any of
    * the ten supported transfer syntaxes
    * ([[TsImplicitLE]]/[[TsExplicitLE]]/[[TsExplicitBE]]/[[TsRle]]/
    * [[TsJpegLossless]]/[[TsJpegLossless14]]/[[TsJpegBaseline]]/
    * [[TsJpegExtended]]/[[TsJpegLs]]/[[TsJpeg2000Lossless]]) —
    * the shape of the reference's flagship IO case (a CT series
    * stacked into a volume, IjRDDTests.scala:30-99, where spark-scifio
    * does the decode — SCIFIO also reads multi-frame and color
    * objects, which is why both shapes live here). RGB rides the
    * native syntaxes + RLE (3 PackBits planes); the JPEG-family
    * syntaxes stay single-component and reject color loudly. Frames
    * become slices in frame order. The file-meta group (0002,xxxx) is
    * always explicit-VR little-endian per Part 10; its
    * TransferSyntaxUID then selects the element encoding, byte order,
    * and the encapsulated-fragment pixel path. Any OTHER compressed
    * syntax, signed data, or unsupported photometric interpretation
    * is rejected loudly rather than mis-decoded. Returns the image
    * plus the InstanceNumber (slice position for series stacking; 1
    * when absent). The header stage is [[dicomHeader]]; the pixel
    * stage here reads on from its PixelData offset. */
  private[graft] def decodeDicomWithInstance(path: String, bytes: Array[Byte]): (SparkImage, Int) = {
    val h = dicomHeader(path, bytes)
    import h._
    // ---- pixel stage: the PixelData element, from its length on ----
    val bb = java.nio.ByteBuffer.wrap(bytes).order(
      if (bigEndian) java.nio.ByteOrder.BIG_ENDIAN else java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.position(pixelData)
    val len = elementLength(bb, explicitVr)
    var px: Array[Byte] = null
    var encapFragments: Seq[Array[Byte]] = null
    if (len == -1) {
      // encapsulated PixelData: undefined length, fragment items
      // grouped into one payload per frame via the BOT
      require(encapsulated,
        s"undefined-length PixelData outside an encapsulated syntax in $path")
      encapFragments = readEncapsulatedFrames(bb, path,
        minLen = if (ts == TsRle) 64 else 4, frames = frames,
        allowMultiFragment = ts != TsRle)
    } else px = elementValue(bb, len, s"corrupt or undefined DICOM element length in $path")
    val n = rows * cols
    // decode ONE frame's fragment to little-endian interleaved bytes
    // (lo,hi per 16-bit sample; r,g,b per RGB pixel)
    def fragToBytes(frag: Array[Byte]): Array[Byte] = {
      if (ts == TsRle) rleDecodeFragment(frag, n, bits, samples, path)
      else if (ts == TsJpegBaseline) {
        // lossy 8-bit baseline: the JDK's JPEG codec decodes the
        // fragment (a complete JFIF stream); for color streams the
        // codec also owns the YCbCr→RGB conversion and any chroma
        // upsampling, so the output here is ALREADY interleaved RGB
        val bi = ImageIO.read(new ByteArrayInputStream(frag))
        require(bi != null, s"undecodable JPEG Baseline fragment in $path")
        require(bi.getWidth == cols && bi.getHeight == rows,
          s"JPEG frame ${bi.getWidth}x${bi.getHeight} does not match DICOM " +
            s"Rows/Columns ${cols}x$rows in $path")
        if (samples == 3) {
          // bulk getRGB: one array pass, not n color-model calls
          val packed = bi.getRGB(0, 0, cols, rows, null, 0, cols)
          val out = new Array[Byte](n * 3)
          var j = 0
          while (j < n) {
            val rgb = packed(j)
            out(3 * j) = ((rgb >> 16) & 0xff).toByte
            out(3 * j + 1) = ((rgb >> 8) & 0xff).toByte
            out(3 * j + 2) = (rgb & 0xff).toByte
            j += 1
          }
          out
        } else {
          val raster = bi.getRaster
          val out = new Array[Byte](n)
          var j = 0
          while (j < n) { out(j) = raster.getSample(j % cols, j / cols, 0).toByte; j += 1 }
          out
        }
      } else if ((ts == TsJpeg2000Lossless || ts == TsJpeg2000 || ts == TsJpegLs ||
          ts == TsJpegLsNear) && samples == 3) {
        // color J2K / JPEG-LS: the codestream carries all three
        // components (J2K also inverts its in-stream RCT when the COD
        // flags it) — emit interleaved RGB/YBR bytes like every other
        // color path here; a YBR_FULL photometric converts downstream
        val (jw, jh, prec, planes) =
          if (ts == TsJpeg2000Lossless || ts == TsJpeg2000) Jpeg2000Codec.decodeFull(frag, path)
          else JpegLsCodec.decodeFull(frag, path)
        require(jw == cols && jh == rows,
          s"compressed frame ${jw}x$jh does not match DICOM Rows/Columns ${cols}x$rows in $path")
        require(planes.length == 3,
          s"expected a 3-component color frame, got ${planes.length} in $path")
        require(prec <= 8, s"compressed color precision $prec exceeds 8 bits in $path")
        val out = new Array[Byte](n * 3)
        var j = 0
        while (j < n) {
          out(3 * j) = planes(0)(j).toByte
          out(3 * j + 1) = planes(1)(j).toByte
          out(3 * j + 2) = planes(2)(j).toByte
          j += 1
        }
        out
      } else {
        // the three native-codec syntaxes share the (w, h, precision,
        // samples) contract; JPEG lossless reports no precision
        val (jw, jh, prec, vals) =
          if (ts == TsJpegExtended) JpegDctCodec.decode(frag, path)
          else if (ts == TsJpeg2000Lossless || ts == TsJpeg2000) Jpeg2000Codec.decode(frag, path)
          else if (ts == TsJpegLs || ts == TsJpegLsNear) JpegLsCodec.decode(frag, path)
          else {
            val (w0, h0, v0) = jpegLosslessDecode(frag, path)
            (w0, h0, 16, v0)
          }
        require(jw == cols && jh == rows,
          s"compressed frame ${jw}x$jh does not match DICOM Rows/Columns ${cols}x$rows in $path")
        require(prec <= bits,
          s"compressed frame precision $prec exceeds DICOM BitsAllocated $bits in $path")
        if (bits == 16) {
          val out = new Array[Byte](n * 2)
          var j = 0
          while (j < n) {
            out(2 * j) = (vals(j) & 0xff).toByte
            out(2 * j + 1) = ((vals(j) >> 8) & 0xff).toByte
            j += 1
          }
          out
        } else {
          val out = new Array[Byte](n)
          var j = 0
          while (j < n) { out(j) = (vals(j) & 0xff).toByte; j += 1 }
          out
        }
      }
    }
    if (encapFragments != null) {
      // readEncapsulatedFrames already assembled exactly one complete
      // codec payload per frame (BOT-grouped when frames span
      // fragments). Single-allocation concat: reduce(_ ++ _) would
      // copy frame k's prefix k times — quadratic on real
      // 1000-frame objects
      px = Array.concat(encapFragments.map(fragToBytes): _*)
    }
    // native 422 packs rows of ceil(cols/2) 4-byte Y1Y2CbCr groups
    // (2 bytes/pixel for even cols; odd cols pad the last group);
    // baseline-422 frames were already expanded to interleaved RGB by
    // the JFIF decode
    val gpr422 = (cols + 1) / 2
    val frameBytes = if (is422 && encapFragments == null) rows * gpr422 * 4
                     else n * samples * (bits / 8)
    require(px.length >= frames * frameBytes, s"short DICOM pixel payload: $path")
    val log = ImageLog.append(ImageLog.empty, LogEntry("LOAD", "SPARK", path, ""))
    if (isRgb) {
      // planar configuration 1 stores each frame as component planes —
      // interleave to the SparkImage Rgb layout; encapsulated RLE
      // already interleaved in rleDecodeFragment (its segments ARE the
      // planes, whatever the declared PlanarConfiguration); 422 stores
      // per-row Y1 Y2 Cb Cr groups — upsample chroma by replication
      // across the pixel pair (PS3.3 C.7.6.3.1.2); an odd-column row's
      // last group carries a padding Y2, skipped here
      val data =
        if (is422 && encapFragments == null) {
          val out = new Array[Byte](frames * n * 3)
          var f = 0
          while (f < frames) {
            val fi = f * rows * gpr422 * 4; val fo = f * n * 3
            var r = 0
            while (r < rows) {
              val ri = fi + r * gpr422 * 4; val ro = fo + r * cols * 3
              var c = 0
              while (c < cols) {
                val g = ri + (c >> 1) * 4
                out(ro + 3 * c) = px(g + (c & 1))
                out(ro + 3 * c + 1) = px(g + 2)
                out(ro + 3 * c + 2) = px(g + 3)
                c += 1
              }
              r += 1
            }
            f += 1
          }
          out
        } else if (planar == 1 && encapFragments == null) {
          val out = new Array[Byte](frames * n * 3)
          var f = 0
          while (f < frames) {
            val fo = f * n * 3
            var j = 0
            while (j < n) {
              out(fo + 3 * j) = px(fo + j)
              out(fo + 3 * j + 1) = px(fo + n + j)
              out(fo + 3 * j + 2) = px(fo + 2 * n + j)
              j += 1
            }
            f += 1
          }
          out
        } else if (px.length == frames * n * 3) px
        else java.util.Arrays.copyOf(px, frames * n * 3)
      // YBR photometrics: data now holds interleaved Y Cb Cr — convert
      // to the SparkImage RGB layout (full-range PS3.3 C.7.6.3.1.2).
      // JPEG Baseline is exempt: its photometric describes the ENCODED
      // stream, which the JFIF codec already converted to RGB. So is
      // YBR_RCT: the J2K decoder inverted the in-stream RCT already.
      val rgb = if (photometric == "RGB" || photometric == "YBR_RCT" ||
                    ts == TsJpegBaseline) data
                else ybrToRgbInPlace(data)
      (SparkImage(ImageMeta(info = path), log, cols, rows, frames,
        PixelCodec.Rgb, rgb), instance)
    } else if (photometric == "PALETTE COLOR") {
      // LUT-expand indices to RGB (PS3.3 C.7.6.3.1.5-6): descriptor =
      // (entries [0 ⇒ 65536], first index mapped, bits per entry);
      // index values below/above the mapped range clamp to the
      // first/last entry. 16-bit entries represent the full intensity
      // range — the 8-bit RGB pipeline takes their high byte.
      val total = frames * n
      val chans: IndexedSeq[(Int, Array[Int])] = (0 to 2).map { c =>
        val d = lutDesc(c); val raw = lutRaw(c)
        val entries = if (d(0) == 0) 65536 else d(0)
        val first = d(1); val lbits = d(2)
        val arr = new Array[Int](entries)
        var i = 0
        if (lbits == 16 && bigEndian)
          while (i < entries) { arr(i) = (((raw(2 * i) & 0xff) << 8) | (raw(2 * i + 1) & 0xff)) >> 8; i += 1 }
        else if (lbits == 16)
          while (i < entries) { arr(i) = ((raw(2 * i) & 0xff) | ((raw(2 * i + 1) & 0xff) << 8)) >> 8; i += 1 }
        else
          while (i < entries) { arr(i) = raw(i) & 0xff; i += 1 }
        (first, arr)
      }
      val out = new Array[Byte](total * 3)
      var i = 0
      while (i < total) {
        val v =
          if (bits == 16 && bigEndian) ((px(2 * i) & 0xff) << 8) | (px(2 * i + 1) & 0xff)
          else if (bits == 16) (px(2 * i) & 0xff) | ((px(2 * i + 1) & 0xff) << 8)
          else px(i) & 0xff
        var c = 0
        while (c < 3) {
          val (first, arr) = chans(c)
          val idx = math.min(math.max(v - first, 0), arr.length - 1)
          out(3 * i + c) = arr(idx).toByte
          c += 1
        }
        i += 1
      }
      (SparkImage(ImageMeta(info = path), log, cols, rows, frames,
        PixelCodec.Rgb, out), instance)
    } else {
      val total = frames * n
      val doubles = new Array[Double](total)
      var i = 0
      // signed data sign-extends the stored two's-complement words
      if (bits == 16 && bigEndian)
        while (i < total) {
          val raw = ((px(2 * i) & 0xff) << 8) | (px(2 * i + 1) & 0xff)
          doubles(i) = if (signed) raw.toShort.toDouble else raw.toDouble; i += 1
        }
      else if (bits == 16)
        while (i < total) {
          val raw = (px(2 * i) & 0xff) | ((px(2 * i + 1) & 0xff) << 8)
          doubles(i) = if (signed) raw.toShort.toDouble else raw.toDouble; i += 1
        }
      else
        while (i < total) {
          doubles(i) = if (signed) px(i).toDouble else (px(i) & 0xff).toDouble; i += 1
        }
      // MONOCHROME1 (lowest value = white — the plain-film X-ray
      // convention): invert into MONOCHROME2 intensity semantics so
      // every downstream kernel sees consistent "bright = high".
      // The inversion REFLECTS across the representable stored range:
      // [0, 2^BitsStored−1] unsigned (endpoint sum 2^sb−1 — real
      // CR/DX files are BitsAllocated 16 / BitsStored 12, and
      // inverting around the allocated width would shift every pixel
      // by 61440), [−2^(sb−1), 2^(sb−1)−1] signed (endpoint sum −1,
      // independent of sb — the two's-complement NOT). Reflection
      // commutes with the affine modality LUT below, so this equals
      // inverting the RESCALED values across the rescaled range
      // endpoints — the well-defined white point signed/rescaled
      // MONOCHROME1 (inverted CT) needs.
      if (photometric == "MONOCHROME1") {
        val sb = if (bitsStored > 0) bitsStored else bits
        val endpointSum = if (signed) -1.0 else ((1 << sb) - 1).toDouble
        i = 0
        while (i < total) { doubles(i) = endpointSum - doubles(i); i += 1 }
      }
      if (signed || hasRescale) {
        // modality LUT (PS3.3 C.11.1): real value = slope·stored +
        // intercept — the Hounsfield mapping; output rides Float32
        // (signed/rescaled values leave the unsigned fixed-width range)
        val slope = rescaleSlope.getOrElse(1.0)
        val inter = rescaleIntercept.getOrElse(0.0)
        if (slope != 1.0 || inter != 0.0) {
          i = 0
          while (i < total) { doubles(i) = slope * doubles(i) + inter; i += 1 }
        }
        (SparkImage(ImageMeta(info = path), log, cols, rows, frames,
          PixelCodec.Float32, PixelCodec.encode(doubles, PixelCodec.Float32)), instance)
      } else {
        val tpe = if (bits == 16) PixelCodec.Short16 else PixelCodec.Byte8
        (SparkImage(ImageMeta(info = path), log, cols, rows, frames, tpe,
          PixelCodec.encode(doubles, tpe)), instance)
      }
    }
  }

  /** Full-range YCbCr↔RGB (PS3.3 C.7.6.3.1.2, the JFIF constants),
    * with floor(x + 0.5) rounding and a 0..255 clamp. The expression
    * SHAPE (term order, the trailing +0.5, the greatest/least clamp)
    * is what the img25 oracle replays in DuckDB SQL term for term, so
    * decoded values hash-match across engines. */
  private def clamp255(x: Double): Int = {
    val v = math.floor(x + 0.5).toInt
    if (v < 0) 0 else if (v > 255) 255 else v
  }

  /** Interleaved Y Cb Cr bytes → interleaved R G B bytes, in place. */
  private[graft] def ybrToRgbInPlace(d: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < d.length) {
      val y = d(i) & 0xff; val cb = d(i + 1) & 0xff; val cr = d(i + 2) & 0xff
      d(i) = clamp255(y + 1.402 * (cr - 128)).toByte
      d(i + 1) = clamp255(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)).toByte
      d(i + 2) = clamp255(y + 1.772 * (cb - 128)).toByte
      i += 3
    }
    d
  }

  /** Interleaved R G B bytes → a fresh interleaved Y Cb Cr array. */
  private[graft] def rgbToYbrInterleaved(d: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](d.length)
    var i = 0
    while (i < d.length) {
      val r = d(i) & 0xff; val g = d(i + 1) & 0xff; val b = d(i + 2) & 0xff
      out(i) = clamp255(0.299 * r + 0.587 * g + 0.114 * b).toByte
      out(i + 1) = clamp255(-0.168736 * r - 0.331264 * g + 0.5 * b + 128).toByte
      out(i + 2) = clamp255(0.5 * r - 0.418688 * g - 0.081312 * b + 128).toByte
      i += 3
    }
    out
  }

  /** Encode `frames` slices (default: one, starting at `slice`) as a
    * minimal conformant DICOM file in any of the ten supported
    * transfer syntaxes (the profiles [[decodeDicomWithInstance]]
    * reads): preamble + DICM, file-meta group (always explicit-VR
    * little-endian per Part 10, carrying the transfer-syntax UID),
    * then InstanceNumber / photometric geometry / pixel module /
    * PixelData in the chosen dataset encoding and byte order.
    * `frames > 1` writes a MULTI-FRAME file (NumberOfFrames
    * (0028,0008); native syntaxes store the frames contiguously,
    * encapsulated syntaxes one fragment per frame with a POPULATED
    * Basic Offset Table marking every frame start). An
    * [[graft.core.PixelCodec.Rgb]] image writes 8-bit RGB
    * (SamplesPerPixel 3, `planarConfig` 0 = interleaved / 1 = planes)
    * in the native syntaxes + RLE; grayscale values clamp through the
    * 16-bit unsigned range like every other fixed-width sink here. */
  private[graft] def encodeDicom(img: SparkImage, instance: Int = 1,
                                 slice: Int = 0,
                                 transferSyntax: String = TsExplicitLE,
                                 frames: Int = 1,
                                 planarConfig: Int = 0,
                                 photometric: String = "RGB",
                                 fragmentBytes: Int = 0,
                                 palette: Option[(Array[Int], Array[Int], Array[Int], Int)] = None,
                                 pixelRep: Int = 0,
                                 rescale: Option[(Double, Double)] = None,
                                 j2kTile: Int = 0,
                                 jlsIlv: Int = 1)
      : Array[Byte] = {
    // j2kTile > 0: JPEG 2000 frames write a j2kTile x j2kTile tile
    // grid (the region-decodable layout real encoders use for large
    // frames) with 16x16 code blocks; 64 is the codec's alignment
    // unit at that shape (cb 16 << 2 levels)
    require(j2kTile == 0 ||
        (transferSyntax == TsJpeg2000Lossless && j2kTile > 0 && j2kTile % 64 == 0),
      s"j2kTile rides JPEG 2000 Lossless in multiples of 64, got $j2kTile with $transferSyntax")
    // jlsIlv picks the JPEG-LS color scan layout: 1 = line interleaved
    // (one scan, shared contexts), 0 = one scan per component plane
    require(jlsIlv == 0 || jlsIlv == 1, s"jlsIlv must be 0 or 1, got $jlsIlv")
    require(transferSyntax == TsImplicitLE || transferSyntax == TsExplicitLE ||
        transferSyntax == TsExplicitBE || transferSyntax == TsRle ||
        transferSyntax == TsJpegLossless || transferSyntax == TsJpegLossless14 ||
        transferSyntax == TsJpegBaseline || transferSyntax == TsJpegExtended ||
        transferSyntax == TsJpegLs || transferSyntax == TsJpegLsNear ||
        transferSyntax == TsJpeg2000Lossless || transferSyntax == TsJpeg2000,
      s"unsupported DICOM transfer syntax $transferSyntax")
    val explicitVr = transferSyntax != TsImplicitLE
    val bigEndian = transferSyntax == TsExplicitBE
    val encapsulated = transferSyntax == TsRle ||
      transferSyntax == TsJpegLossless || transferSyntax == TsJpegLossless14 ||
      transferSyntax == TsJpegBaseline || transferSyntax == TsJpegExtended ||
      transferSyntax == TsJpegLs || transferSyntax == TsJpegLsNear ||
      transferSyntax == TsJpeg2000Lossless || transferSyntax == TsJpeg2000
    // Baseline is the one 8-bit (and lossy) profile; Extended (.51)
    // is the 12-bit lossy profile (BitsAllocated 16 / BitsStored 12,
    // values clamp to the 12-bit range — a documented lossy clamp
    // like Baseline's Byte8 clamp); everything else writes the
    // full 16-bit pixel module
    val bits8 = transferSyntax == TsJpegBaseline
    val bits12 = transferSyntax == TsJpegExtended
    val isRgb = img.pixelType == PixelCodec.Rgb
    require(!isRgb || transferSyntax == TsImplicitLE || transferSyntax == TsExplicitLE ||
        transferSyntax == TsExplicitBE || transferSyntax == TsRle ||
        transferSyntax == TsJpegBaseline || transferSyntax == TsJpeg2000Lossless ||
        transferSyntax == TsJpegLs || transferSyntax == TsJpegLsNear,
      s"color DICOM rides the native syntaxes + RLE Lossless + JPEG Baseline + " +
        s"JPEG 2000 Lossless + JPEG-LS, not $transferSyntax")
    require(planarConfig == 0 || planarConfig == 1, s"bad planarConfig $planarConfig")
    require(photometric == "RGB" || photometric == "YBR_FULL" ||
        photometric == "YBR_FULL_422" || photometric == "YBR_RCT" ||
        photometric == "MONOCHROME1" || photometric == "MONOCHROME2",
      s"unsupported photometric $photometric")
    // a color image with a grayscale photometric would silently write
    // YCbCr-converted bytes under a MONOCHROME header (a file our own
    // decoder rejects) — a mixed grayscale+color frame leaking its
    // MONOCHROME2 value onto an RGB row must fail loudly
    require(!isRgb || photometric == "RGB" || photometric == "YBR_FULL" ||
        photometric == "YBR_FULL_422" || photometric == "YBR_RCT",
      s"color images take a color photometric, not $photometric")
    // YBR_RCT is defined by the reversible color transform INSIDE the
    // JPEG 2000 codestream (PS3.3 C.7.6.3.1.2) — it exists only with
    // .90, and .90 color carries either the RCT (YBR_RCT) or raw RGB
    // components; the interleaved-byte YBR photometrics don't apply
    if (photometric == "YBR_RCT")
      require(transferSyntax == TsJpeg2000Lossless,
        s"YBR_RCT is a JPEG 2000 photometric, not valid with $transferSyntax")
    if (isRgb && transferSyntax == TsJpeg2000Lossless) {
      require(photometric == "YBR_RCT" || photometric == "RGB",
        s"JPEG 2000 Lossless color takes YBR_RCT (RCT in-stream) or RGB, not $photometric")
      require(planarConfig == 0,
        "encapsulated color pixel data is PlanarConfiguration 0 (PS3.5 8.2)")
    }
    if (isRgb && (transferSyntax == TsJpegLs || transferSyntax == TsJpegLsNear)) {
      // JPEG-LS has no in-stream color transform: components carry RGB
      // or pre-converted full-rate YBR_FULL bytes (the .81 NEAR bound
      // then holds per YCbCr component); 422's subsampled pixel-pair
      // layout has no component-plane form to compress
      require(photometric == "RGB" || photometric == "YBR_FULL",
        s"JPEG-LS color takes RGB or YBR_FULL (full-rate components), not $photometric")
      require(planarConfig == 0,
        "encapsulated color pixel data is PlanarConfiguration 0 (PS3.5 8.2)")
    }
    // JPEG Baseline color: the JFIF codec owns the YCbCr conversion
    // and subsampling, so the native 422 layout rules don't apply and
    // the tag is forced to what the stream actually is (YBR_FULL_422)
    val baselineColor = isRgb && transferSyntax == TsJpegBaseline
    val is422 = isRgb && photometric == "YBR_FULL_422" && !baselineColor
    if (is422) {
      require(transferSyntax != TsRle,
        "YBR_FULL_422 writes native syntaxes only (RLE color is YBR_FULL/RGB)")
      require(planarConfig == 0, "YBR_FULL_422 is inherently interleaved (planar 0)")
    }
    // signed (PixelRepresentation 1) and modality-rescaled data: the
    // real CT shape; grayscale, native syntaxes (signed), no palette.
    // MONOCHROME1 composes with both (inverted CT): the writer
    // reflects stored values across the representable range — the
    // exact inverse of the decode-side reflection
    require(pixelRep == 0 || pixelRep == 1, s"bad pixelRep $pixelRep")
    val mono1 = !isRgb && palette.isEmpty && photometric == "MONOCHROME1"
    if (pixelRep == 1) {
      require(!isRgb && palette.isEmpty,
        "signed pixel data is plain-grayscale only")
      require(!encapsulated, "signed pixel data writes native syntaxes only")
    }
    if (rescale.nonEmpty) {
      require(!isRgb && palette.isEmpty,
        "Rescale applies to plain grayscale only")
      require(rescale.get._1 != 0.0, "RescaleSlope must be nonzero")
    }
    val lossySyntax = bits8 || bits12 || transferSyntax == TsJpegLsNear ||
      transferSyntax == TsJpeg2000
    if (mono1)
      require(!lossySyntax, "MONOCHROME1 writes the lossless syntaxes only")
    require(rescale.isEmpty || !lossySyntax,
      "Rescale writes the lossless syntaxes only")
    val w = img.width; val h = img.height
    require(frames >= 1 && slice + frames <= img.slices,
      s"frames [$slice, ${slice + frames}) out of range for ${img.slices} slices")
    val px = if (isRgb) null else img.toDoubles
    val off = slice * w * h
    val bos = new ByteArrayOutputStream()
    // file-meta writers: always little-endian explicit VR (Part 10)
    def u16le(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    def metaElem(group: Int, el: Int, vr: String, value: Array[Byte]): Unit = {
      require(value.length % 2 == 0, "DICOM values must have even length")
      u16le(group); u16le(el); bos.write(vr(0)); bos.write(vr(1)); u16le(value.length)
      bos.write(value)
    }
    // dataset writers: byte order + element encoding per transfer syntax
    def u16x(v: Int): Unit =
      if (bigEndian) { bos.write((v >> 8) & 0xff); bos.write(v & 0xff) }
      else u16le(v)
    def u32x(v: Int): Unit =
      if (bigEndian) { u16x((v >>> 16) & 0xffff); u16x(v & 0xffff) }
      else { u16x(v & 0xffff); u16x((v >>> 16) & 0xffff) }
    def elem(group: Int, el: Int, vr: String, value: Array[Byte]): Unit = {
      require(value.length % 2 == 0, "DICOM values must have even length")
      u16x(group); u16x(el)
      if (explicitVr) { bos.write(vr(0)); bos.write(vr(1)); u16x(value.length) }
      else u32x(value.length)
      bos.write(value)
    }
    def us(group: Int, el: Int, v: Int): Unit =
      elem(group, el, "US",
        if (bigEndian) Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
        else Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte))
    def str(group: Int, el: Int, vr: String, s0: String, pad: Char): Unit =
      elem(group, el, vr,
        (if (s0.length % 2 == 0) s0 else s0 + pad).getBytes("US-ASCII"))
    bos.write(new Array[Byte](128))
    "DICM".foreach(c => bos.write(c))
    // (0002,0000) group length = the one element that follows: 8-byte
    // header + NUL-padded UID
    val tsPadded = if (transferSyntax.length % 2 == 0) transferSyntax
                   else transferSyntax + "\u0000" // UIDs pad with NUL
    val metaLen = 8 + tsPadded.length
    metaElem(0x0002, 0x0000, "UL", Array[Byte](
      (metaLen & 0xff).toByte, ((metaLen >> 8) & 0xff).toByte, 0, 0))
    metaElem(0x0002, 0x0010, "UI", tsPadded.getBytes("US-ASCII"))
    str(0x0020, 0x0013, "IS", instance.toString, ' ')
    us(0x0028, 0x0002, if (isRgb) 3 else 1)
    require(palette.isEmpty || !isRgb,
      "palette applies to single-sample index images, not RGB data")
    require(palette.isEmpty || (transferSyntax != TsJpegBaseline &&
        transferSyntax != TsJpegExtended && transferSyntax != TsJpegLsNear &&
        transferSyntax != TsJpeg2000),
      s"PALETTE COLOR may not ride the lossy syntax $transferSyntax " +
        "(PS3.5 8.2.1 — LUT indices are categorical)")
    str(0x0028, 0x0004, "CS",
      if (baselineColor) "YBR_FULL_422" // what a JFIF color stream IS
      else if (isRgb) photometric
      else if (palette.nonEmpty) "PALETTE COLOR"
      else if (mono1) "MONOCHROME1"
      else "MONOCHROME2", ' ')
    // PS3.5 (CP-1692): PlanarConfiguration shall be 0 for encapsulated
    // pixel data — the RLE segments are inherently planar regardless,
    // so a planar=1 REQUEST on the RLE syntax clamps to a conformant 0
    // tag (byte layout unaffected)
    if (isRgb) us(0x0028, 0x0006, if (encapsulated) 0 else planarConfig)
    if (frames > 1) str(0x0028, 0x0008, "IS", frames.toString, ' ')
    us(0x0028, 0x0010, h)
    us(0x0028, 0x0011, w)
    if (isRgb || bits8) { us(0x0028, 0x0100, 8); us(0x0028, 0x0101, 8); us(0x0028, 0x0102, 7) }
    else if (bits12) { us(0x0028, 0x0100, 16); us(0x0028, 0x0101, 12); us(0x0028, 0x0102, 11) }
    else { us(0x0028, 0x0100, 16); us(0x0028, 0x0101, 16); us(0x0028, 0x0102, 15) }
    us(0x0028, 0x0103, pixelRep)
    // modality LUT (0028,1052/1053, DS): real value = slope·stored +
    // intercept; plain toString round-trips through the decoder's
    // toDouble
    rescale.foreach { case (slope, inter) =>
      str(0x0028, 0x1052, "DS", inter.toString, ' ')
      str(0x0028, 0x1053, "DS", slope.toString, ' ')
    }
    // PALETTE COLOR LUTs (0028,1101-1103 descriptors as three US
    // values; 0028,1201-1203 data as OW words in the dataset byte
    // order — a long-form VR, unlike the short-form elements above).
    // Pixel data itself stays the untouched index stream, so palette
    // rides every grayscale-capable transfer syntax.
    palette.foreach { case (lr, lg, lb, first) =>
      def u16bytes(vals: Seq[Int]): Array[Byte] = {
        val out = new Array[Byte](vals.length * 2)
        vals.zipWithIndex.foreach { case (v, i) =>
          if (bigEndian) { out(2 * i) = ((v >> 8) & 0xff).toByte; out(2 * i + 1) = (v & 0xff).toByte }
          else { out(2 * i) = (v & 0xff).toByte; out(2 * i + 1) = ((v >> 8) & 0xff).toByte }
        }
        out
      }
      def elemOW(group: Int, el: Int, value: Array[Byte]): Unit = {
        u16x(group); u16x(el)
        if (explicitVr) { bos.write('O'); bos.write('W'); u16x(0); u32x(value.length) }
        else u32x(value.length)
        bos.write(value)
      }
      val luts = Seq(lr, lg, lb)
      luts.foreach(l => require(l.nonEmpty && l.length <= 65536 &&
        l.forall(v => v >= 0 && v <= 65535), "palette LUT: 1..65536 16-bit entries"))
      luts.zipWithIndex.foreach { case (lut, c) =>
        elem(0x0028, 0x1101 + c, "US",
          u16bytes(Seq(if (lut.length == 65536) 0 else lut.length, first, 16)))
      }
      luts.zipWithIndex.foreach { case (lut, c) =>
        elemOW(0x0028, 0x1201 + c, u16bytes(lut.toSeq))
      }
    }
    val n = w * h
    // grayscale stored value: undo the modality LUT (stored =
    // (real − intercept) / slope, rounded), then either the signed
    // two's-complement clamp or the unsigned clamp with the
    // MONOCHROME1 inversion — the exact inverse of the decode path
    def storedVal(v0: Double): Int = {
      val real = rescale match {
        case Some((s, b)) => (v0 - b) / s
        case None => v0
      }
      if (pixelRep == 1) {
        // MONOCHROME1: reflect across the signed range (endpoint sum
        // −1) BEFORE the clamp — the decode inversion's exact inverse
        val iv = if (mono1) -1.0 - math.rint(real) else math.rint(real)
        val r = math.max(-32768.0, math.min(32767.0, iv)).toInt
        r & 0xffff
      } else {
        val c = PixelCodec.clamp(real, PixelCodec.Short16).toInt
        if (mono1) 65535 - c else c
      }
    }
    // component frame accessors over interleaved color bytes — the
    // YBR photometrics convert ONLY the encoded [slice, slice+frames)
    // window to full-range YCbCr (a per-slice series loop over a big
    // stack would otherwise pay a full-stack conversion per file),
    // then ride the same plane/interleave/RLE writers. cOff maps a
    // frame index to its position in cdata.
    // YBR_RCT is excluded: its color transform lives INSIDE the JPEG
    // 2000 codestream, so the codec takes raw RGB planes
    val ybrConvert = isRgb && photometric != "RGB" && photometric != "YBR_RCT" &&
      !baselineColor
    val cdata =
      if (ybrConvert) rgbToYbrInterleaved(java.util.Arrays.copyOfRange(
        img.data, slice * n * 3, (slice + frames) * n * 3))
      else img.data
    val cOff = if (ybrConvert) 0 else slice
    def rgbPlane(f: Int, c: Int): Array[Byte] =
      Array.tabulate(n)(i => cdata(((cOff + f) * n + i) * 3 + c))
    def rgbPlaneInts(f: Int, c: Int): Array[Int] =
      Array.tabulate(n)(i => cdata(((cOff + f) * n + i) * 3 + c) & 0xff)
    def rgbInterleaved(f: Int): Array[Byte] =
      java.util.Arrays.copyOfRange(cdata, (cOff + f) * n * 3, (cOff + f + 1) * n * 3)
    // 422: per-ROW Y1 Y2 Cb Cr groups, chroma from the pair's first
    // pixel (a legal encoder choice; lossless wherever the pair shares
    // chroma — which a decode-side replication round-trips exactly).
    // Odd Columns: the row's last group holds one real pixel — its Y2
    // replicates Y1 as padding (what tolerant decoders, ours included,
    // skip on read), so odd-width frames round-trip exactly too.
    def ybr422Frame(f: Int): Array[Byte] = {
      val gpr = (w + 1) / 2
      val out = new Array[Byte](h * gpr * 4)
      var r = 0
      while (r < h) {
        val ri = r * gpr * 4
        var gi = 0
        while (gi < gpr) {
          val c1 = 2 * gi
          val base = ((cOff + f) * n + r * w + c1) * 3
          val y2 = if (c1 + 1 < w) cdata(base + 3) else cdata(base)
          out(ri + 4 * gi) = cdata(base)
          out(ri + 4 * gi + 1) = y2
          out(ri + 4 * gi + 2) = cdata(base + 1)
          out(ri + 4 * gi + 3) = cdata(base + 2)
          gi += 1
        }
        r += 1
      }
      out
    }
    if (encapsulated) {
      // RLE / JPEG family: OB PixelData with UNDEFINED length, Basic
      // Offset Table item (empty for one frame; POPULATED with every
      // frame's item offset for multi-frame), one even-padded fragment
      // item per frame, sequence delimiter.
      // The 16-bit clamp pass is only needed by the lossless encoders;
      // the Baseline path re-reads px itself with a Byte8 clamp
      def vals(f: Int): Array[Int] = Array.tabulate(n)(i =>
        storedVal(px((slice + f) * n + i)))
      def framePayload(f: Int): Array[Byte] =
        if (baselineColor) jpegBaselineEncodeColor(img, slice + f)
        else if (isRgb && transferSyntax == TsJpeg2000Lossless) {
          val rct = photometric == "YBR_RCT"
          if (j2kTile > 0)
            Jpeg2000Codec.encodeRgb(rgbPlaneInts(f, 0), rgbPlaneInts(f, 1),
              rgbPlaneInts(f, 2), w, h, 8, 2, 4, 4, j2kTile, j2kTile, rct)
          else Jpeg2000Codec.encodeRgb(rgbPlaneInts(f, 0), rgbPlaneInts(f, 1),
            rgbPlaneInts(f, 2), w, h, 8, rct = rct)
        }
        else if (isRgb && (transferSyntax == TsJpegLs || transferSyntax == TsJpegLsNear))
          JpegLsCodec.encodeMulti(
            Array(rgbPlaneInts(f, 0), rgbPlaneInts(f, 1), rgbPlaneInts(f, 2)),
            w, h, 8, near = if (transferSyntax == TsJpegLsNear) 2 else 0,
            ilv = jlsIlv)
        else if (isRgb) rleEncodePlanes(Seq(rgbPlane(f, 0), rgbPlane(f, 1), rgbPlane(f, 2)))
        else if (transferSyntax == TsRle) rleEncodeFragment(vals(f))
        else if (bits8) jpegBaselineEncode(img, px, slice + f)
        else if (bits12) JpegDctCodec.encode(
          Array.tabulate(n) { i =>
            val v = PixelCodec.clamp(px((slice + f) * n + i), PixelCodec.Short16).toInt
            math.min(v, 4095) // 12-bit profile: documented lossy clamp
          }, w, h, 12)
        else if (transferSyntax == TsJpegLs) JpegLsCodec.encode(vals(f), w, h, 16)
        else if (transferSyntax == TsJpegLsNear) JpegLsCodec.encode(vals(f), w, h, 16, near = 2)
        else if (transferSyntax == TsJpeg2000Lossless) {
          if (j2kTile > 0) Jpeg2000Codec.encode(vals(f), w, h, 16, 2, 4, 4, j2kTile, j2kTile)
          else Jpeg2000Codec.encode(vals(f), w, h, 16)
        }
        else if (transferSyntax == TsJpeg2000)
          Jpeg2000Codec.encode97(vals(f), w, h, 16, J2kLossyStep)
        else jpegLosslessEncode(vals(f), w, h)
      def evenPad(a: Array[Byte]): Array[Byte] =
        if (a.length % 2 == 0) a else a :+ 0.toByte
      // fragmentBytes > 0 splits each frame's codec stream into even
      // ≤fragmentBytes fragments (what real encoders do to big frames;
      // only a frame's LAST fragment may carry the odd-length pad, so
      // the reassembled stream is the single-fragment stream). RLE
      // frames may not span fragments (PS3.5 Annex G).
      if (fragmentBytes > 0) {
        require(fragmentBytes % 2 == 0, s"fragmentBytes must be even: $fragmentBytes")
        require(transferSyntax != TsRle,
          "RLE Lossless stores each frame in exactly one fragment (PS3.5 Annex G)")
      }
      val frameFrags: Seq[Seq[Array[Byte]]] = (0 until frames).map { f =>
        val whole = framePayload(f)
        if (fragmentBytes <= 0 || whole.length <= fragmentBytes) Seq(evenPad(whole))
        else {
          val chunks = whole.grouped(fragmentBytes).toSeq
          chunks.init :+ evenPad(chunks.last)
        }
      }
      u16x(0x7fe0); u16x(0x0010); bos.write('O'); bos.write('B'); u16x(0); u32x(-1)
      if (frames > 1) {
        // populated BOT: offset of each FRAME's first fragment item
        // tag from the first byte after the BOT value (encapsulated
        // data is always little-endian, so u32x writes LE here)
        u16x(0xfffe); u16x(0xe000); u32x(4 * frames)
        var o = 0
        frameFrags.foreach { ffs =>
          u32x(o)
          ffs.foreach(fr => o += 8 + fr.length)
        }
      } else { u16x(0xfffe); u16x(0xe000); u32x(0) }
      frameFrags.foreach(_.foreach { fr =>
        u16x(0xfffe); u16x(0xe000); u32x(fr.length); bos.write(fr)
      })
      u16x(0xfffe); u16x(0xe0dd); u32x(0)
    } else if (isRgb) {
      // native color: OB byte stream (8-bit samples, no word swap even
      // in the big-endian syntax) — interleaved or planar per frame;
      // 422 packs the chroma-subsampled pixel-pair groups
      val data = Array.concat((0 until frames).flatMap { f =>
        if (is422) Seq(ybr422Frame(f))
        else if (planarConfig == 1) Seq(rgbPlane(f, 0), rgbPlane(f, 1), rgbPlane(f, 2))
        else Seq(rgbInterleaved(f))
      }: _*)
      val padded = if (data.length % 2 == 0) data else data :+ 0.toByte
      u16x(0x7fe0); u16x(0x0010)
      if (explicitVr) { bos.write('O'); bos.write('B'); u16x(0); u32x(padded.length) }
      else u32x(padded.length)
      bos.write(padded)
    } else {
      u16x(0x7fe0); u16x(0x0010)
      if (explicitVr) { bos.write('O'); bos.write('W'); u16x(0); u32x(frames * n * 2) }
      else u32x(frames * n * 2)
      var i = 0
      while (i < frames * n) { u16x(storedVal(px(off + i))); i += 1 }
    }
    bos.toByteArray
  }

  /** One decoded page → (pixelType, slice bytes). Color inputs become
    * 24bit-rgb, grayscale becomes 8bit/16bit by sample depth. */
  private def pageToSlice(bi: BufferedImage): (String, Array[Byte]) = {
    val w = bi.getWidth; val h = bi.getHeight
    bi.getType match {
      case BufferedImage.TYPE_BYTE_GRAY =>
        val px = new Array[Double](w * h)
        val raster = bi.getRaster
        var i = 0
        while (i < w * h) { px(i) = raster.getSample(i % w, i / w, 0); i += 1 }
        (PixelCodec.Byte8, PixelCodec.encode(px, PixelCodec.Byte8))
      case BufferedImage.TYPE_USHORT_GRAY =>
        val px = new Array[Double](w * h)
        val raster = bi.getRaster
        var i = 0
        while (i < w * h) { px(i) = raster.getSample(i % w, i / w, 0); i += 1 }
        (PixelCodec.Short16, PixelCodec.encode(px, PixelCodec.Short16))
      case _ => // anything color-ish: pack 3 bytes/px
        val data = new Array[Byte](w * h * 3)
        var i = 0
        while (i < w * h) {
          val rgb = bi.getRGB(i % w, i / w)
          data(i * 3) = ((rgb >> 16) & 0xff).toByte
          data(i * 3 + 1) = ((rgb >> 8) & 0xff).toByte
          data(i * 3 + 2) = (rgb & 0xff).toByte
          i += 1
        }
        (PixelCodec.Rgb, data)
    }
  }

  /** Decode encoded file bytes into a SparkImage. Multi-page TIFF
    * decodes to a stack (pages become slices, in page order); every
    * other format is single-slice. */
  def decode(path: String, bytes: Array[Byte]): SparkImage = {
    val log = ImageLog.append(ImageLog.empty, LogEntry("LOAD", "SPARK", path, ""))
    if (isDicom(bytes)) decodeDicomWithInstance(path, bytes)._1
    else if (isTiff(bytes)) {
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
      try {
        val readers = ImageIO.getImageReaders(iis)
        require(readers.hasNext, s"no TIFF reader for: $path")
        val reader = readers.next()
        reader.setInput(iis)
        try {
          val n = reader.getNumImages(true)
          require(n > 0, s"empty TIFF: $path")
          val first = reader.read(0)
          val w = first.getWidth; val h = first.getHeight
          val pages = (0 until n).map(i => pageToSlice(if (i == 0) first else reader.read(i)))
          val tpe = pages.head._1
          require(pages.forall(_._1 == tpe),
            s"mixed pixel types across TIFF pages: $path")
          require(pages.forall(_._2.length == pages.head._2.length),
            s"mixed page dimensions in TIFF: $path")
          SparkImage(ImageMeta(info = path), log, w, h, n, tpe,
            pages.map(_._2).reduce(_ ++ _))
        } finally reader.dispose()
      } finally iis.close()
    } else {
      val bi = ImageIO.read(new ByteArrayInputStream(bytes))
      require(bi != null, s"undecodable image: $path")
      val (tpe, data) = pageToSlice(bi)
      SparkImage(ImageMeta(info = path), log, bi.getWidth, bi.getHeight, 1, tpe, data)
    }
  }

  /** One slice → BufferedImage. Short16 keeps 16-bit gray (PNG and
    * TIFF both hold it losslessly); RGB keeps 24-bit color; everything
    * else clamps to 8-bit gray — a documented lossy save, since these
    * interchange formats have no float sample type. */
  private def sliceToPage(img: SparkImage, px: Array[Double], slice: Int): BufferedImage = {
    val w = img.width; val h = img.height
    val off = slice * w * h
    img.pixelType match {
      case PixelCodec.Rgb =>
        val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        val d = img.data
        val boff = slice * w * h * 3
        var i = 0
        while (i < w * h) {
          val r = d(boff + i * 3) & 0xff; val g = d(boff + i * 3 + 1) & 0xff
          val b = d(boff + i * 3 + 2) & 0xff
          out.setRGB(i % w, i / w, (r << 16) | (g << 8) | b)
          i += 1
        }
        out
      case PixelCodec.Short16 =>
        val out = new BufferedImage(w, h, BufferedImage.TYPE_USHORT_GRAY)
        val raster = out.getRaster
        var i = 0
        while (i < w * h) {
          raster.setSample(i % w, i / w, 0,
            PixelCodec.clamp(px(off + i), PixelCodec.Short16).toInt)
          i += 1
        }
        out
      case _ =>
        val out = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
        val raster = out.getRaster
        var i = 0
        while (i < w * h) {
          raster.setSample(i % w, i / w, 0,
            PixelCodec.clamp(px(off + i), PixelCodec.Byte8).toInt)
          i += 1
        }
        out
    }
  }

  /** Encode to file bytes. "tiff"/"tif" writes ALL slices as a
    * multi-page TIFF (one page per slice, slice order = page order);
    * "png" | "bmp" | "gif" write slice 0 only (single-image
    * containers). */
  def encode(img: SparkImage, format: String = "png"): Array[Byte] = {
    val fmt = format.toLowerCase
    if (fmt == "tiff" || fmt == "tif") return encodeTiff(img)
    if (fmt == "dcm" || fmt == "dicom") return encodeDicom(img)
    val bos = new ByteArrayOutputStream()
    ImageIO.write(sliceToPage(img, img.toDoubles, 0), format, bos)
    bos.toByteArray
  }

  private def encodeTiff(img: SparkImage): Array[Byte] = {
    val writers = ImageIO.getImageWritersByFormatName("tiff")
    require(writers.hasNext, "no TIFF writer registered (JDK 9+ ships one)")
    val writer = writers.next()
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      val px = img.toDoubles
      var s = 0
      while (s < img.slices) {
        writer.writeToSequence(new IIOImage(sliceToPage(img, px, s), null, null), null)
        s += 1
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }
}
