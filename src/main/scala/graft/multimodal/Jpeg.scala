package graft.multimodal

/** Pure-JVM baseline JPEG (JFIF) codec — the decode seam's second
  * COMPRESSED format, pairing with [[Png]]. Everything is implemented
  * here from the public interchange format: the segment grammar
  * (SOI/APP0/DQT/SOF0/DHT/SOS/EOI), canonical Huffman table construction
  * from DHT counts, the entropy-coded scan with byte-stuffing (FF 00),
  * DC prediction with size-category + sign-extension coding, run/size AC
  * coding with EOB and ZRL, zigzag order, dequantization, and the full
  * 2-D inverse DCT with level shift and clamping.
  *
  * Strict scope, like the other decoders: baseline sequential (SOF0),
  * 8-bit, single-component grayscale, no restart intervals. Progressive
  * (SOF2), arithmetic coding, multi-component scans, and DRI all throw
  * loudly by name rather than decoding garbage.
  *
  * JPEG is lossy, so unlike PNG the driver oracle cannot re-derive
  * arbitrary pixels. The fixture encoder therefore emits DC-ONLY blocks
  * whose dequantized DC is `(b - 128) * 8` for payload byte `b`: the IDCT
  * of a DC-only block is EXACTLY flat at `F(0,0)/8 + 128 = b` (no
  * rounding error for any b), so every decoded pixel is an exact integer
  * the oracle recomputes from the source text — while the decoder still
  * runs the entire real pipeline (Huffman, prediction, dequant, IDCT) to
  * get there. AC-bearing streams are exercised by the spec against an
  * independent reference IDCT. */
object Jpeg {

  final case class JpegInfo(
      width: Int, height: Int, nPixels: Long,
      sumPx: Long, sumSq: Long, maxPx: Int, minPx: Int,
      topLeftHex: String)

  /** Color decode result: exact per-channel integer statistics after the
    * fixed-point YCbCr→RGB conversion. `topLeftHex` is the first pixel as
    * RRGGBB. `nPixels` counts pixels (not channel samples). */
  final case class JpegColorInfo(
      width: Int, height: Int, nPixels: Long,
      sumR: Long, sumG: Long, sumB: Long, maxPx: Int,
      topLeftHex: String)

  // ---- fixture Huffman tables (carried in DHT; the decoder builds its
  // tables generically from whatever DHT declares) --------------------

  /** DC table: all 12 size categories as 4-bit canonical codes. */
  private val DcBits = Array(0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val DcVals = (0 to 11).map(_.toByte).toArray

  /** AC table: EOB, ZRL, (run 0, size 1..10), and (run 1..15, size 1..3)
    * — 57 canonical 6-bit codes. Enough for EOB-only fixture blocks and
    * for the spec's AC-bearing streams with arbitrary short runs. */
  private val AcBits = Array(0, 0, 0, 0, 0, 57, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val AcVals = (Array(0x00, 0xF0) ++ (1 to 10).map(s => 0x00 | s) ++
    (1 to 15).flatMap(r => Seq((r << 4) | 1, (r << 4) | 2, (r << 4) | 3)))
    .map(_.toByte)

  /** Chroma tables (DHT ids 1): same symbol sets as the luma tables but at
    * DIFFERENT code lengths (5-bit DC, 7-bit AC), so a decoder that picks
    * the wrong table for a component desynchronizes immediately instead of
    * decoding plausible garbage — per-component table selection is load-
    * bearing, not decorative. */
  private val DcBitsC = Array(0, 0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val AcBitsC = Array(0, 0, 0, 0, 0, 0, 57, 0, 0, 0, 0, 0, 0, 0, 0, 0)

  /** PROGRESSIVE AC table: the baseline symbol set PLUS the EOBn symbols
    * ((r<<4)|0 for r=1..14) progressive scans need to code end-of-band
    * RUNS across blocks — 71 canonical 7-bit codes. */
  private val AcValsP = (Array(0x00, 0xF0) ++ (1 to 14).map(r => r << 4) ++
    (1 to 10).map(s => s) ++
    (1 to 15).flatMap(r => Seq((r << 4) | 1, (r << 4) | 2, (r << 4) | 3)))
    .map(_.toByte)
  private val AcBitsP = Array(0, 0, 0, 0, 0, 0, 71, 0, 0, 0, 0, 0, 0, 0, 0, 0)

  /** Chroma progressive AC table: same symbols at 8-bit lengths — the
    * table-mis-selection tripwire, as in the baseline pair. */
  private val AcBitsPC = Array(0, 0, 0, 0, 0, 0, 0, 71, 0, 0, 0, 0, 0, 0, 0, 0)

  /** Zigzag scan order: zigzag index -> raster index (row*8 + col). */
  private[graft] val Zigzag: Array[Int] = {
    val out = new Array[Int](64)
    var r = 0; var c = 0
    var i = 0
    while (i < 64) {
      out(i) = r * 8 + c
      if ((r + c) % 2 == 0) { // moving up-right
        if (c == 7) r += 1 else if (r == 0) c += 1 else { r -= 1; c += 1 }
      } else { // moving down-left
        if (r == 7) c += 1 else if (c == 0) r += 1 else { r += 1; c -= 1 }
      }
      i += 1
    }
    out
  }

  /** Fixture quantization table in ZIGZAG order: q(DC)=8 makes the flat
    * fixture exact; the AC entries are small primes so spec streams hit
    * non-trivial dequantization. */
  private val QuantZig: Array[Int] = Array.tabulate(64)(i => if (i == 0) 8 else 5)

  /** Chroma quantization table (DQT id 1): q(DC)=8 keeps flat chroma
    * blocks exact (dequantized DC divisible by 8 → IDCT is an exact
    * integer), distinct AC step so per-component dequant is observable. */
  private val QuantZigC: Array[Int] = Array.tabulate(64)(i => if (i == 0) 8 else 7)

  // ------------------------------------------------------------ encoder

  /** Entropy bit sink. Bits accumulate in an Int (≤ 8 pending + ≤ 16 per
    * write stays inside 31 bits) and flush whole bytes into a raw growing
    * array — the previous bit-at-a-time loop into a (synchronized)
    * ByteArrayOutputStream dominated every fixture-encode profile. The
    * emitted byte stream (stuffing, 1-padding, markers) is bit-identical. */
  private final class BitWriter {
    private var buf = new Array[Byte](1 << 12)
    private var n = 0
    private var acc = 0
    private var nBits = 0
    private def ensure(k: Int): Unit =
      if (n + k > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length << 1, n + k))
    def write(code: Int, len: Int): Unit = {
      if (len > 0) {
        acc = (acc << len) | (code & ((1 << len) - 1))
        nBits += len
        while (nBits >= 8) {
          nBits -= 8
          val b = (acc >>> nBits) & 0xff
          ensure(2)
          buf(n) = b.toByte; n += 1
          if (b == 0xff) { buf(n) = 0; n += 1 } // byte stuffing
        }
        acc &= (1 << nBits) - 1
      }
    }
    /** Pad the current partial byte with 1-bits (spec convention). */
    def align(): Unit =
      if (nBits > 0) write((1 << (8 - nBits)) - 1, 8 - nBits)
    /** Byte-align and emit a raw (unstuffed) marker — used for RSTn. */
    def marker(m: Int): Unit = {
      align()
      ensure(2)
      buf(n) = 0xff.toByte; buf(n + 1) = m.toByte; n += 2
    }
    def finish(): Array[Byte] = {
      align()
      java.util.Arrays.copyOf(buf, n)
    }
  }

  /** Flat canonical Huffman table: symbol → (code, length) as two
    * 256-entry arrays (length 0 = symbol absent) — the per-symbol hot
    * path is two array reads instead of a boxed Map lookup + tuple. */
  private final class CodeTab(val codes: Array[Int], val lens: Array[Int]) {
    @inline def emit(bw: BitWriter, sym: Int): Unit =
      bw.write(codes(sym), lens(sym))
    @inline def has(sym: Int): Boolean = lens(sym) != 0
  }

  /** Canonical code assignment from (counts-per-length, values). */
  private def canonical(bits: Array[Int], vals: Array[Byte]): CodeTab = {
    val codes = new Array[Int](256)
    val lens = new Array[Int](256)
    var code = 0
    var vi = 0
    var len = 1
    while (len <= 16) {
      var i = 0
      while (i < bits(len - 1)) {
        codes(vals(vi) & 0xff) = code
        lens(vals(vi) & 0xff) = len
        code += 1; vi += 1; i += 1
      }
      code <<= 1
      len += 1
    }
    new CodeTab(codes, lens)
  }

  private def category(v: Int): Int = {
    var s = 0; var a = math.abs(v)
    while (a > 0) { s += 1; a >>= 1 }
    s
  }

  private def seg(marker: Int, payload: Array[Byte]): Array[Byte] =
    Array(0xff.toByte, marker.toByte,
      ((payload.length + 2) >>> 8).toByte, ((payload.length + 2) & 0xff).toByte) ++
      payload

  /** Entropy-code one block (64 zigzag-order quantized coefficients):
    * DC size category + sign-extended difference bits, then run/size AC
    * symbols with ZRL for 16-zero runs and a closing EOB. Returns the new
    * DC predictor for this block's component. */
  private def writeBlock(bw: BitWriter, b: Array[Int], prevDc: Int,
                         dcCodes: CodeTab, acCodes: CodeTab): Int = {
    require(b.length == 64, "each block carries 64 zigzag coefficients")
    val diff = b(0) - prevDc
    val s = category(diff)
    dcCodes.emit(bw, s)
    if (s > 0) bw.write(if (diff < 0) diff + (1 << s) - 1 else diff, s)
    var k = 1
    var run = 0
    while (k < 64) {
      val v = b(k)
      if (v == 0) run += 1
      else {
        while (run >= 16) { acCodes.emit(bw, 0xF0); run -= 16 }
        val sz = category(v)
        val sym = (run << 4) | sz
        if (!acCodes.has(sym))
          throw new IllegalArgumentException(
            f"fixture AC table lacks symbol 0x$sym%02X")
        acCodes.emit(bw, sym)
        bw.write(if (v < 0) v + (1 << sz) - 1 else v, sz)
        run = 0
      }
      k += 1
    }
    if (run > 0) acCodes.emit(bw, 0x00) // EOB
    b(0)
  }

  private def dht(cls: Int, id: Int, bits: Array[Int], vals: Array[Byte]) =
    Array(((cls << 4) | id).toByte) ++ bits.map(_.toByte) ++ vals

  private def driSeg(restartEvery: Int): Array[Byte] =
    if (restartEvery <= 0) Array.emptyByteArray
    else seg(0xdd,
      Array((restartEvery >>> 8).toByte, (restartEvery & 0xff).toByte))

  /** General fixture encoder: one grayscale 8×8 block per entry of
    * `blocks`, each a 64-entry array of quantized coefficients in ZIGZAG
    * order, laid out `blocksPerRow` MCUs wide (the block count must be a
    * whole number of rows). Emits a complete baseline JFIF stream.
    * `restartEvery` > 0 adds a DRI segment and an RSTn marker (cycling
    * 0..7) after every that-many MCUs, resetting the DC predictor. */
  private[graft] def encodeBlocks(blocks: Array[Array[Int]],
                                  blocksPerRow: Int,
                                  restartEvery: Int = 0): Array[Byte] = {
    require(blocks.nonEmpty, "need at least one block")
    require(blocksPerRow > 0 && blocks.length % blocksPerRow == 0,
      "block count must be a whole number of rows")
    val w = 8 * blocksPerRow
    val h = 8 * (blocks.length / blocksPerRow)
    require(w <= 0xffff && h <= 0xffff, "image dims exceed 16 bits")
    val dcCodes = canonical(DcBits, DcVals)
    val acCodes = canonical(AcBits, AcVals)

    val bw = new BitWriter
    var prevDc = 0
    var i = 0
    while (i < blocks.length) {
      if (restartEvery > 0 && i > 0 && i % restartEvery == 0) {
        bw.marker(0xd0 + ((i / restartEvery - 1) & 7))
        prevDc = 0
      }
      prevDc = writeBlock(bw, blocks(i), prevDc, dcCodes, acCodes)
      i += 1
    }
    val scan = bw.finish()

    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0xff, 0xd8).map(_.toByte)) // SOI
    out.write(seg(0xe0, "JFIF".getBytes("US-ASCII") ++
      Array[Byte](0, 1, 1, 0, 0, 1, 0, 1, 0, 0))) // APP0 v1.1, no density
    out.write(seg(0xdb, Array(0x00.toByte) ++ QuantZig.map(_.toByte))) // DQT
    out.write(seg(0xc0, Array[Byte](8, // SOF0: precision
      (h >>> 8).toByte, (h & 0xff).toByte, (w >>> 8).toByte, (w & 0xff).toByte,
      1, 1, 0x11, 0))) // 1 component, 1x1 sampling, quant table 0
    out.write(seg(0xc4, dht(0, 0, DcBits, DcVals) ++ dht(1, 0, AcBits, AcVals)))
    out.write(driSeg(restartEvery))
    out.write(seg(0xda, Array[Byte](1, 1, 0x00, 0, 63, 0))) // SOS
    out.write(scan)
    out.write(Array(0xff, 0xd9).map(_.toByte)) // EOI
    out.toByteArray
  }

  /** Driver-fixture encoder: payload byte `b` → one DC-only block whose
    * decoded 8×8 is EXACTLY flat at `b` (see object doc). One block per
    * MCU row (width 8, height 8·n). */
  def encodeGray(payload: Array[Byte], restartEvery: Int = 0): Array[Byte] = {
    require(payload.nonEmpty && payload.length <= 8191,
      "payload must be 1..8191 bytes (height is 16-bit)")
    encodeBlocks(payload.map { b =>
      val blk = new Array[Int](64)
      blk(0) = (b & 0xff) - 128 // dequantized DC = (b-128)*8 with q=8
      blk
    }.toArray, blocksPerRow = 1, restartEvery)
  }

  // ------------------------------------------- progressive encoder (T.81 G)

  /** DC first scan body: DPCM over the point-transformed (arithmetic
    * shift) DC values. `mcus` groups the (component, block) interleave
    * per MCU (one block per "MCU" for gray) so restart markers land on
    * MCU boundaries, resetting every predictor. */
  private def progDcFirst(mcus: Seq[Seq[(Int, Array[Int])]], nComp: Int,
                          dcCodes: Array[CodeTab],
                          al: Int, restartEvery: Int): Array[Byte] = {
    val bw = new BitWriter
    val pred = new Array[Int](nComp)
    val ms = mcus.toIndexedSeq
    var i = 0
    while (i < ms.length) {
      if (restartEvery > 0 && i > 0 && i % restartEvery == 0) {
        bw.marker(0xd0 + ((i / restartEvery - 1) & 7))
        java.util.Arrays.fill(pred, 0)
      }
      ms(i).foreach { case (ci, b) =>
        val v = b(0) >> al
        val diff = v - pred(ci); pred(ci) = v
        val s = category(diff)
        dcCodes(ci).emit(bw, s)
        if (s > 0) bw.write(if (diff < 0) diff + (1 << s) - 1 else diff, s)
      }
      i += 1
    }
    bw.finish()
  }

  /** DC refinement scan body: one raw bit (bit Al of the DC) per block,
    * in the same interleave order as the first DC scan. */
  private def progDcRefine(mcus: Seq[Seq[(Int, Array[Int])]], al: Int,
                           restartEvery: Int): Array[Byte] = {
    val bw = new BitWriter
    val ms = mcus.toIndexedSeq
    var i = 0
    while (i < ms.length) {
      if (restartEvery > 0 && i > 0 && i % restartEvery == 0)
        bw.marker(0xd0 + ((i / restartEvery - 1) & 7))
      ms(i).foreach { case (_, b) => bw.write((b(0) >> al) & 1, 1) }
      i += 1
    }
    bw.finish()
  }

  /** AC first scan body (one component, blocks in ITS raster order):
    * truncated magnitudes at Al, zero runs with ZRL, all-zero /
    * trailing-zero bands folded into cross-block EOBn runs. */
  private def progAcFirst(blocks: Seq[Array[Int]],
                          acCodes: CodeTab,
                          ss: Int, se: Int, al: Int,
                          restartEvery: Int = 0): Array[Byte] = {
    val bw = new BitWriter
    var eobrun = 0
    def emitEobrun(): Unit = if (eobrun > 0) {
      var r = 0
      while ((eobrun >> (r + 1)) > 0) r += 1
      acCodes.emit(bw, r << 4)
      if (r > 0) bw.write(eobrun - (1 << r), r)
      eobrun = 0
    }
    val bs = blocks.toIndexedSeq
    val t = new Array[Int](64) // scratch, reused across blocks
    var bi = 0
    while (bi < bs.length) {
      if (restartEvery > 0 && bi > 0 && bi % restartEvery == 0) {
        emitEobrun() // an EOB run never crosses a restart boundary
        bw.marker(0xd0 + ((bi / restartEvery - 1) & 7))
      }
      val b = bs(bi)
      var last = ss - 1 // last index in [ss, se] with nonzero shifted value
      var k = ss
      while (k <= se) {
        val m = math.abs(b(k)) >> al
        t(k) = if (b(k) < 0) -m else m
        if (m != 0) last = k
        k += 1
      }
      if (last < ss) {
        eobrun += 1; if (eobrun == 0x7fff) emitEobrun()
      } else {
        emitEobrun()
        var run = 0; k = ss
        while (k <= last) {
          val v = t(k)
          if (v == 0) run += 1
          else {
            while (run >= 16) { acCodes.emit(bw, 0xF0); run -= 16 }
            val s = category(v)
            acCodes.emit(bw, (run << 4) | s)
            bw.write(if (v < 0) v + (1 << s) - 1 else v, s)
            run = 0
          }
          k += 1
        }
        if (last < se) { eobrun += 1; if (eobrun == 0x7fff) emitEobrun() }
      }
      bi += 1
    }
    emitEobrun()
    bw.finish()
  }

  /** AC refinement scan body (one component): newly-significant
    * coefficients as (run, 1) symbols with sign bits; already-significant
    * ones as buffered correction bits that flush after the next symbol
    * (or ride the pending EOBn) — the jcphuff encode_mcu_AC_refine
    * structure with its BE/BR two-pool split. */
  private def progAcRefine(blocks: Seq[Array[Int]],
                           acCodes: CodeTab,
                           ss: Int, se: Int, al: Int,
                           restartEvery: Int = 0): Array[Byte] = {
    val bw = new BitWriter
    var eobrun = 0
    // TWO correction-bit pools: `attached` rides the pending EOB run and
    // flushes with its EOBn symbol — the decoder consumes those while
    // refining the run's blocks; `current` holds this block's bits since
    // the last symbol and flushes after the next in-block symbol (ZRL or
    // newly-significant) — the decoder consumes those while advancing
    // past already-significant coefficients. They merge only when the
    // block joins the EOB run.
    val attached = scala.collection.mutable.ArrayBuffer.empty[Int]
    val current = scala.collection.mutable.ArrayBuffer.empty[Int]
    def flushCurrent(): Unit = { current.foreach(bw.write(_, 1)); current.clear() }
    def emitEobrun(): Unit = if (eobrun > 0) {
      var r = 0
      while ((eobrun >> (r + 1)) > 0) r += 1
      acCodes.emit(bw, r << 4)
      if (r > 0) bw.write(eobrun - (1 << r), r)
      eobrun = 0
      attached.foreach(bw.write(_, 1)); attached.clear()
    }
    val bs = blocks.toIndexedSeq
    val mag = new Array[Int](64) // scratch, reused across blocks
    var bi = 0
    while (bi < bs.length) {
      if (restartEvery > 0 && bi > 0 && bi % restartEvery == 0) {
        emitEobrun() // flushes the run AND its attached correction bits
        bw.marker(0xd0 + ((bi / restartEvery - 1) & 7))
      }
      val b = bs(bi)
      var eobIdx = ss - 1 // last index in [ss, se] with magnitude exactly 1
      var k = ss
      while (k <= se) {
        val m = math.abs(b(k)) >> al
        mag(k) = m
        if (m == 1) eobIdx = k
        k += 1
      }
      var r = 0
      k = ss
      while (k <= se) {
        val temp = mag(k)
        if (temp == 0) r += 1
        else {
          // fold pending zero runs into ZRLs only while another
          // newly-significant coefficient lies ahead (else they join
          // the EOB run); each ZRL flushes the correction bits the
          // decoder will consume while advancing over those 16 zeros
          while (r > 15 && k <= eobIdx) {
            emitEobrun()
            acCodes.emit(bw, 0xF0)
            r -= 16
            flushCurrent()
          }
          if (temp > 1) current += (temp & 1) // correction bit only
          else {
            emitEobrun()
            acCodes.emit(bw, (r << 4) | 1)
            bw.write(if (b(k) < 0) 0 else 1, 1)
            flushCurrent()
            r = 0
          }
        }
        k += 1
      }
      if (r > 0 || current.nonEmpty) {
        eobrun += 1
        attached ++= current; current.clear() // bits join the run
        if (eobrun == 0x7fff) emitEobrun()
      }
      bi += 1
    }
    emitEobrun()
    bw.finish()
  }

  private def progSos(comps: Seq[(Int, Int)], ss: Int, se: Int, ah: Int,
                      al: Int, scan: Array[Byte]): Array[Byte] =
    seg(0xda, Array(comps.length.toByte) ++
      comps.flatMap { case (id, tbl) => Seq(id.toByte, tbl.toByte) } ++
      Array[Byte](ss.toByte, se.toByte, ((ah << 4) | al).toByte)) ++ scan

  /** PROGRESSIVE fixture encoder: the same quantized zigzag blocks as
    * [[encodeBlocks]], sent as the canonical FOUR-scan progression —
    * DC first (Al=1), AC first (band 1..63, Al=1), DC refinement, AC
    * refinement — through a real SOF2 stream with EOBn run coding and
    * buffered correction bits. Decoding it must reproduce
    * [[encodeBlocks]]' pixels exactly. */
  private[graft] def encodeBlocksProgressive(blocks: Array[Array[Int]],
                                             blocksPerRow: Int,
                                             restartEvery: Int = 0): Array[Byte] = {
    require(blocks.nonEmpty, "need at least one block")
    require(blocksPerRow > 0 && blocks.length % blocksPerRow == 0,
      "block count must be a whole number of rows")
    val w = 8 * blocksPerRow
    val h = 8 * (blocks.length / blocksPerRow)
    require(w <= 0xffff && h <= 0xffff, "image dims exceed 16 bits")
    val dcCodes = Array(canonical(DcBits, DcVals))
    val acCodes = canonical(AcBitsP, AcValsP)
    val mcus = blocks.toSeq.map(b => Seq((0, b)))

    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0xff, 0xd8).map(_.toByte)) // SOI
    out.write(seg(0xe0, "JFIF".getBytes("US-ASCII") ++
      Array[Byte](0, 1, 1, 0, 0, 1, 0, 1, 0, 0)))
    out.write(seg(0xdb, Array(0x00.toByte) ++ QuantZig.map(_.toByte)))
    out.write(seg(0xc2, Array[Byte](8, // SOF2: progressive
      (h >>> 8).toByte, (h & 0xff).toByte, (w >>> 8).toByte, (w & 0xff).toByte,
      1, 1, 0x11, 0)))
    out.write(seg(0xc4, dht(0, 0, DcBits, DcVals) ++ dht(1, 0, AcBitsP, AcValsP)))
    out.write(driSeg(restartEvery))
    out.write(progSos(Seq(1 -> 0x00), 0, 0, 0, 1,
      progDcFirst(mcus, 1, dcCodes, 1, restartEvery)))
    out.write(progSos(Seq(1 -> 0x00), 1, 63, 0, 1,
      progAcFirst(blocks.toSeq, acCodes, 1, 63, 1, restartEvery)))
    out.write(progSos(Seq(1 -> 0x00), 0, 0, 1, 0,
      progDcRefine(mcus, 0, restartEvery)))
    out.write(progSos(Seq(1 -> 0x00), 1, 63, 1, 0,
      progAcRefine(blocks.toSeq, acCodes, 1, 63, 0, restartEvery)))
    out.write(Array(0xff, 0xd9).map(_.toByte)) // EOI
    out.toByteArray
  }

  /** Progressive twin of [[encodeGray]]: same DC-only flat blocks, same
    * decoded pixels, SOF2 four-scan wire format. */
  def encodeGrayProgressive(payload: Array[Byte],
                            restartEvery: Int = 0): Array[Byte] = {
    require(payload.nonEmpty && payload.length <= 8191,
      "payload must be 1..8191 bytes (height is 16-bit)")
    encodeBlocksProgressive(payload.map { b =>
      val blk = new Array[Int](64)
      blk(0) = (b & 0xff) - 128
      blk
    }.toArray, blocksPerRow = 1, restartEvery)
  }

  /** COLOR-progressive stream writer: SOF2 with Y at `ySamp` and 1×1
    * chroma, the canonical EIGHT-scan progression — interleaved DC
    * first/refinement over all three components (per-MCU block order,
    * three predictors), then per-component AC first/refinement (AC scans
    * are NON-interleaved by T.81's rule, each walking its component's
    * OWN plane raster — which differs from MCU order at 4:2:0, so the
    * order mapping is load-bearing). Separate luma/chroma quant AND
    * Huffman tables at different code lengths, like the baseline pair. */
  private def encodeColorStreamProgressive(y: Array[Array[Array[Int]]],
      cb: Array[Array[Int]], cr: Array[Array[Int]], mcusPerRow: Int,
      ySamp: Int, restartEvery: Int = 0): Array[Byte] = {
    require(y.nonEmpty, "need at least one MCU")
    require(y.length == cb.length && y.length == cr.length,
      "Y/Cb/Cr MCU counts must match")
    require(mcusPerRow > 0 && y.length % mcusPerRow == 0,
      "MCU count must be a whole number of rows")
    val hY = ySamp >> 4; val vY = ySamp & 0x0f
    val w = 8 * hY * mcusPerRow
    val h = 8 * vY * (y.length / mcusPerRow)
    require(w <= 0xffff && h <= 0xffff, "image dims exceed 16 bits")
    val nMcuRows = y.length / mcusPerRow
    // Y blocks re-ordered into the Y PLANE's raster for the AC scans
    val gw = mcusPerRow * hY
    val yRaster = new Array[Array[Int]](gw * nMcuRows * vY)
    for (i <- y.indices; b <- y(i).indices) {
      val col = (i % mcusPerRow) * hY + b % hY
      val row = (i / mcusPerRow) * vY + b / hY
      yRaster(row * gw + col) = y(i)(b)
    }
    // interleaved DC order: per MCU — Y block(s) raster, then Cb, Cr
    val mcus: Seq[Seq[(Int, Array[Int])]] = y.indices.map(i =>
      y(i).toSeq.map(b => (0, b)) ++ Seq((1, cb(i)), (2, cr(i))))
    val dcCodes = Array(canonical(DcBits, DcVals),
      canonical(DcBitsC, DcVals), canonical(DcBitsC, DcVals))
    val acY = canonical(AcBitsP, AcValsP)
    val acC = canonical(AcBitsPC, AcValsP)
    val all = Seq(1 -> 0x00, 2 -> 0x11, 3 -> 0x11)

    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0xff, 0xd8).map(_.toByte)) // SOI
    out.write(seg(0xe0, "JFIF".getBytes("US-ASCII") ++
      Array[Byte](0, 1, 1, 0, 0, 1, 0, 1, 0, 0)))
    out.write(seg(0xdb, Array(0x00.toByte) ++ QuantZig.map(_.toByte) ++
      Array(0x01.toByte) ++ QuantZigC.map(_.toByte)))
    out.write(seg(0xc2, Array[Byte](8,
      (h >>> 8).toByte, (h & 0xff).toByte, (w >>> 8).toByte, (w & 0xff).toByte,
      3,
      1, ySamp.toByte, 0,
      2, 0x11, 1,
      3, 0x11, 1)))
    out.write(seg(0xc4,
      dht(0, 0, DcBits, DcVals) ++ dht(1, 0, AcBitsP, AcValsP) ++
      dht(0, 1, DcBitsC, DcVals) ++ dht(1, 1, AcBitsPC, AcValsP)))
    out.write(driSeg(restartEvery))
    out.write(progSos(all, 0, 0, 0, 1,
      progDcFirst(mcus, 3, dcCodes, 1, restartEvery)))
    out.write(progSos(Seq(1 -> 0x00), 1, 63, 0, 1,
      progAcFirst(yRaster.toSeq, acY, 1, 63, 1, restartEvery)))
    out.write(progSos(Seq(2 -> 0x11), 1, 63, 0, 1,
      progAcFirst(cb.toSeq, acC, 1, 63, 1, restartEvery)))
    out.write(progSos(Seq(3 -> 0x11), 1, 63, 0, 1,
      progAcFirst(cr.toSeq, acC, 1, 63, 1, restartEvery)))
    out.write(progSos(all, 0, 0, 1, 0, progDcRefine(mcus, 0, restartEvery)))
    out.write(progSos(Seq(1 -> 0x00), 1, 63, 1, 0,
      progAcRefine(yRaster.toSeq, acY, 1, 63, 0, restartEvery)))
    out.write(progSos(Seq(2 -> 0x11), 1, 63, 1, 0,
      progAcRefine(cb.toSeq, acC, 1, 63, 0, restartEvery)))
    out.write(progSos(Seq(3 -> 0x11), 1, 63, 1, 0,
      progAcRefine(cr.toSeq, acC, 1, 63, 0, restartEvery)))
    out.write(Array(0xff, 0xd9).map(_.toByte)) // EOI
    out.toByteArray
  }

  /** Progressive twin of [[encodeColor]] — same 4:4:4 DC-only MCUs, same
    * decoded pixels, eight-scan SOF2 wire format. */
  def encodeColorProgressive(payload: Array[Byte],
                             restartEvery: Int = 0): Array[Byte] = {
    require(payload.nonEmpty && payload.length <= 8191,
      "payload must be 1..8191 bytes (height is 16-bit)")
    def dcBlock(v: Int): Array[Int] = {
      val blk = new Array[Int](64); blk(0) = v; blk
    }
    val bv = payload.map(_ & 0xff)
    encodeColorStreamProgressive(
      bv.map(b => Array(dcBlock(b - 128))),
      bv.map(b => dcBlock(b % 9 - 4)),
      bv.map(b => dcBlock(b % 7 - 3)),
      mcusPerRow = 1, ySamp = 0x11, restartEvery)
  }

  /** Progressive twin of [[encodeColor420]] — same 16×16 shared-chroma
    * MCUs, same decoded pixels, eight-scan SOF2 wire format. */
  def encodeColor420Progressive(payload: Array[Byte],
                                restartEvery: Int = 0): Array[Byte] = {
    require(payload.nonEmpty && payload.length % 4 == 0 &&
      payload.length <= 16380,
      "payload must be a positive multiple of 4 bytes (4 per 16x16 MCU)")
    def dcBlock(v: Int): Array[Int] = {
      val blk = new Array[Int](64); blk(0) = v; blk
    }
    val groups = payload.map(_ & 0xff).grouped(4).toArray
    encodeColorStreamProgressive(
      groups.map(g => g.map(b => dcBlock(b - 128))),
      groups.map(g => dcBlock(g(0) % 9 - 4)),
      groups.map(g => dcBlock(g(0) % 7 - 3)),
      mcusPerRow = 1, ySamp = 0x22, restartEvery)
  }

  /** Spec seam: color-progressive encoder over explicit block arrays
    * (the AC-bearing fixtures), 4:4:4 (`ySamp=0x11`, one Y per MCU) or
    * 4:2:0 (`ySamp=0x22`, four Y per MCU). */
  private[graft] def encodeColorBlocksProgressive(y: Array[Array[Array[Int]]],
      cb: Array[Array[Int]], cr: Array[Array[Int]], mcusPerRow: Int,
      ySamp: Int, restartEvery: Int = 0): Array[Byte] =
    encodeColorStreamProgressive(y, cb, cr, mcusPerRow, ySamp, restartEvery)

  /** 4:4:4 COLOR fixture encoder: parallel Y/Cb/Cr block arrays (each a
    * 64-entry zigzag coefficient block), one of each per MCU. */
  private[graft] def encodeColorBlocks(y: Array[Array[Int]],
                                       cb: Array[Array[Int]],
                                       cr: Array[Array[Int]],
                                       blocksPerRow: Int,
                                       restartEvery: Int = 0): Array[Byte] = {
    require(y.length == cb.length && y.length == cr.length,
      "Y/Cb/Cr block counts must match (4:4:4 — one block each per MCU)")
    encodeColorStream(y.map(Array(_)), cb, cr, blocksPerRow,
      ySamp = 0x11, restartEvery)
  }

  /** 4:2:0 fixture encoder: each MCU is FOUR Y blocks (2×2, raster order)
    * plus one Cb and one Cr block covering the same 16×16 pixel area —
    * the layout virtually all real-world JPEGs use. */
  private[graft] def encodeColorBlocks420(y: Array[Array[Array[Int]]],
                                          cb: Array[Array[Int]],
                                          cr: Array[Array[Int]],
                                          mcusPerRow: Int,
                                          restartEvery: Int = 0): Array[Byte] = {
    require(y.length == cb.length && y.length == cr.length,
      "Y/Cb/Cr MCU counts must match")
    require(y.forall(_.length == 4), "4:2:0 needs four Y blocks per MCU")
    encodeColorStream(y, cb, cr, mcusPerRow, ySamp = 0x22, restartEvery)
  }

  /** 4:2:2 fixture encoder: each MCU is TWO Y blocks (side by side) plus
    * one Cb and one Cr block covering the same 16×8 pixel area — the
    * other common subsampled layout (DV, many camera JPEGs). */
  private[graft] def encodeColorBlocks422(y: Array[Array[Array[Int]]],
                                          cb: Array[Array[Int]],
                                          cr: Array[Array[Int]],
                                          mcusPerRow: Int,
                                          restartEvery: Int = 0): Array[Byte] = {
    require(y.length == cb.length && y.length == cr.length,
      "Y/Cb/Cr MCU counts must match")
    require(y.forall(_.length == 2), "4:2:2 needs two Y blocks per MCU")
    encodeColorStream(y, cb, cr, mcusPerRow, ySamp = 0x21, restartEvery)
  }

  /** 4:1:1 fixture encoder: each MCU is FOUR Y blocks side by side plus
    * one Cb and one Cr block covering the same 32×8 pixel area — the
    * horizontally-quartered sampling some camera pipelines (and NTSC DV)
    * emit; the last named layout rejection besides arithmetic coding,
    * closed by measured share (PLANS.md round 12). */
  private[graft] def encodeColorBlocks411(y: Array[Array[Array[Int]]],
                                          cb: Array[Array[Int]],
                                          cr: Array[Array[Int]],
                                          mcusPerRow: Int,
                                          restartEvery: Int = 0): Array[Byte] = {
    require(y.length == cb.length && y.length == cr.length,
      "Y/Cb/Cr MCU counts must match")
    require(y.forall(_.length == 4), "4:1:1 needs four Y blocks per MCU")
    encodeColorStream(y, cb, cr, mcusPerRow, ySamp = 0x41, restartEvery)
  }

  /** Shared 3-component interleaved-scan writer: SOF0 declares Y with
    * `ySamp` sampling (0x11 → 4:4:4 8×8 MCUs, 0x22 → 4:2:0 16×16 MCUs)
    * and 1×1 chroma, separate quantization (0 luma / 1 chroma) and
    * Huffman (DHT ids 0 / 1, different code lengths) tables; the scan
    * carries three independent DC predictors and optional restarts. */
  private def encodeColorStream(y: Array[Array[Array[Int]]],
                                cb: Array[Array[Int]],
                                cr: Array[Array[Int]],
                                mcusPerRow: Int, ySamp: Int,
                                restartEvery: Int): Array[Byte] = {
    require(y.nonEmpty, "need at least one MCU")
    require(mcusPerRow > 0 && y.length % mcusPerRow == 0,
      "MCU count must be a whole number of rows")
    val w = 8 * (ySamp >> 4) * mcusPerRow
    val h = 8 * (ySamp & 0x0f) * (y.length / mcusPerRow)
    require(w <= 0xffff && h <= 0xffff, "image dims exceed 16 bits")
    val dcY = canonical(DcBits, DcVals)
    val acY = canonical(AcBits, AcVals)
    val dcC = canonical(DcBitsC, DcVals)
    val acC = canonical(AcBitsC, AcVals)

    val bw = new BitWriter
    var pY = 0; var pCb = 0; var pCr = 0
    var i = 0
    while (i < y.length) { // MCU interleave: Y block(s), Cb, Cr
      if (restartEvery > 0 && i > 0 && i % restartEvery == 0) {
        bw.marker(0xd0 + ((i / restartEvery - 1) & 7))
        pY = 0; pCb = 0; pCr = 0
      }
      var b = 0
      while (b < y(i).length) {
        pY = writeBlock(bw, y(i)(b), pY, dcY, acY)
        b += 1
      }
      pCb = writeBlock(bw, cb(i), pCb, dcC, acC)
      pCr = writeBlock(bw, cr(i), pCr, dcC, acC)
      i += 1
    }
    val scan = bw.finish()

    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0xff, 0xd8).map(_.toByte)) // SOI
    out.write(seg(0xe0, "JFIF".getBytes("US-ASCII") ++
      Array[Byte](0, 1, 1, 0, 0, 1, 0, 1, 0, 0)))
    out.write(seg(0xdb, Array(0x00.toByte) ++ QuantZig.map(_.toByte) ++
      Array(0x01.toByte) ++ QuantZigC.map(_.toByte))) // DQT: tables 0 and 1
    out.write(seg(0xc0, Array[Byte](8,
      (h >>> 8).toByte, (h & 0xff).toByte, (w >>> 8).toByte, (w & 0xff).toByte,
      3, // three components: Y→q0 at ySamp, Cb/Cr→q1 at 1x1
      1, ySamp.toByte, 0,
      2, 0x11, 1,
      3, 0x11, 1)))
    out.write(seg(0xc4,
      dht(0, 0, DcBits, DcVals) ++ dht(1, 0, AcBits, AcVals) ++
      dht(0, 1, DcBitsC, DcVals) ++ dht(1, 1, AcBitsC, AcVals)))
    out.write(driSeg(restartEvery))
    out.write(seg(0xda, Array[Byte](3, // SOS: per-component table ids
      1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0)))
    out.write(scan)
    out.write(Array(0xff, 0xd9).map(_.toByte)) // EOI
    out.toByteArray
  }

  /** Driver-fixture COLOR encoder: payload byte `b` → one 4:4:4 MCU of
    * DC-only blocks decoding to EXACT flat planes Y = b,
    * Cb = 128 + (b mod 9 − 4), Cr = 128 + (b mod 7 − 3) (chroma DC quant
    * is 8, so the dequantized DC is divisible by 8 and the IDCT is an
    * exact integer). The chroma offsets are deliberately non-neutral:
    * the fixed-point BT.601 conversion does real work on every pixel,
    * and the oracle re-derives it with the same integer arithmetic. */
  def encodeColor(payload: Array[Byte]): Array[Byte] = {
    require(payload.nonEmpty && payload.length <= 8191,
      "payload must be 1..8191 bytes (height is 16-bit)")
    def dcBlock(v: Int): Array[Int] = {
      val blk = new Array[Int](64); blk(0) = v; blk
    }
    val bv = payload.map(_ & 0xff)
    encodeColorBlocks(
      bv.map(b => dcBlock(b - 128)),
      bv.map(b => dcBlock(b % 9 - 4)),
      bv.map(b => dcBlock(b % 7 - 3)),
      blocksPerRow = 1)
  }

  /** Driver-fixture 4:2:0 encoder: every FOUR payload bytes become one
    * 16×16 MCU — four flat Y quadrants (Y = b₀..b₃ in raster order) over
    * ONE flat chroma pair derived from the group's first byte
    * (Cb−128 = b₀%9−4, Cr−128 = b₀%7−3), so the shared-chroma semantics
    * of 4:2:0 are observable: quadrants differ only through Y. The box
    * upsample of a flat plane is exact, so the oracle recomputes every
    * channel. `restartEvery` > 0 inserts RSTn markers — the structure
    * that makes a big scan splittable for parallel decode. */
  def encodeColor420(payload: Array[Byte], restartEvery: Int = 0): Array[Byte] = {
    require(payload.nonEmpty && payload.length % 4 == 0 &&
      payload.length <= 16380,
      "payload must be a positive multiple of 4 bytes (4 per 16x16 MCU)")
    def dcBlock(v: Int): Array[Int] = {
      val blk = new Array[Int](64); blk(0) = v; blk
    }
    val groups = payload.map(_ & 0xff).grouped(4).toArray
    encodeColorBlocks420(
      groups.map(g => g.map(b => dcBlock(b - 128))),
      groups.map(g => dcBlock(g(0) % 9 - 4)),
      groups.map(g => dcBlock(g(0) % 7 - 3)),
      mcusPerRow = 1, restartEvery)
  }

  /** Driver-fixture 4:2:2 encoder: every TWO payload bytes become one
    * 16×8 MCU — two flat Y blocks side by side (Y = b₀, b₁) over ONE
    * flat chroma pair from the pair's first byte (Cb−128 = b₀%9−4,
    * Cr−128 = b₀%7−3) — the horizontal shared-chroma twin of
    * [[encodeColor420]]. */
  def encodeColor422(payload: Array[Byte], restartEvery: Int = 0): Array[Byte] = {
    require(payload.nonEmpty && payload.length % 2 == 0 &&
      payload.length <= 16380,
      "payload must be a positive multiple of 2 bytes (2 per 16x8 MCU)")
    def dcBlock(v: Int): Array[Int] = {
      val blk = new Array[Int](64); blk(0) = v; blk
    }
    val groups = payload.map(_ & 0xff).grouped(2).toArray
    encodeColorBlocks422(
      groups.map(g => g.map(b => dcBlock(b - 128))),
      groups.map(g => dcBlock(g(0) % 9 - 4)),
      groups.map(g => dcBlock(g(0) % 7 - 3)),
      mcusPerRow = 1, restartEvery)
  }

  /** Driver-fixture 4:1:1 encoder: every FOUR payload bytes become one
    * 32×8 MCU — four flat Y blocks side by side (Y = b₀..b₃) over ONE
    * flat chroma pair from the group's first byte (Cb−128 = b₀%9−4,
    * Cr−128 = b₀%7−3) — the horizontally-quartered sibling of
    * [[encodeColor420]] (same 4-bytes-per-group semantics, different
    * geometry: the chroma box-upsamples 4×1 instead of 2×2). */
  def encodeColor411(payload: Array[Byte], restartEvery: Int = 0): Array[Byte] = {
    require(payload.nonEmpty && payload.length % 4 == 0 &&
      payload.length <= 16380,
      "payload must be a positive multiple of 4 bytes (4 per 32x8 MCU)")
    def dcBlock(v: Int): Array[Int] = {
      val blk = new Array[Int](64); blk(0) = v; blk
    }
    val groups = payload.map(_ & 0xff).grouped(4).toArray
    encodeColorBlocks411(
      groups.map(g => g.map(b => dcBlock(b - 128))),
      groups.map(g => dcBlock(g(0) % 9 - 4)),
      groups.map(g => dcBlock(g(0) % 7 - 3)),
      mcusPerRow = 1, restartEvery)
  }

  /** Progressive twin of [[encodeColor422]]. */
  def encodeColor422Progressive(payload: Array[Byte],
                                restartEvery: Int = 0): Array[Byte] = {
    require(payload.nonEmpty && payload.length % 2 == 0 &&
      payload.length <= 16380,
      "payload must be a positive multiple of 2 bytes (2 per 16x8 MCU)")
    def dcBlock(v: Int): Array[Int] = {
      val blk = new Array[Int](64); blk(0) = v; blk
    }
    val groups = payload.map(_ & 0xff).grouped(2).toArray
    encodeColorStreamProgressive(
      groups.map(g => g.map(b => dcBlock(b - 128))),
      groups.map(g => dcBlock(g(0) % 9 - 4)),
      groups.map(g => dcBlock(g(0) % 7 - 3)),
      mcusPerRow = 1, ySamp = 0x21, restartEvery)
  }

  // ------------------------------------------------------------ decoder

  /** Canonical Huffman decoder built from DHT counts/values. Fast path:
    * an 8-bit LOOKAHEAD LUT (the standard libjpeg structure) — peek the
    * next 8 entropy bits, one table probe resolves any code of length
    * ≤ 8 (symbol + true length, then drop exactly that many bits).
    * Codes longer than 8 bits, and reads near the scan's end where fewer
    * than 8 real bits remain, fall back to the canonical
    * mincode/maxcode/valptr walk (one probe per length) whose bit-at-a-
    * time reads preserve the exact fail-loud behavior at markers /
    * truncation. Decoded symbols are identical by construction: the LUT
    * is just the first 8 levels of the same canonical code, so
    * [[JpegBitReaderSpec]] pins LUT ≡ walk on every table. */
  private[multimodal] final class HuffTable(bits: Array[Int], vals: Array[Byte]) {
    private val minCode = new Array[Int](17)
    private val maxCode = new Array[Int](17)
    private val valPtr = new Array[Int](17)
    // lookLen(p) = code length if the 8-bit prefix p starts a code of
    // length <= 8, else 0; lookSym(p) = its decoded symbol
    private val lookLen = new Array[Byte](256)
    private val lookSym = new Array[Byte](256)
    // a corrupt DHT (truncated values, counts past the code space) fails
    // with a message here, never with an index error in the loop below
    require(vals.length >= bits.sum,
      s"DHT: ${bits.sum} codes but only ${vals.length} symbol values")
    locally {
      var code = 0; var vi = 0; var l = 1
      while (l <= 16) {
        require(code + bits(l - 1) <= (1 << l),
          s"DHT: ${bits(l - 1)} codes of length $l exceed the code space")
        valPtr(l) = vi
        minCode(l) = code
        var c = 0
        while (c < bits(l - 1)) {
          if (l <= 8) {
            // every 8-bit sequence starting with this code resolves to it
            val base = code << (8 - l)
            var f = 0
            while (f < (1 << (8 - l))) {
              lookLen(base + f) = l.toByte
              lookSym(base + f) = vals(vi)
              f += 1
            }
          }
          code += 1; vi += 1; c += 1
        }
        maxCode(l) = code - 1
        if (bits(l - 1) == 0) maxCode(l) = -1 // no codes at this length
        code <<= 1
        l += 1
      }
    }
    def decode(br: BitReader): Int = {
      if (br.ensure8()) {
        val p = br.peek8()
        val l = lookLen(p)
        if (l != 0) { br.drop(l); return lookSym(p) & 0xff }
      }
      decodeWalk(br)
    }
    /** Canonical per-length walk — the pre-LUT decode, kept as the slow
      * path for >8-bit codes and near-stop reads (exact throw points). */
    private def decodeWalk(br: BitReader): Int = {
      var code = 0; var l = 0
      while (l < 16) {
        code = (code << 1) | br.readBit()
        l += 1
        if (maxCode(l) >= 0 && code <= maxCode(l) && code >= minCode(l))
          return vals(valPtr(l) + code - minCode(l)) & 0xff
      }
      throw new IllegalArgumentException("invalid Huffman code in scan")
    }
  }

  /** Entropy-scan bit reader with FF00 byte-unstuffing; hitting a real
    * marker or the end of the blob mid-scan fails loud.
    *
    * Internals: a 64-bit accumulator refilled a byte at a time through
    * the same unstuffing state machine the old per-bit reader ran per
    * bit — multi-bit reads and the Huffman LUT peek are O(1) against it.
    * A marker / end-of-blob is recorded as a STOP at fill time but only
    * thrown when decode actually consumes past the last real bit, so
    * the failure surface (which streams throw, and with which message)
    * is exactly the per-bit reader's: prefetch never throws on bytes
    * the decode never consumes. [[bytePos]] reconstructs the position
    * after the last CONSUMED byte (unconsumed prefetched bytes are
    * backed out, stuffed FF bytes at 2 stream bytes each — only FF00
    * stuffing ever puts an FF byte in the accumulator), so marker
    * validation against junk bytes behaves as before. */
  private[multimodal] final class BitReader(blob: Array[Byte], start: Int) {
    private var pos = start // next unread stream byte
    private var acc = 0L // low `nBits` bits are valid, newest at bit 0
    private var nBits = 0
    private var stop = 0 // 0 none, 1 end-of-blob, 2 FF-at-end, 3 marker
    private var stopMarker = 0
    private def fill(): Unit = {
      while (nBits <= 56 && stop == 0) {
        if (pos >= blob.length) stop = 1
        else {
          val b = blob(pos) & 0xff
          if (b == 0xff) {
            if (pos + 1 >= blob.length) stop = 2
            else {
              val m = blob(pos + 1) & 0xff
              if (m == 0x00) { pos += 2; acc = (acc << 8) | 0xffL; nBits += 8 }
              else { stop = 3; stopMarker = m }
            }
          } else { pos += 1; acc = (acc << 8) | b; nBits += 8 }
        }
      }
    }
    private def failStop(): Nothing = {
      if (stop == 3) throw new IllegalArgumentException(
        f"marker FF$stopMarker%02X inside entropy scan (truncated stream?)")
      require(false, if (stop == 2) "scan truncated at FF" else "scan truncated")
      throw new AssertionError("unreachable")
    }
    def readBit(): Int = {
      if (nBits == 0) { fill(); if (nBits == 0) failStop() }
      nBits -= 1
      ((acc >>> nBits) & 1L).toInt
    }
    def readBits(n: Int): Int = {
      if (n == 0) return 0
      if (nBits < n) {
        fill()
        if (nBits < n) { // near stop: bit-at-a-time for exact throw points
          var v = 0; var i = 0
          while (i < n) { v = (v << 1) | readBit(); i += 1 }
          return v
        }
      }
      nBits -= n
      ((acc >>> nBits) & ((1L << n) - 1)).toInt
    }
    /** True iff 8 real bits are buffered (fills first) — the LUT peek
      * precondition; false near a stop falls back to the walk. */
    def ensure8(): Boolean = { if (nBits < 8) fill(); nBits >= 8 }
    def peek8(): Int = ((acc >>> (nBits - 8)) & 0xffL).toInt
    def drop(n: Int): Unit = nBits -= n
    /** Byte-align and consume the next restart marker, which must be
      * RST`n` (markers cycle 0..7, F.2.1.3.1). Any buffered pad bits are
      * discarded — the entropy stream restarts on the next byte. */
    def expectRestart(n: Int): Unit = {
      val p = bytePos // after the last consumed byte: pads + prefetch backed out
      require(p + 1 < blob.length, "scan truncated at restart boundary")
      val m = ((blob(p) & 0xff) << 8) | (blob(p + 1) & 0xff)
      require(m == 0xffd0 + n,
        f"expected restart marker RST$n (FF${0xd0 + n}%02X) " +
          f"at $p, found $m%04X")
      pos = p + 2
      acc = 0L; nBits = 0; stop = 0; stopMarker = 0
    }
    /** Position after the last byte any consumed bit came from: whole
      * unconsumed prefetched bytes (the low nBits/8 bytes of the
      * accumulator) are backed out at their stream cost — 2 bytes for a
      * stuffed FF, 1 otherwise. */
    def bytePos: Int = {
      var p = pos
      val k = nBits >>> 3
      var i = 0
      while (i < k) {
        p -= (if (((acc >>> (8 * i)) & 0xffL) == 0xffL) 2 else 1)
        i += 1
      }
      p
    }
  }

  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  private val CosTable: Array[Double] = {
    val t = new Array[Double](64) // t(x*8+u) = C(u)·cos((2x+1)uπ/16)
    var x = 0
    while (x < 8) {
      var u = 0
      while (u < 8) {
        val cu = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
        t(x * 8 + u) = cu * math.cos((2 * x + 1) * u * math.Pi / 16.0)
        u += 1
      }
      x += 1
    }
    t
  }

  /** Full 2-D IDCT (separable double-precision), level shift, clamp.
    *
    * Sparse-aware, bit-identical: both separable passes are bounded by
    * the last nonzero coefficient row/column (a 64-int prescan). Every
    * skipped term is `s += CosTable(_) * 0`, an exact IEEE no-op — adding
    * ±0.0 can only flip the sign of an exact zero, which cannot survive
    * `round(s/4 + 128)` — and the truncation drops only the tail, so the
    * left-to-right summation order of the remaining terms is unchanged.
    * Real-world JPEG blocks are quantized sparse (often DC + a few AC:
    * 72 multiplies instead of 1024), which is what makes the decode seam
    * scan-rate-bound rather than IDCT-bound at corpus scale;
    * [[JpegIdctSparseSpec]] pins bounded ≡ unbounded on random
    * zero-tailed blocks. */
  private[graft] def idct(coef: Array[Int]): Array[Int] = {
    var maxR = 0; var maxC = 0
    var i = 0
    while (i < 64) {
      if (coef(i) != 0) {
        val r = i >> 3; val c = i & 7
        if (r > maxR) maxR = r
        if (c > maxC) maxC = c
      }
      i += 1
    }
    val tmp = new Array[Double](64)
    var y = 0
    while (y <= maxR) { // rows: 1-D over u for each v-row of coefficients
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u <= maxC) { s += CosTable(x * 8 + u) * coef(y * 8 + u); u += 1 }
        tmp(y * 8 + x) = s
        x += 1
      }
      y += 1
    }
    val out = new Array[Int](64)
    var x = 0
    while (x < 8) {
      var yy = 0
      while (yy < 8) {
        var s = 0.0
        var v = 0
        while (v <= maxR) { s += CosTable(yy * 8 + v) * tmp(v * 8 + x); v += 1 }
        val px = math.round(s / 4.0 + 128.0).toInt
        out(yy * 8 + x) = math.max(0, math.min(255, px))
        yy += 1
      }
      x += 1
    }
    out
  }

  /** Parse + fully decode a GRAYSCALE JFIF stream into exact pixel
    * statistics — baseline (SOF0) or PROGRESSIVE (SOF2: multi-scan
    * spectral selection + successive approximation, T.81 G.2, including
    * EOBn runs and AC refinement correction bits). Strict: color
    * progressive, arithmetic coding, 16-bit quant tables all throw by
    * name; a baseline 3-component stream is redirected to
    * [[parseColor]]. */
  def parse(blob: Array[Byte]): JpegInfo = parseStream(blob) match {
    case Left(g) => g
    case Right(_) => throw new IllegalArgumentException(
      "3-component color stream: only single-component here, use parseColor")
  }

  /** Parse + fully decode a YCbCr COLOR JFIF stream — baseline 4:4:4 /
    * 4:2:0 / 4:2:2 / 4:1:1 or progressive 4:4:4 / 4:2:0 / 4:2:2 —
    * interleaved MCUs, per-component quantization/Huffman tables and DC
    * predictors, box chroma upsample, fixed-point BT.601 conversion —
    * into exact per-channel statistics. Other samplings (4:4:0, …)
    * throw by name. */
  def parseColor(blob: Array[Byte]): JpegColorInfo = parseStream(blob) match {
    case Right(c) => c
    case Left(_) => throw new IllegalArgumentException(
      "single-component grayscale stream: use parse")
  }

  /** [[parseColor]] HONORING an EXIF orientation (TIFF tag 274): the
    * returned stats describe the DISPLAYED raster — width/height swap
    * for the transposed orientations (5–8) and `topLeftHex` is the
    * stored corner pixel that lands at the display top-left. The sums /
    * max / pixel count are rotation-invariant, so applying orientation
    * is a pure integer remap of the existing pixel walk: the witness
    * coordinate moves, nothing is re-decoded or buffered. Orientation 0
    * (absent) and 1 are the identity. */
  def parseColorOriented(blob: Array[Byte], orientation: Int): JpegColorInfo = {
    require(orientation >= 0 && orientation <= 8,
      s"EXIF orientation must be 0..8, got $orientation")
    val o = if (orientation == 0) 1 else orientation
    parseStream(blob, o) match {
      case Right(c) =>
        if (o >= 5) c.copy(width = c.height, height = c.width) else c
      case Left(_) => throw new IllegalArgumentException(
        "single-component grayscale stream: use parse")
    }
  }

  /** Everything the segment walk learns before entropy data begins:
    * geometry, per-component tables/sampling, restart interval, and the
    * scan's first entropy byte. */
  private final class ParsedScan(val width: Int, val height: Int,
      val nComp: Int, val dcT: Array[HuffTable], val acT: Array[HuffTable],
      val qs: Array[Array[Int]], val samp: Array[Int],
      val restartInterval: Int, val scanStart: Int) {
    def comps: Array[ScanComp] = Array.tabulate(nComp)(c => new ScanComp(
      (samp(c) >> 4) & 0x0f, samp(c) & 0x0f, dcT(c), acT(c), qs(c)))
    def maxH: Int = (0 until nComp).map(c => (samp(c) >> 4) & 0x0f).max
    def maxV: Int = (0 until nComp).map(c => samp(c) & 0x0f).max
    def nMcuX: Int = (width + 8 * maxH - 1) / (8 * maxH)
    def nMcuY: Int = (height + 8 * maxV - 1) / (8 * maxV)
    def nMcu: Int = nMcuX * nMcuY
    /** Restart segments in the scan: `restartInterval` MCUs each (the
      * last possibly short); one segment when DRI is absent. */
    def nSegments: Int =
      if (restartInterval <= 0) 1
      else (nMcu + restartInterval - 1) / restartInterval
  }

  private def parseStream(blob: Array[Byte], orientation: Int = 1)
      : Either[JpegInfo, JpegColorInfo] = {
    if (isProgressive(blob)) parseProgressive(blob, orientation)
    else {
      val p = walkHeaders(blob)
      if (p.nComp == 1)
        Left(decodeScan(blob, p.scanStart, p.width, p.height,
          p.dcT(0), p.acT(0), p.qs(0), p.restartInterval))
      else
        Right(decodeScanColor(blob, p.scanStart, p.width, p.height,
          p.comps, p.restartInterval, orientation))
    }
  }

  /** Light pre-scan: does the stream's frame header declare SOF2? */
  private def isProgressive(blob: Array[Byte]): Boolean = {
    if (blob.length < 4 || (blob(0) & 0xff) != 0xff ||
      (blob(1) & 0xff) != 0xd8) return false
    def u16(o: Int): Int = ((blob(o) & 0xff) << 8) | (blob(o + 1) & 0xff)
    var pos = 2
    while (pos + 3 < blob.length) {
      if ((blob(pos) & 0xff) != 0xff) return false
      val m = blob(pos + 1) & 0xff
      if (m == 0xc2) return true
      if (m == 0xc0 || m == 0xc1 || m == 0xda || m == 0xd9) return false
      if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) pos += 2
      else pos += 2 + u16(pos + 2)
    }
    false
  }

  /** First marker position at or after `from` (skipping entropy pad and
    * stuffed FF00 / FF-fill bytes). */
  private def nextMarkerPos(blob: Array[Byte], from: Int): Int = {
    var p = from
    while (p + 1 < blob.length && !((blob(p) & 0xff) == 0xff &&
        (blob(p + 1) & 0xff) != 0x00 && (blob(p + 1) & 0xff) != 0xff))
      p += 1
    require(p + 1 < blob.length, "missing marker after scan")
    p
  }

  /** One progressive component's geometry + coefficient state: the block
    * grid is PADDED to whole MCUs (gw×gh — interleaved DC scans address
    * it), while non-interleaved AC scans walk only the REAL bwN×bhN
    * raster of ceil-scaled component dims. */
  private final class ProgComp(val h: Int, val v: Int, val quantId: Int,
                               width: Int, height: Int,
                               maxH: Int, maxV: Int, nMcuX: Int, nMcuY: Int) {
    val gw: Int = nMcuX * h
    val gh: Int = nMcuY * v
    val bwN: Int = ((width * h + maxH - 1) / maxH + 7) / 8
    val bhN: Int = ((height * v + maxV - 1) / maxV + 7) / 8
    val blocks: Array[Array[Int]] = Array.fill(gw * gh)(new Array[Int](64))
  }

  /** PROGRESSIVE (SOF2) decode — the complete T.81 G.2 successive-
    * approximation algorithm: coefficient state persists across scans;
    * DC scans (interleaved over the scan's components, per-component
    * predictors) DPCM the point-transformed DCs and then refine with raw
    * bits; AC scans (non-interleaved, one component, its own plane
    * raster) code truncated magnitudes per spectral band with
    * cross-block EOBn runs and then refine with correction bits.
    * Grayscale, 4:4:4 and 4:2:0 color layouts are supported — the same
    * set the baseline path accepts. */
  private def parseProgressive(blob: Array[Byte], orientation: Int = 1)
      : Either[JpegInfo, JpegColorInfo] = {
    require(blob.length >= 4 && (blob(0) & 0xff) == 0xff &&
      (blob(1) & 0xff) == 0xd8, "not a JPEG: missing SOI")
    def u16(o: Int): Int = ((blob(o) & 0xff) << 8) | (blob(o + 1) & 0xff)
    var pos = 2
    var width = -1; var height = -1
    val quant = new Array[Array[Int]](4)
    val dcTables = new Array[HuffTable](4)
    val acTables = new Array[HuffTable](4)
    var restartInterval = 0
    var sofSeen = false
    var nComp = 0
    var compIds: Array[Int] = null
    var comps: Array[ProgComp] = null
    var nMcuX = 0; var nMcuY = 0
    var done = false
    while (!done) {
      require(pos + 1 < blob.length, "truncated before EOI")
      require((blob(pos) & 0xff) == 0xff, f"expected marker at $pos")
      val marker = blob(pos + 1) & 0xff
      pos += 2
      marker match {
        case 0xd9 => done = true
        case m if m >= 0xd0 && m <= 0xd7 =>
          throw new IllegalArgumentException(
            "restart marker outside an entropy scan")
        case 0xc9 | 0xca | 0xcb => throw new IllegalArgumentException(
          "arithmetic-coded JPEG not supported")
        case 0xc2 =>
          require(!sofSeen, "duplicate SOF2")
          val len = u16(pos)
          require(blob(pos + 2) == 8, "only 8-bit precision supported")
          height = u16(pos + 3); width = u16(pos + 5)
          require(width >= 1 && height >= 1, "dims out of range")
          nComp = blob(pos + 7) & 0xff
          require(nComp == 1 || nComp == 3,
            s"only single-component (grayscale) or 3-component (YCbCr) " +
              s"progressive supported, got $nComp")
          require(len == 8 + 3 * nComp,
            "SOF2 length does not match its component count")
          compIds = Array.tabulate(nComp)(c => blob(pos + 8 + 3 * c) & 0xff)
          val samp = Array.tabulate(nComp)(c => blob(pos + 9 + 3 * c) & 0xff)
          val layout = samp.toSeq
          require(layout == Seq(0x11) || layout == Seq(0x11, 0x11, 0x11) ||
              layout == Seq(0x22, 0x11, 0x11) ||
              layout == Seq(0x21, 0x11, 0x11),
            layout.map(s => f"0x$s%02X").mkString(
              "unsupported progressive sampling layout [", ", ",
              "] (only 1x1 [4:4:4], Y=2x2 [4:2:0] and Y=2x1 [4:2:2] supported)"))
          val maxH = samp.map(s => (s >> 4) & 0x0f).max
          val maxV = samp.map(s => s & 0x0f).max
          nMcuX = (width + 8 * maxH - 1) / (8 * maxH)
          nMcuY = (height + 8 * maxV - 1) / (8 * maxV)
          comps = Array.tabulate(nComp)(c => new ProgComp(
            (samp(c) >> 4) & 0x0f, samp(c) & 0x0f,
            blob(pos + 10 + 3 * c) & 0xff,
            width, height, maxH, maxV, nMcuX, nMcuY))
          sofSeen = true
          pos += len
        case 0xdd =>
          require(u16(pos) == 4, "DRI length must be 4")
          restartInterval = u16(pos + 2)
          pos += 4
        case 0xdb =>
          val len = u16(pos)
          var o = pos + 2
          while (o < pos + len) {
            val pq = (blob(o) & 0xff) >> 4
            val tq = blob(o) & 0x0f
            require(pq == 0, "16-bit quantization tables not supported")
            quant(tq) = Array.tabulate(64)(i => blob(o + 1 + i) & 0xff)
            o += 65
          }
          pos += len
        case 0xc4 =>
          val len = u16(pos)
          var o = pos + 2
          while (o < pos + len) {
            val cls = (blob(o) & 0xff) >> 4
            val id = blob(o) & 0x0f
            val bits = Array.tabulate(16)(i => blob(o + 1 + i) & 0xff)
            val n = bits.sum
            val vals = blob.slice(o + 17, o + 17 + n)
            val t = new HuffTable(bits, vals)
            if (cls == 0) dcTables(id) = t else acTables(id) = t
            o += 17 + n
          }
          pos += len
        case 0xda =>
          require(sofSeen, "SOS before SOF2")
          val len = u16(pos)
          val ns = blob(pos + 2) & 0xff
          require(ns >= 1 && ns <= nComp,
            s"scan component count $ns out of range" +
              (if (nComp == 1) " — progressive scan must cover the single component"
               else ""))
          // map scan component ids to frame indices, frame order enforced
          val scanComps = new Array[Int](ns)
          val scanDc = new Array[Int](ns)
          val scanAc = new Array[Int](ns)
          var c = 0
          while (c < ns) {
            val id = blob(pos + 3 + 2 * c) & 0xff
            val ci = compIds.indexOf(id)
            require(ci >= 0, s"scan references unknown component id $id")
            require(c == 0 || ci > scanComps(c - 1),
              "scan components must follow frame order")
            scanComps(c) = ci
            scanDc(c) = (blob(pos + 4 + 2 * c) & 0xff) >> 4
            scanAc(c) = blob(pos + 4 + 2 * c) & 0x0f
            c += 1
          }
          val o = pos + 3 + 2 * ns
          val ss = blob(o) & 0xff
          val se = blob(o + 1) & 0xff
          val ah = (blob(o + 2) & 0xff) >> 4
          val al = blob(o + 2) & 0x0f
          require((ss == 0 && se == 0) || (ss >= 1 && se >= ss && se <= 63),
            s"bad spectral band $ss..$se")
          require(ah == 0 || ah == al + 1,
            s"bad successive approximation Ah=$ah Al=$al")
          require(ss == 0 || ns == 1,
            "AC scans must be non-interleaved (one component)")
          val br = new BitReader(blob, pos + len)
          if (ns > 1) {
            // interleaved DC scan over the scan's components
            val dcTs = scanComps.indices.map { i =>
              val t = dcTables(scanDc(i))
              require(ah != 0 || t != null, "DC scan references missing DHT")
              t
            }.toArray
            decodeProgScanDc(br, comps, scanComps, dcTs, nMcuX,
              nMcuX * nMcuY, ah, al, restartInterval)
          } else {
            // non-interleaved: one component, its own block raster
            val cp = comps(scanComps(0))
            val dcT = dcTables(scanDc(0))
            val acT = acTables(scanAc(0))
            require(ss != 0 || ah != 0 || dcT != null,
              "DC scan references missing DHT")
            require(ss == 0 || acT != null, "AC scan references missing DHT")
            decodeProgScan(br,
              cp.bwN * cp.bhN,
              i => cp.blocks((i / cp.bwN) * cp.gw + (i % cp.bwN)),
              dcT, acT, ss, se, ah, al, restartInterval)
          }
          pos = nextMarkerPos(blob, br.bytePos)
        case _ => pos += u16(pos) // APPn/COM: skip by length
      }
    }
    require(sofSeen, "missing SOF2")
    val qs = comps.map { cp =>
      val q = quant(cp.quantId)
      require(q != null, "frame references missing DQT")
      q
    }

    if (nComp == 1) {
      // dequantize + IDCT + statistics, exactly like the baseline path
      val cp = comps(0)
      val q = qs(0)
      var nPx = 0L; var sum = 0L; var sq = 0L; var mx = 0; var mn = 255
      var topLeftHex = ""
      val coef = new Array[Int](64)
      var by = 0
      while (by < cp.bhN) {
        var bx = 0
        while (bx < cp.bwN) {
          val blk = cp.blocks(by * cp.gw + bx)
          var k = 0
          while (k < 64) { coef(Zigzag(k)) = blk(k) * q(k); k += 1 }
          val px = idct(coef)
          val xMax = math.min(8, width - bx * 8)
          val yMax = math.min(8, height - by * 8)
          var yy = 0
          while (yy < yMax) {
            var xx = 0
            while (xx < xMax) {
              val v = px(yy * 8 + xx)
              nPx += 1; sum += v; sq += v.toLong * v
              if (v > mx) mx = v
              if (v < mn) mn = v
              xx += 1
            }
            yy += 1
          }
          if (bx == 0 && by == 0) topLeftHex = f"${px(0)}%02X"
          bx += 1
        }
        by += 1
      }
      Left(JpegInfo(width, height, nPx, sum, sq, mx, mn, topLeftHex))
    } else {
      // color: per MCU, IDCT each component's blocks into a ScanComp
      // holder and fold the pixels through the SAME box-upsample +
      // BT.601 path as the baseline decode
      val holders = comps.map(cp =>
        new ScanComp(cp.h, cp.v, null, null, null))
      val acc = new ColorAcc
      locally {
        val (wx, wy) = orientationWitness(orientation, width, height)
        acc.witX = wx; acc.witY = wy
      }
      val coef = new Array[Int](64)
      var mcu = 0
      val nMcu = nMcuX * nMcuY
      while (mcu < nMcu) {
        val mx = mcu % nMcuX
        val my = mcu / nMcuX
        var c = 0
        while (c < comps.length) {
          val cp = comps(c)
          var b = 0
          while (b < cp.h * cp.v) {
            val col = mx * cp.h + b % cp.h
            val row = my * cp.v + b / cp.h
            val blk = cp.blocks(row * cp.gw + col)
            var k = 0
            while (k < 64) { coef(Zigzag(k)) = blk(k) * qs(c)(k); k += 1 }
            holders(c).blocks(b) = idct(coef)
            b += 1
          }
          c += 1
        }
        accumulateMcu(holders, mx, my, width, height, acc)
        mcu += 1
      }
      Right(JpegColorInfo(width, height, acc.nPx, acc.sumR, acc.sumG,
        acc.sumB, acc.mx, acc.topLeftHex))
    }
  }

  /** Interleaved progressive DC scan: per MCU, per scan component, h·v
    * blocks in raster order — per-component predictors, restart resets. */
  private def decodeProgScanDc(br: BitReader, comps: Array[ProgComp],
      scanComps: Array[Int], dcTs: Array[HuffTable], nMcuX: Int, nMcu: Int,
      ah: Int, al: Int, restartInterval: Int): Unit = {
    val pred = new Array[Int](comps.length)
    val p1 = 1 << al
    var mcu = 0
    while (mcu < nMcu) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        br.expectRestart((mcu / restartInterval - 1) & 7)
        java.util.Arrays.fill(pred, 0)
      }
      val mx = mcu % nMcuX
      val my = mcu / nMcuX
      var i = 0
      while (i < scanComps.length) {
        val ci = scanComps(i)
        val cp = comps(ci)
        var b = 0
        while (b < cp.h * cp.v) {
          val col = mx * cp.h + b % cp.h
          val row = my * cp.v + b / cp.h
          val coef = cp.blocks(row * cp.gw + col)
          if (ah == 0) {
            val s = dcTs(i).decode(br)
            require(s <= 11, s"DC size category $s out of range")
            pred(ci) += extend(br.readBits(s), s)
            coef(0) = pred(ci) << al
          } else if (br.readBit() == 1) coef(0) |= p1
          b += 1
        }
        i += 1
      }
      mcu += 1
    }
  }

  /** Apply ONE non-interleaved progressive scan (single component) to the
    * persistent coefficient state, blocks addressed through `blockAt`.
    * Restart markers reset the DC predictor AND the EOB run. */
  private def decodeProgScan(br: BitReader, nBlocks: Int,
      blockAt: Int => Array[Int],
      dcT: HuffTable, acT: HuffTable, ss: Int, se: Int, ah: Int, al: Int,
      restartInterval: Int): Unit = {
    var pred = 0
    var eobrun = 0
    var mcu = 0
    val p1 = 1 << al
    val m1 = -(1 << al)
    var bi = 0
    while (bi < nBlocks) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        br.expectRestart((mcu / restartInterval - 1) & 7)
        pred = 0; eobrun = 0
      }
      val coef = blockAt(bi)
      if (ss == 0) {
        if (ah == 0) { // DC first: DPCM over point-transformed DCs
          val s = dcT.decode(br)
          require(s <= 11, s"DC size category $s out of range")
          pred += extend(br.readBits(s), s)
          coef(0) = pred << al
        } else { // DC refinement: one raw bit — bit Al of the DC
          if (br.readBit() == 1) coef(0) |= p1
        }
      } else if (ah == 0) { // AC first
        if (eobrun > 0) eobrun -= 1
        else {
          var k = ss
          var brk = false
          while (!brk && k <= se) {
            val sym = acT.decode(br)
            val r = sym >> 4; val s = sym & 15
            if (s == 0) {
              if (r < 15) {
                eobrun = (1 << r) - 1 + (if (r > 0) br.readBits(r) else 0)
                brk = true
              } else k += 16 // ZRL
            } else {
              k += r
              require(k <= se, "AC run overflows the band")
              coef(k) = extend(br.readBits(s), s) << al
              k += 1
            }
          }
        }
      } else { // AC refinement (T.81 G.2.3 / the libjpeg structure)
        var k = ss
        if (eobrun == 0) {
          var brk = false
          while (!brk && k <= se) {
            val sym = acT.decode(br)
            var r = sym >> 4; val s = sym & 15
            var newVal = 0
            if (s == 0) {
              if (r < 15) {
                eobrun = (1 << r) + (if (r > 0) br.readBits(r) else 0)
                brk = true
              } // r == 15: ZRL — skip 16 zero-history coefficients below
            } else {
              require(s == 1, s"AC refinement symbol size $s (must be 1)")
              newVal = if (br.readBit() == 1) p1 else m1
            }
            if (!brk) {
              var placed = false
              while (!placed && k <= se) {
                if (coef(k) != 0) {
                  // already significant: consume its correction bit
                  if (br.readBit() == 1 && (coef(k) & p1) == 0)
                    coef(k) += (if (coef(k) >= 0) p1 else m1)
                } else {
                  if (r == 0) { if (s != 0) coef(k) = newVal; placed = true }
                  else r -= 1
                }
                k += 1
              }
              // a newly-significant coefficient whose zero-run overflows
              // the spectral band is a malformed stream — fail by name
              // like the AC-first path, never drop the coefficient
              require(placed || s == 0,
                "AC refinement run overflows the band")
            }
          }
        }
        if (eobrun > 0) {
          // end-of-band: refine the remaining already-significant
          // coefficients of this block, then count the block off the run
          while (k <= se) {
            if (coef(k) != 0) {
              if (br.readBit() == 1 && (coef(k) & p1) == 0)
                coef(k) += (if (coef(k) >= 0) p1 else m1)
            }
            k += 1
          }
          eobrun -= 1
        }
      }
      mcu += 1
      bi += 1
    }
  }

  private def walkHeaders(blob: Array[Byte]): ParsedScan = {
    require(blob.length >= 4 && (blob(0) & 0xff) == 0xff &&
      (blob(1) & 0xff) == 0xd8, "not a JPEG: missing SOI")
    var pos = 2
    def u16(o: Int): Int = ((blob(o) & 0xff) << 8) | (blob(o + 1) & 0xff)

    var width = -1; var height = -1
    val quant = new Array[Array[Int]](4)
    val dcTables = new Array[HuffTable](4)
    val acTables = new Array[HuffTable](4)
    var sofSeen = false
    var nComp = 0
    var restartInterval = 0
    val compId = new Array[Int](3)
    val compSamp = new Array[Int](3)
    val compQuant = new Array[Int](3)

    while (pos < blob.length) {
      require((blob(pos) & 0xff) == 0xff, f"expected marker at $pos")
      val marker = blob(pos + 1) & 0xff
      pos += 2
      marker match {
        case 0xd9 => throw new IllegalArgumentException("EOI before SOS")
        case m if m >= 0xd0 && m <= 0xd7 =>
          throw new IllegalArgumentException(
            "restart marker outside an entropy scan")
        case 0xc2 => throw new IllegalArgumentException(
          "progressive JPEG (SOF2) not supported")
        case 0xc9 | 0xca | 0xcb => throw new IllegalArgumentException(
          "arithmetic-coded JPEG not supported")
        case 0xdd =>
          require(u16(pos) == 4, "DRI length must be 4")
          restartInterval = u16(pos + 2)
          pos += 4
        case 0xc0 =>
          val len = u16(pos)
          require(blob(pos + 2) == 8, "only 8-bit precision supported")
          height = u16(pos + 3); width = u16(pos + 5)
          require(width >= 1 && height >= 1, "dims out of range")
          nComp = blob(pos + 7) & 0xff
          require(nComp == 1 || nComp == 3,
            s"only single-component (grayscale) or 3-component (YCbCr) " +
              s"supported, got $nComp")
          require(len == 8 + 3 * nComp,
            "SOF0 length does not match its component count")
          var c = 0
          while (c < nComp) {
            compId(c) = blob(pos + 8 + 3 * c) & 0xff
            compSamp(c) = blob(pos + 9 + 3 * c) & 0xff
            compQuant(c) = blob(pos + 10 + 3 * c) & 0xff
            c += 1
          }
          // supported layouts: grayscale 1×1; color 4:4:4 (all 1×1),
          // 4:2:0 (Y 2×2), 4:2:2 (Y 2×1) or 4:1:1 (Y 4×1), chroma 1×1.
          // Anything else (4:4:0, …) throws by the declared factors.
          val layout = compSamp.take(nComp).toSeq
          require(layout == Seq(0x11) || layout == Seq(0x11, 0x11, 0x11) ||
              layout == Seq(0x22, 0x11, 0x11) ||
              layout == Seq(0x21, 0x11, 0x11) ||
              layout == Seq(0x41, 0x11, 0x11),
            layout.map(s => f"0x$s%02X").mkString(
              "unsupported chroma subsampling layout [", ", ",
              "] (only 1x1 [4:4:4], Y=2x2 [4:2:0], Y=2x1 [4:2:2] and " +
                "Y=4x1 [4:1:1] supported)"))
          sofSeen = true
          pos += len
        case 0xdb =>
          val len = u16(pos)
          var o = pos + 2
          while (o < pos + len) {
            val pq = (blob(o) & 0xff) >> 4
            val tq = blob(o) & 0x0f
            require(pq == 0, "16-bit quantization tables not supported")
            quant(tq) = Array.tabulate(64)(i => blob(o + 1 + i) & 0xff)
            o += 65
          }
          pos += len
        case 0xc4 =>
          val len = u16(pos)
          var o = pos + 2
          while (o < pos + len) {
            val cls = (blob(o) & 0xff) >> 4
            val id = blob(o) & 0x0f
            val bits = Array.tabulate(16)(i => blob(o + 1 + i) & 0xff)
            val n = bits.sum
            val vals = blob.slice(o + 17, o + 17 + n)
            val t = new HuffTable(bits, vals)
            if (cls == 0) dcTables(id) = t else acTables(id) = t
            o += 17 + n
          }
          pos += len
        case 0xda =>
          val len = u16(pos)
          require(sofSeen, "SOS before SOF0")
          val nScan = blob(pos + 2) & 0xff
          require(nScan == nComp,
            s"scan component count $nScan does not match frame $nComp " +
              "(partial scans not supported)")
          // per-component entropy tables, matched to the frame's
          // components BY ID (the scan may reorder; baseline interleave
          // order is the scan's order — here required to equal frame order)
          val dcT = new Array[HuffTable](nComp)
          val acT = new Array[HuffTable](nComp)
          val qs = new Array[Array[Int]](nComp)
          var c = 0
          while (c < nComp) {
            val scanId = blob(pos + 3 + 2 * c) & 0xff
            require(scanId == compId(c),
              s"scan component order differs from frame order ($scanId)")
            val dcId = (blob(pos + 4 + 2 * c) & 0xff) >> 4
            val acId = blob(pos + 4 + 2 * c) & 0x0f
            dcT(c) = dcTables(dcId)
            acT(c) = acTables(acId)
            require(dcT(c) != null && acT(c) != null,
              "scan references missing DHT")
            qs(c) = quant(compQuant(c))
            require(qs(c) != null, "frame references missing DQT")
            c += 1
          }
          val ss = pos + 3 + 2 * nComp
          require(blob(ss) == 0 && blob(ss + 1) == 63 && blob(ss + 2) == 0,
            "non-baseline spectral selection")
          return new ParsedScan(width, height, nComp, dcT, acT, qs,
            compSamp.take(nComp), restartInterval, pos + len)
        case _ => // APPn/COM/etc: skip by length
          pos += u16(pos)
      }
    }
    throw new IllegalArgumentException("missing SOS")
  }

  /** Decode one entropy-coded block into dequantized raster-order
    * coefficients (`coef`); returns the component's new DC predictor. */
  private def readBlock(br: BitReader, dcT: HuffTable, acT: HuffTable,
                        q: Array[Int], prevDc: Int,
                        coef: Array[Int]): Int = {
    java.util.Arrays.fill(coef, 0)
    val s = dcT.decode(br)
    require(s <= 11, s"DC size category $s out of range")
    val dc = prevDc + extend(br.readBits(s), s)
    coef(0) = dc * q(0)
    var k = 1
    while (k < 64) {
      val sym = acT.decode(br)
      if (sym == 0x00) k = 64 // EOB
      else if (sym == 0xF0) k += 16 // ZRL
      else {
        val run = sym >> 4
        val sz = sym & 0x0f
        k += run
        require(k < 64, "AC run overflows the block")
        coef(Zigzag(k)) = extend(br.readBits(sz), sz) * q(k)
        k += 1
      }
    }
    dc
  }

  /** The byte-aligned scan must be followed by EOI (possibly after pad
    * bytes a real encoder never emits but the walk tolerates). */
  private def requireEoi(blob: Array[Byte], scanEnd: Int): Unit = {
    var p = scanEnd
    while (p + 1 < blob.length && !((blob(p) & 0xff) == 0xff &&
        (blob(p + 1) & 0xff) == 0xd9)) p += 1
    require(p + 1 < blob.length, "missing EOI after scan")
  }

  private def decodeScan(blob: Array[Byte], scanStart: Int, width: Int,
                         height: Int, dcT: HuffTable, acT: HuffTable,
                         q: Array[Int], restartInterval: Int): JpegInfo = {
    val bw = (width + 7) / 8
    val bh = (height + 7) / 8
    val br = new BitReader(blob, scanStart)
    var prevDc = 0
    var nPx = 0L; var sum = 0L; var sq = 0L; var mx = 0; var mn = 255
    var topLeftHex = ""
    val coef = new Array[Int](64)
    var mcuIdx = 0
    var by = 0
    while (by < bh) {
      var bx = 0
      while (bx < bw) {
        if (restartInterval > 0 && mcuIdx > 0 &&
            mcuIdx % restartInterval == 0) {
          br.expectRestart((mcuIdx / restartInterval - 1) & 7)
          prevDc = 0
        }
        prevDc = readBlock(br, dcT, acT, q, prevDc, coef)
        mcuIdx += 1
        val px = idct(coef)
        // accumulate only pixels inside the declared geometry (the last
        // block row/col may overhang when dims are not multiples of 8)
        val xMax = math.min(8, width - bx * 8)
        val yMax = math.min(8, height - by * 8)
        var yy = 0
        while (yy < yMax) {
          var xx = 0
          while (xx < xMax) {
            val v = px(yy * 8 + xx)
            nPx += 1; sum += v; sq += v.toLong * v
            if (v > mx) mx = v
            if (v < mn) mn = v
            xx += 1
          }
          yy += 1
        }
        if (bx == 0 && by == 0) topLeftHex = f"${px(0)}%02X"
        bx += 1
      }
      by += 1
    }
    requireEoi(blob, br.bytePos)
    JpegInfo(width, height, nPx, sum, sq, mx, mn, topLeftHex)
  }

  // 16-bit fixed-point BT.601 inverse constants (round(k · 2^16), the
  // same scaling real baseline decoders use): Cr→R 1.40200, Cb→G
  // −0.34414, Cr→G −0.71414, Cb→B 1.77200. Integer-exact, so the driver
  // oracle re-derives every channel with floor division — no doubles.
  private val FixCrR = 91881
  private val FixCbG = -22554
  private val FixCrG = -46802
  private val FixCbB = 116130

  private def clampPx(v: Int): Int =
    if (v < 0) 0 else if (v > 255) 255 else v

  /** One interleaved-scan component: sampling factors, entropy tables,
    * quant table, mutable DC predictor. */
  private final class ScanComp(val hs: Int, val vs: Int,
                               val dcT: HuffTable, val acT: HuffTable,
                               val q: Array[Int]) {
    var prevDc = 0
    // hs·vs decoded blocks of the current MCU, raster order
    val blocks = new Array[Array[Int]](hs * vs)
    def sample(xx: Int, yy: Int, maxH: Int, maxV: Int): Int = {
      // nearest (box) mapping from MCU pixel to this component's grid —
      // exact integer arithmetic, the mapping the oracle re-derives
      val sx = xx * hs / maxH
      val sy = yy * vs / maxV
      blocks((sy >> 3) * hs + (sx >> 3))((sy & 7) * 8 + (sx & 7))
    }
  }

  /** Interleaved color scan over arbitrary sampling factors (the box
    * mapping in [[ScanComp.sample]] is general): 4:4:4 (every component
    * 1×1), 4:2:0 (Y 2×2), 4:2:2 (Y 2×1) and 4:1:1 (Y 4×1) share the
    * same MCU walk. `restartInterval` > 0 consumes an
    * RSTn marker after every that-many MCUs and resets all DC predictors
    * (F.2.1.3.1) — the feature that makes a single huge scan SPLITTABLE:
    * each restart segment is independently decodable, so a distributed
    * decoder can fan one image's segments across tasks. */
  /** Mergeable per-channel accumulator: a restart segment's pixels fold
    * in independently, so partial results from parallel segment decodes
    * combine by plain sum/max — the property the distributed decode
    * ([[decodeColorSegments]]) relies on. */
  private final class ColorAcc {
    var nPx = 0L; var sumR = 0L; var sumG = 0L; var sumB = 0L
    var mx = 0
    var topLeftHex: String = null
    // witness pixel (STORED-raster coords) whose hex lands in
    // topLeftHex: (0,0) by default; the EXIF-oriented decode points it
    // at whichever stored corner becomes the DISPLAY top-left
    var witX = 0; var witY = 0
  }

  /** Decode `mcuCount` consecutive MCUs starting at entropy byte
    * `startPos` and image-grid MCU index `mcuStart`, with FRESH DC
    * predictors (every restart segment is independently decodable —
    * that is the whole point of restarts). In-bounds pixels accumulate
    * into `acc`; returns the byte position after the last consumed
    * entropy byte (any partial-byte pad bits are discarded, as the spec
    * requires before a byte-aligned marker). */
  private def decodeMcuRange(blob: Array[Byte], startPos: Int,
                             width: Int, height: Int,
                             comps: Array[ScanComp],
                             mcuStart: Int, mcuCount: Int,
                             acc: ColorAcc): Int = {
    val maxH = comps.map(_.hs).max
    val maxV = comps.map(_.vs).max
    val mcuW = 8 * maxH
    val mcuH = 8 * maxV
    val nMcuX = (width + mcuW - 1) / mcuW
    val br = new BitReader(blob, startPos)
    val coef = new Array[Int](64)
    var c = 0
    while (c < comps.length) { comps(c).prevDc = 0; c += 1 }
    var i = 0
    while (i < mcuCount) {
      val mcuIdx = mcuStart + i
      val bx = mcuIdx % nMcuX
      val by = mcuIdx / nMcuX
      // one MCU: each component contributes hs·vs blocks, raster order
      c = 0
      while (c < comps.length) {
        val comp = comps(c)
        var b = 0
        while (b < comp.blocks.length) {
          comp.prevDc =
            readBlock(br, comp.dcT, comp.acT, comp.q, comp.prevDc, coef)
          comp.blocks(b) = idct(coef)
          b += 1
        }
        c += 1
      }
      accumulateMcu(comps, bx, by, width, height, acc)
      i += 1
    }
    br.bytePos
  }

  /** Fold one decoded MCU's in-bounds pixels (each component's pixel
    * blocks sit in its [[ScanComp.blocks]]) into the channel accumulator
    * — box upsample via [[ScanComp.sample]] + fixed-point BT.601. Shared
    * by the baseline interleaved decode and the progressive finalizer. */
  private def accumulateMcu(comps: Array[ScanComp], bx: Int, by: Int,
                            width: Int, height: Int, acc: ColorAcc): Unit = {
    // allocation-free max over the (≤3) sampling factors: this runs once
    // per MCU (millions of times per corpus slice), where the previous
    // `comps.map(_.hs).max` boxed two throwaway arrays per call
    var maxH = 1; var maxV = 1
    var ci = 0
    while (ci < comps.length) {
      if (comps(ci).hs > maxH) maxH = comps(ci).hs
      if (comps(ci).vs > maxV) maxV = comps(ci).vs
      ci += 1
    }
    val mcuW = 8 * maxH
    val mcuH = 8 * maxV
    val xMax = math.min(mcuW, width - bx * mcuW)
    val yMax = math.min(mcuH, height - by * mcuH)
    // Strength-reduced hot loop: every supported sampling has
    // power-of-two max factors, so the box mapping's two integer
    // divisions per (pixel, component) — six per pixel — become shifts
    // (exact for non-negative operands), and the per-row-constant block
    // row / intra-block row offsets hoist out of the pixel loop. The
    // general division path below is kept for any non-power-of-two
    // sampling a future frame validator admits. Pixels are bit-identical
    // either way (same floor mapping, same fixed-point math).
    if ((maxH & (maxH - 1)) == 0 && (maxV & (maxV - 1)) == 0 &&
        comps.length == 3) {
      val shH = Integer.numberOfTrailingZeros(maxH)
      val shV = Integer.numberOfTrailingZeros(maxV)
      val c0 = comps(0); val c1 = comps(1); val c2 = comps(2)
      val h0 = c0.hs; val h1 = c1.hs; val h2 = c2.hs
      var yy = 0
      while (yy < yMax) {
        val sy0 = (yy * c0.vs) >> shV
        val sy1 = (yy * c1.vs) >> shV
        val sy2 = (yy * c2.vs) >> shV
        val bRow0 = (sy0 >> 3) * h0; val off0 = (sy0 & 7) * 8
        val bRow1 = (sy1 >> 3) * h1; val off1 = (sy1 & 7) * 8
        val bRow2 = (sy2 >> 3) * h2; val off2 = (sy2 & 7) * 8
        val witRow = by * mcuH + yy == acc.witY
        var xx = 0
        while (xx < xMax) {
          val sx0 = (xx * h0) >> shH
          val sx1 = (xx * h1) >> shH
          val sx2 = (xx * h2) >> shH
          val y = c0.blocks(bRow0 + (sx0 >> 3))(off0 + (sx0 & 7))
          val cb = c1.blocks(bRow1 + (sx1 >> 3))(off1 + (sx1 & 7)) - 128
          val cr = c2.blocks(bRow2 + (sx2 >> 3))(off2 + (sx2 & 7)) - 128
          val r = clampPx(y + ((FixCrR * cr + 32768) >> 16))
          val g = clampPx(y + ((FixCbG * cb + FixCrG * cr + 32768) >> 16))
          val b = clampPx(y + ((FixCbB * cb + 32768) >> 16))
          acc.nPx += 1; acc.sumR += r; acc.sumG += g; acc.sumB += b
          if (r > acc.mx) acc.mx = r
          if (g > acc.mx) acc.mx = g
          if (b > acc.mx) acc.mx = b
          if (witRow && bx * mcuW + xx == acc.witX)
            acc.topLeftHex = f"$r%02X$g%02X$b%02X"
          xx += 1
        }
        yy += 1
      }
      return
    }
    var yy = 0
    while (yy < yMax) {
      var xx = 0
      while (xx < xMax) {
        val y = comps(0).sample(xx, yy, maxH, maxV)
        val cb = comps(1).sample(xx, yy, maxH, maxV) - 128
        val cr = comps(2).sample(xx, yy, maxH, maxV) - 128
        val r = clampPx(y + ((FixCrR * cr + 32768) >> 16))
        val g = clampPx(y + ((FixCbG * cb + FixCrG * cr + 32768) >> 16))
        val b = clampPx(y + ((FixCbB * cb + 32768) >> 16))
        acc.nPx += 1; acc.sumR += r; acc.sumG += g; acc.sumB += b
        if (r > acc.mx) acc.mx = r
        if (g > acc.mx) acc.mx = g
        if (b > acc.mx) acc.mx = b
        if (bx * mcuW + xx == acc.witX && by * mcuH + yy == acc.witY)
          acc.topLeftHex = f"$r%02X$g%02X$b%02X"
        xx += 1
      }
      yy += 1
    }
  }

  /** Validate the byte-aligned restart marker RST`n` at `pos`; returns
    * the first byte after it. */
  private def expectRestartAt(blob: Array[Byte], pos: Int, n: Int): Int = {
    require(pos + 1 < blob.length, "scan truncated at restart boundary")
    val m = ((blob(pos) & 0xff) << 8) | (blob(pos + 1) & 0xff)
    require(m == 0xffd0 + n,
      f"expected restart marker RST$n (FF${0xd0 + n}%02X) " +
        f"at $pos, found $m%04X")
    pos + 2
  }

  /** Interleaved color scan over arbitrary sampling factors —
    * sequential reference path: decode each restart segment in order,
    * validating the cycling RSTn marker between segments. */
  /** The STORED-raster pixel that becomes the display top-left under
    * EXIF orientation `o` (TIFF 274 semantics; 0/absent = normal). */
  private def orientationWitness(o: Int, w: Int, h: Int): (Int, Int) =
    o match {
      case 2 | 8 => (w - 1, 0)
      case 3 | 7 => (w - 1, h - 1)
      case 4 | 6 => (0, h - 1)
      case _ => (0, 0) // 0/1 normal, 5 transpose: stored TL stays TL
    }

  private def decodeScanColor(blob: Array[Byte], scanStart: Int,
                              width: Int, height: Int,
                              comps: Array[ScanComp],
                              restartInterval: Int,
                              orientation: Int = 1): JpegColorInfo = {
    val maxH = comps.map(_.hs).max
    val maxV = comps.map(_.vs).max
    val nMcuX = (width + 8 * maxH - 1) / (8 * maxH)
    val nMcuY = (height + 8 * maxV - 1) / (8 * maxV)
    val nMcu = nMcuX * nMcuY
    val ri = if (restartInterval <= 0) nMcu else restartInterval
    val acc = new ColorAcc
    locally {
      val (wx, wy) = orientationWitness(orientation, width, height)
      acc.witX = wx; acc.witY = wy
    }
    var mcuStart = 0
    var pos = scanStart
    var seg = 0
    while (mcuStart < nMcu) {
      if (seg > 0) pos = expectRestartAt(blob, pos, (seg - 1) & 7)
      val count = math.min(ri, nMcu - mcuStart)
      pos = decodeMcuRange(blob, pos, width, height, comps,
        mcuStart, count, acc)
      mcuStart += count
      seg += 1
    }
    requireEoi(blob, pos)
    JpegColorInfo(width, height, acc.nPx, acc.sumR, acc.sumG, acc.sumB,
      acc.mx, acc.topLeftHex)
  }

  // ---------------------------------------------- parallel segment decode

  /** Segment inventory of a COLOR scan, from the headers alone (no
    * entropy decode): enough for a planner to decide the fan-out. */
  final case class SegmentInfo(width: Int, height: Int, nMcu: Int,
                               restartInterval: Int, nSegments: Int)

  def segmentInfo(blob: Array[Byte]): SegmentInfo = {
    val p = walkHeaders(blob)
    require(p.nComp == 3, "segment decode supports color streams only")
    SegmentInfo(p.width, p.height, p.nMcu, p.restartInterval, p.nSegments)
  }

  /** Locate every restart segment's first entropy byte with ONE linear,
    * stuffing-aware byte scan (no Huffman work) — exactly how parallel
    * JPEG decoders split a scan: FF 00 is data, FF D0–D7 is a segment
    * boundary, anything else ends the scan early (fail loud). */
  private def segmentStarts(blob: Array[Byte], p: ParsedScan): Array[Int] = {
    val n = p.nSegments
    val starts = new Array[Int](n)
    starts(0) = p.scanStart
    var found = 1
    var pos = p.scanStart
    while (found < n) {
      require(pos + 1 < blob.length,
        "scan truncated while locating restart segments")
      if ((blob(pos) & 0xff) == 0xff) {
        val m = blob(pos + 1) & 0xff
        if (m == 0x00) pos += 2 // stuffed data byte
        else if (m >= 0xd0 && m <= 0xd7) {
          pos += 2
          starts(found) = pos
          found += 1
        } else throw new IllegalArgumentException(
          f"marker FF$m%02X before all ${n} restart segments were found")
      } else pos += 1
    }
    starts
  }

  /** One PROGRESSIVE scan's parameters + its restart-segment entropy
    * starts, for the segment-parallel progressive path. */
  private final class ProgScanInfo(val scanComps: Array[Int],
      val dcTs: Array[HuffTable], val acT: HuffTable,
      val ss: Int, val se: Int, val ah: Int, val al: Int,
      val segStarts: Array[Int])

  private final class ProgSegPlan(val width: Int, val height: Int,
      val nMcu: Int, val restartInterval: Int,
      val qs: Array[Array[Int]], val scans: Seq[ProgScanInfo])

  /** Header-only plan for a restart-marked PROGRESSIVE color stream (no
    * entropy work): dims, MCU count, restart interval, segment count. */
  def progressiveSegmentInfo(blob: Array[Byte]): SegmentInfo = {
    require(blob.length >= 4 && (blob(0) & 0xff) == 0xff &&
      (blob(1) & 0xff) == 0xd8, "not a JPEG: missing SOI")
    def u16(o: Int): Int = ((blob(o) & 0xff) << 8) | (blob(o + 1) & 0xff)
    var pos = 2
    var width = -1; var height = -1; var ri = 0
    var sofSeen = false
    var done = false
    while (!done) {
      require(pos + 1 < blob.length, "truncated before SOS")
      require((blob(pos) & 0xff) == 0xff, f"expected marker at $pos")
      val m = blob(pos + 1) & 0xff
      pos += 2
      m match {
        case 0xc2 =>
          height = u16(pos + 3); width = u16(pos + 5)
          require((blob(pos + 7) & 0xff) == 3,
            "progressive segment decode supports color streams only")
          val samp = (0 until 3).map(c => blob(pos + 9 + 3 * c) & 0xff)
          require(samp == Seq(0x11, 0x11, 0x11),
            "progressive segment decode requires 4:4:4 (restart segments " +
              "of the DC and AC scans partition the same block raster)")
          sofSeen = true
          pos += u16(pos)
        case 0xdd => ri = u16(pos + 2); pos += 4
        case 0xda => done = true // first scan: headers complete
        case 0xd9 => throw new IllegalArgumentException("EOI before SOS")
        case _ => pos += u16(pos)
      }
    }
    require(sofSeen, "missing SOF2")
    val nMcu = ((width + 7) / 8) * ((height + 7) / 8)
    val nSeg = if (ri <= 0) 1 else (nMcu + ri - 1) / ri
    SegmentInfo(width, height, nMcu, ri, nSeg)
  }

  /** Walk a progressive color stream's headers AND locate every scan's
    * restart-segment entropy starts (stuffing-aware byte scan, no
    * Huffman work). Requires 4:4:4: with one block per component per
    * MCU, the DC scan's MCU raster and each AC scan's block raster are
    * the SAME raster, so one restart interval partitions every scan into
    * the same block ranges — the precondition for decoding a block's
    * whole scan SEQUENCE task-locally. (At 4:2:0/4:2:2 the Y plane's
    * block raster crosses MCU rows and the partitions disagree; those
    * layouts fan per-image, not per-segment.) */
  private def walkProgressiveSegments(blob: Array[Byte]): ProgSegPlan = {
    require(blob.length >= 4 && (blob(0) & 0xff) == 0xff &&
      (blob(1) & 0xff) == 0xd8, "not a JPEG: missing SOI")
    def u16(o: Int): Int = ((blob(o) & 0xff) << 8) | (blob(o + 1) & 0xff)
    var pos = 2
    var width = -1; var height = -1
    val quant = new Array[Array[Int]](4)
    val dcTables = new Array[HuffTable](4)
    val acTables = new Array[HuffTable](4)
    var restartInterval = 0
    var sofSeen = false
    var compIds: Array[Int] = null
    var quantIds: Array[Int] = null
    var nMcu = 0
    val scans = scala.collection.mutable.ArrayBuffer.empty[ProgScanInfo]
    var done = false
    while (!done) {
      require(pos + 1 < blob.length, "truncated before EOI")
      require((blob(pos) & 0xff) == 0xff, f"expected marker at $pos")
      val marker = blob(pos + 1) & 0xff
      pos += 2
      marker match {
        case 0xd9 => done = true
        case 0xc2 =>
          require(!sofSeen, "duplicate SOF2")
          require(blob(pos + 2) == 8, "only 8-bit precision supported")
          height = u16(pos + 3); width = u16(pos + 5)
          require((blob(pos + 7) & 0xff) == 3,
            "progressive segment decode supports color streams only")
          compIds = Array.tabulate(3)(c => blob(pos + 8 + 3 * c) & 0xff)
          val samp = (0 until 3).map(c => blob(pos + 9 + 3 * c) & 0xff)
          require(samp == Seq(0x11, 0x11, 0x11),
            "progressive segment decode requires 4:4:4")
          quantIds = Array.tabulate(3)(c => blob(pos + 10 + 3 * c) & 0xff)
          nMcu = ((width + 7) / 8) * ((height + 7) / 8)
          sofSeen = true
          pos += u16(pos)
        case 0xdd =>
          restartInterval = u16(pos + 2)
          pos += 4
        case 0xdb =>
          val len = u16(pos)
          var o = pos + 2
          while (o < pos + len) {
            require(((blob(o) & 0xff) >> 4) == 0,
              "16-bit quantization tables not supported")
            quant(blob(o) & 0x0f) = Array.tabulate(64)(i => blob(o + 1 + i) & 0xff)
            o += 65
          }
          pos += len
        case 0xc4 =>
          val len = u16(pos)
          var o = pos + 2
          while (o < pos + len) {
            val cls = (blob(o) & 0xff) >> 4
            val id = blob(o) & 0x0f
            val bits = Array.tabulate(16)(i => blob(o + 1 + i) & 0xff)
            val n = bits.sum
            val t = new HuffTable(bits, blob.slice(o + 17, o + 17 + n))
            if (cls == 0) dcTables(id) = t else acTables(id) = t
            o += 17 + n
          }
          pos += len
        case 0xda =>
          require(sofSeen, "SOS before SOF2")
          require(restartInterval > 0,
            "progressive segment decode needs a restart interval (DRI)")
          val len = u16(pos)
          val ns = blob(pos + 2) & 0xff
          val scanComps = new Array[Int](ns)
          val scanDcT = new Array[HuffTable](ns)
          var acT: HuffTable = null
          var c = 0
          while (c < ns) {
            val ci = compIds.indexOf(blob(pos + 3 + 2 * c) & 0xff)
            require(ci >= 0, "scan references unknown component id")
            scanComps(c) = ci
            scanDcT(c) = dcTables((blob(pos + 4 + 2 * c) & 0xff) >> 4)
            acT = acTables(blob(pos + 4 + 2 * c) & 0x0f)
            c += 1
          }
          val o = pos + 3 + 2 * ns
          val ss = blob(o) & 0xff
          val se = blob(o + 1) & 0xff
          val ah = (blob(o + 2) & 0xff) >> 4
          val al = blob(o + 2) & 0x0f
          require(ss == 0 || ns == 1,
            "AC scans must be non-interleaved (one component)")
          // locate this scan's restart-segment starts with ONE linear
          // stuffing-aware byte scan, then land on the next header marker
          val nSeg = (nMcu + restartInterval - 1) / restartInterval
          val starts = new Array[Int](nSeg)
          starts(0) = pos + len
          var found = 1
          var p = pos + len
          var scanEnd = -1
          while (scanEnd < 0) {
            require(p + 1 < blob.length, "scan truncated")
            if ((blob(p) & 0xff) == 0xff) {
              val m = blob(p + 1) & 0xff
              if (m == 0x00 || m == 0xff) p += 1 // stuffed byte / fill FF
              else if (m >= 0xd0 && m <= 0xd7) {
                p += 2
                require(found < nSeg,
                  "more restart segments than the geometry implies")
                starts(found) = p
                found += 1
              } else scanEnd = p
            }
            if (scanEnd < 0 && (blob(p) & 0xff) != 0xff) p += 1
          }
          require(found == nSeg,
            s"scan has $found restart segments, geometry implies $nSeg")
          scans += new ProgScanInfo(scanComps, scanDcT, acT, ss, se, ah, al,
            starts)
          pos = scanEnd
        case _ => pos += u16(pos)
      }
    }
    require(sofSeen && scans.nonEmpty, "missing SOF2 or scans")
    val qs = quantIds.map { id =>
      val q = quant(id)
      require(q != null, "frame references missing DQT")
      q
    }
    new ProgSegPlan(width, height, nMcu, restartInterval, qs, scans.toSeq)
  }

  /** Interleaved progressive DC scan bounded to ONE restart segment's
    * MCUs, writing into the segment-local coefficient buffers (4:4:4 —
    * one block per component per MCU). Fresh per-component predictors:
    * a restart boundary resets them, which is what makes the segment
    * independently decodable. */
  private def decodeProgDcSegment(br: BitReader, scan: ProgScanInfo,
      segBlocks: Array[Array[Array[Int]]], cnt: Int): Unit = {
    val pred = new Array[Int](scan.scanComps.length)
    val p1 = 1 << scan.al
    var mcu = 0
    while (mcu < cnt) {
      var i = 0
      while (i < scan.scanComps.length) {
        val coef = segBlocks(scan.scanComps(i))(mcu)
        if (scan.ah == 0) {
          val sz = scan.dcTs(i).decode(br)
          require(sz <= 11, s"DC size category $sz out of range")
          pred(i) += extend(br.readBits(sz), sz)
          coef(0) = pred(i) << scan.al
        } else if (br.readBit() == 1) coef(0) |= p1
        i += 1
      }
      mcu += 1
    }
  }

  /** Decode this task's stride of restart segments of a PROGRESSIVE
    * 4:4:4 color stream into partial channel statistics — the
    * progressive twin of [[decodeColorSegments]]. Because 4:4:4 restart
    * segments partition the SAME block raster in every scan, each task
    * replays the full scan SEQUENCE (DC first → AC first per component →
    * refinements) for just its blocks, with coefficient state held in a
    * small per-segment buffer (restartInterval MCUs × 3 components) that
    * is REUSED across segments — never a whole-image coefficient plane.
    * Entropy state at a segment start is exactly the restart-reset state
    * (fresh DC predictors, flushed EOB runs), so the result is
    * byte-identical to the sequential [[parseColor]]. */
  def decodeColorProgressiveSegments(blob: Array[Byte], bucket: Int,
      stride: Int): (Long, Long, Long, Long, Int, String) = {
    require(stride > 0 && bucket >= 0 && bucket < stride,
      "bucket must be in [0, stride)")
    val plan = walkProgressiveSegments(blob)
    val ri = plan.restartInterval
    val nSeg = plan.scans.head.segStarts.length
    val nMcuX = (plan.width + 7) / 8
    // reusable segment-local coefficient buffers + IDCT holders
    val segBlocks = Array.fill(3)(Array.fill(ri)(new Array[Int](64)))
    val holders = Array.tabulate(3)(_ => new ScanComp(1, 1, null, null, null))
    val acc = new ColorAcc
    val coef = new Array[Int](64)
    var s = bucket
    while (s < nSeg) {
      val mcuStart = s * ri
      val cnt = math.min(ri, plan.nMcu - mcuStart)
      var c = 0
      while (c < 3) {
        var i = 0
        while (i < cnt) {
          java.util.Arrays.fill(segBlocks(c)(i), 0); i += 1
        }
        c += 1
      }
      plan.scans.foreach { scan =>
        val br = new BitReader(blob, scan.segStarts(s))
        if (scan.scanComps.length > 1)
          decodeProgDcSegment(br, scan, segBlocks, cnt)
        else {
          val ci = scan.scanComps(0)
          decodeProgScan(br, cnt, i => segBlocks(ci)(i), scan.dcTs(0),
            scan.acT, scan.ss, scan.se, scan.ah, scan.al,
            restartInterval = 0)
        }
      }
      var i = 0
      while (i < cnt) {
        c = 0
        while (c < 3) {
          var k = 0
          while (k < 64) {
            coef(Zigzag(k)) = segBlocks(c)(i)(k) * plan.qs(c)(k); k += 1
          }
          holders(c).blocks(0) = idct(coef)
          c += 1
        }
        val mcuIdx = mcuStart + i
        accumulateMcu(holders, mcuIdx % nMcuX, mcuIdx / nMcuX,
          plan.width, plan.height, acc)
        i += 1
      }
      s += stride
    }
    (acc.nPx, acc.sumR, acc.sumG, acc.sumB, acc.mx, acc.topLeftHex)
  }

  /** Decode this task's stride of restart segments (segIdx ≡ `bucket`
    * mod `stride`) into PARTIAL channel statistics — (nPx, sumR, sumG,
    * sumB, maxPx, topLeftHex-or-null). Partials from different buckets
    * merge by sum/max (topLeftHex is non-null only in the bucket that
    * owns MCU 0), so a distributed decoder can fan ONE image's scan
    * across tasks and aggregate — byte-identical to the sequential
    * [[parseColor]] by construction (same per-segment decode). */
  def decodeColorSegments(blob: Array[Byte], bucket: Int, stride: Int):
      (Long, Long, Long, Long, Int, String) = {
    require(stride > 0 && bucket >= 0 && bucket < stride,
      "bucket must be in [0, stride)")
    val p = walkHeaders(blob)
    require(p.nComp == 3, "segment decode supports color streams only")
    val starts = segmentStarts(blob, p)
    val ri = if (p.restartInterval <= 0) p.nMcu else p.restartInterval
    val comps = p.comps
    val acc = new ColorAcc
    var s = bucket
    while (s < starts.length) {
      val mcuStart = s * ri
      decodeMcuRange(blob, starts(s), p.width, p.height, comps,
        mcuStart, math.min(ri, p.nMcu - mcuStart), acc)
      s += stride
    }
    (acc.nPx, acc.sumR, acc.sumG, acc.sumB, acc.mx, acc.topLeftHex)
  }
}
