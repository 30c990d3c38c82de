package graft.multimodal

/** Pure-JVM FLAC codec — the decode seam's lossless-audio format and its
  * second COMPRESSED audio codec (after IMA ADPCM): a real bitstream
  * with the full frame machinery of RFC 9639 — fLaC magic, STREAMINFO,
  * frame headers with UTF-8-coded frame numbers and CRC-8, subframes
  * (CONSTANT, VERBATIM, FIXED orders 0–4, LPC with coefficient
  * precision/shift), partitioned Rice-coded residuals with escape
  * codes, bit padding, and CRC-16 over every frame. Mono 16-bit
  * streams; anything else throws by name rather than faking a decode.
  *
  * The fixture encoder (the usual exact-oracle trick, like JPEG's
  * DC-only blocks): decoded sample i is EXACTLY `payload(i) - 128`, but
  * the wire format cycles through VERBATIM / FIXED(1) / FIXED(2) /
  * LPC(2) subframes across frames, so reproducing the bytes requires
  * real Rice decoding, real inverse prediction (the encoder stores
  * residuals against each predictor), real CRC verification, and the
  * real frame walk. Reference cited for scope: the engine's decode seam
  * (SURVEY.md multimodal section); no FLAC exists in the reference —
  * this is beyond-reference realism for crawl audio. */
object Flac {

  val Magic: Array[Byte] = "fLaC".getBytes("US-ASCII")

  /** Exact integer statistics over the decoded samples — the same shape
    * as [[Multimodal.WavInfo]]'s payload stats. */
  final case class FlacInfo(
      sampleRate: Int, channels: Int, bitsPerSample: Int,
      nFrames: Int, nSamples: Long, sumSamples: Long, sumSquares: Long,
      maxAbs: Long)

  // ---- CRCs (RFC 9639 §9.1.1 / §9.2) ----------------------------------

  /** CRC-8, polynomial x^8 + x^2 + x + 1 (0x07), init 0. */
  private[multimodal] def crc8(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= bytes(i) & 0xff
      var b = 0
      while (b < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff else (crc << 1) & 0xff
        b += 1
      }
      i += 1
    }
    crc
  }

  /** CRC-16, polynomial x^16 + x^15 + x^2 + 1 (0x8005), init 0. */
  private[multimodal] def crc16(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (bytes(i) & 0xff) << 8
      var b = 0
      while (b < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff
              else (crc << 1) & 0xffff
        b += 1
      }
      i += 1
    }
    crc
  }

  // ---- bit IO (MSB-first, like the spec) ------------------------------

  /** MSB-first bit sink. Bits accumulate in a Long (≤ 8 pending + ≤ 32
    * per chunk) and flush whole bytes into a raw growing array — the
    * previous bit-at-a-time loop into a (synchronized)
    * ByteArrayOutputStream dominated the fixture-encode profile; Rice
    * unary runs made it quadratic-feeling per residual. Byte output is
    * bit-identical. */
  private final class BitWriter {
    private var buf = new Array[Byte](1 << 12)
    private var n = 0
    private var acc = 0L
    private var nBits = 0
    private def ensure(k: Int): Unit =
      if (n + k > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length << 1, n + k))
    private def put(v: Long, bits: Int): Unit = { // bits <= 32
      if (bits > 0) {
        acc = (acc << bits) | (v & ((1L << bits) - 1))
        nBits += bits
        while (nBits >= 8) {
          nBits -= 8
          ensure(1)
          buf(n) = ((acc >>> nBits) & 0xff).toByte; n += 1
        }
        acc &= (1L << nBits) - 1
      }
    }
    def write(v: Long, bits: Int): Unit =
      if (bits > 32) { put(v >>> 32, bits - 32); put(v, 32) }
      else put(v, bits)
    def writeUnary(n: Int): Unit = {
      var left = n // n zero bits in <=32-bit chunks, then the closing 1
      while (left > 32) { put(0L, 32); left -= 32 }
      put(0L, left)
      put(1L, 1)
    }
    /** Pad the current byte with zero bits (frame epilogue). */
    def align(): Unit = if (nBits > 0) put(0L, 8 - nBits)
    def toBytes: Array[Byte] = { align(); java.util.Arrays.copyOf(buf, n) }
  }

  /** Accumulator bit reader: the old per-bit reader paid a bounds check,
    * two shifts and a conditional byte advance PER BIT — and Rice unary
    * runs one full iteration per zero bit. A 64-bit accumulator makes
    * multi-bit reads O(1) and unary runs one numberOfLeadingZeros per
    * ≤64-bit chunk. Semantics are pinned identical to the per-bit
    * reader ([[FlacBitReaderSpec]]): same bits in the same order, the
    * same "FLAC stream truncated" require as soon as a CONSUMED bit
    * would pass the blob end (prefetch never throws), the same runaway-
    * unary bound, and [[bytePos]]/[[align]] reconstructed from the
    * consumed-bit invariant (loaded − buffered ≡ consumed, loads are
    * whole bytes, so the buffered count mod 8 IS the intra-byte
    * position). */
  private[multimodal] final class BitReader(blob: Array[Byte], start: Int) {
    private var pos = start // next unread stream byte
    private var acc = 0L // low `nAcc` bits are valid, newest at bit 0
    private var nAcc = 0
    private def fill(): Unit = {
      while (nAcc <= 56 && pos < blob.length) {
        acc = (acc << 8) | (blob(pos) & 0xffL)
        nAcc += 8; pos += 1
      }
    }
    def readBit(): Int = {
      if (nAcc == 0) { fill(); require(nAcc > 0, "FLAC stream truncated") }
      nAcc -= 1
      ((acc >>> nAcc) & 1L).toInt
    }
    def readBits(n: Int): Long = {
      // fill() guarantees 57 buffered bits; the mask below also breaks at 64
      require(n <= 57, s"readBits($n): at most 57 bits per read")
      if (n == 0) return 0L
      if (nAcc < n) {
        fill()
        if (nAcc < n) { // near end: bit-at-a-time for the exact throw point
          var v = 0L; var i = 0
          while (i < n) { v = (v << 1) | readBit(); i += 1 }
          return v
        }
      }
      nAcc -= n
      (acc >>> nAcc) & ((1L << n) - 1)
    }
    def readSigned(n: Int): Int = {
      val v = readBits(n)
      if ((v & (1L << (n - 1))) != 0) (v - (1L << n)).toInt else v.toInt
    }
    def readUnary(): Int = {
      var n = 0
      while (true) {
        if (nAcc == 0) { fill(); require(nAcc > 0, "FLAC stream truncated") }
        // MSB-justify the valid bits; bits above nAcc (already consumed)
        // shift out, bits below are zero — nlz ≥ nAcc means all zeros
        val lz = java.lang.Long.numberOfLeadingZeros(acc << (64 - nAcc))
        if (lz >= nAcc) {
          n += nAcc; nAcc = 0
          require(n <= (1 << 20), "runaway unary code (corrupt Rice stream)")
        } else {
          n += lz; nAcc -= lz + 1
          require(n <= (1 << 20), "runaway unary code (corrupt Rice stream)")
          return n
        }
      }
      -1 // unreachable
    }
    /** Discard bits to the next byte boundary of the CONSUMED stream.
      * loaded ≡ 0 (mod 8) and consumed = loaded − nAcc, so the partial
      * byte's remaining bits are exactly nAcc mod 8. */
    def align(): Unit = nAcc -= (nAcc & 7)
    def bytePos: Int = {
      require((nAcc & 7) == 0, "unaligned")
      pos - (nAcc >>> 3)
    }
  }

  // ---- Rice residual coding (RFC 9639 §9.2.7) -------------------------

  private def zigzag(v: Int): Long = if (v >= 0) 2L * v else -2L * v - 1L
  private def unzigzag(u: Long): Int =
    if ((u & 1L) == 0) (u >>> 1).toInt else (-((u + 1L) >>> 1)).toInt

  /** Write `res` (the block's residuals after `predOrder` warmups) as a
    * partitioned Rice section: partitions divide the BLOCK (the first is
    * short by the predictor order — §9.2.7). `escapeRaw` != 0 forces the
    * escape code (per-partition minimal raw width) in every partition —
    * the fixture knob that exercises the decoder's escape path for
    * real. */
  private def writeRice(bw: BitWriter, res: Array[Int], blockSize: Int,
                        predOrder: Int, partitionOrder: Int = 0,
                        escapeRaw: Int = 0): Unit = {
    val nParts = 1 << partitionOrder
    require(blockSize % nParts == 0 && blockSize / nParts > predOrder,
      "invalid fixture partition order")
    bw.write(0L, 2) // coding method 00: 4-bit Rice parameters
    bw.write(partitionOrder.toLong, 4)
    var part = 0
    var idx = 0
    while (part < nParts) {
      val cnt = blockSize / nParts - (if (part == 0) predOrder else 0)
      if (escapeRaw != 0) {
        // per-partition raw width: the smallest signed width holding
        // every residual of THIS partition
        var raw = 1
        var i = 0
        while (i < cnt) {
          val v = res(idx + i)
          val m = if (v >= 0) v.toLong else -(v.toLong + 1)
          val b = 65 - java.lang.Long.numberOfLeadingZeros(m).toInt
          if (b > raw) raw = b
          i += 1
        }
        bw.write(15L, 4) // escape
        bw.write(raw.toLong, 5)
        i = 0
        while (i < cnt) {
          bw.write(res(idx).toLong & ((1L << raw) - 1), raw)
          idx += 1; i += 1
        }
      } else {
        // smallest parameter that keeps this partition's quotients sane
        var mean = 0L
        var i = 0
        while (i < cnt) { mean += zigzag(res(idx + i)); i += 1 }
        mean /= math.max(1, cnt)
        var p = 0
        while ((1L << p) < mean + 1 && p < 14) p += 1
        bw.write(p.toLong, 4)
        i = 0
        while (i < cnt) {
          val u = zigzag(res(idx))
          bw.writeUnary((u >>> p).toInt)
          if (p > 0) bw.write(u & ((1L << p) - 1), p)
          idx += 1; i += 1
        }
      }
      part += 1
    }
  }

  /** Read a partitioned Rice residual section into `out(predOrder..)` —
    * partitions divide the BLOCK: partition 0 carries blockSize/2^po −
    * predOrder residuals, the rest blockSize/2^po (§9.2.7). */
  private def readRice(br: BitReader, blockSize: Int, predOrder: Int,
                       out: Array[Int]): Unit = {
    val method = br.readBits(2).toInt
    require(method == 0 || method == 1,
      s"reserved residual coding method $method")
    val pBits = if (method == 0) 4 else 5
    val escape = (1 << pBits) - 1
    val partOrder = br.readBits(4).toInt
    val nParts = 1 << partOrder
    require(blockSize % nParts == 0 && blockSize / nParts > predOrder,
      s"partition order $partOrder incompatible with block size $blockSize")
    var part = 0
    var idx = predOrder
    while (part < nParts) {
      val cnt = blockSize / nParts - (if (part == 0) predOrder else 0)
      val p = br.readBits(pBits).toInt
      if (p == escape) {
        val raw = br.readBits(5).toInt
        var i = 0
        while (i < cnt) { out(idx) = br.readSigned(raw); idx += 1; i += 1 }
      } else {
        var i = 0
        while (i < cnt) {
          val q = br.readUnary()
          val u = (q.toLong << p) | (if (p > 0) br.readBits(p) else 0L)
          out(idx) = unzigzag(u)
          idx += 1; i += 1
        }
      }
      part += 1
    }
  }

  // ---- UTF-8-style frame number (RFC 9639 §9.1.5) ---------------------

  private def writeFrameNumber(bw: BitWriter, n: Long): Unit = {
    if (n < 0x80) bw.write(n, 8)
    else if (n < 0x800) {
      bw.write(0xc0L | (n >>> 6), 8)
      bw.write(0x80L | (n & 0x3f), 8)
    } else {
      require(n < 0x10000, "fixture frame numbers stay under 2^16")
      bw.write(0xe0L | (n >>> 12), 8)
      bw.write(0x80L | ((n >>> 6) & 0x3f), 8)
      bw.write(0x80L | (n & 0x3f), 8)
    }
  }

  private def readFrameNumber(br: BitReader): Long = {
    val b0 = br.readBits(8).toInt
    if ((b0 & 0x80) == 0) b0.toLong
    else {
      var ones = 0
      while (ones < 8 && ((b0 << ones) & 0x80) != 0) ones += 1
      require(ones >= 2 && ones <= 7, f"bad UTF-8 frame number lead $b0%02X")
      var v = (b0 & (0x7f >> ones)).toLong
      var i = 1
      while (i < ones) {
        val c = br.readBits(8).toInt
        require((c & 0xc0) == 0x80, "bad UTF-8 continuation in frame number")
        v = (v << 6) | (c & 0x3f)
        i += 1
      }
      v
    }
  }

  // ---- encoder (fixture side) -----------------------------------------

  /** Encode `samples` (each in [-32768, 32767]) as a REAL mono 16-bit
    * FLAC stream: STREAMINFO + frames of `blockSize` samples, frame f's
    * subframe type cycling VERBATIM → FIXED(1) → FIXED(2) → LPC(2,
    * coeffs [2, -1], shift 0), so every decoder path reconstructs the
    * same samples from genuinely different wire forms. */
  def encode(samples: Array[Int], sampleRate: Int = 8000,
             blockSize: Int = 64): Array[Byte] = {
    require(blockSize >= 8 && blockSize <= 256, "fixture block size 8..256")
    val out = new java.io.ByteArrayOutputStream()
    out.write(Magic)
    // STREAMINFO: last-metadata-block flag set, type 0, length 34
    val si = new BitWriter
    si.write(blockSize.toLong, 16) // min block size
    si.write(blockSize.toLong, 16) // max block size
    si.write(0L, 24); si.write(0L, 24) // min/max frame size unknown
    si.write(sampleRate.toLong, 20)
    si.write(0L, 3)  // channels - 1 (mono)
    si.write(15L, 5) // bits per sample - 1 (16)
    si.write(samples.length.toLong, 36)
    val siBytes = si.toBytes ++ new Array[Byte](16) // zero MD5 (unverified)
    out.write(0x80) // last block + type 0
    out.write(Array[Byte](0, 0, 34.toByte))
    out.write(siBytes)

    var frame = 0
    var off = 0
    while (off < samples.length) {
      val n = math.min(blockSize, samples.length - off)
      val s = java.util.Arrays.copyOfRange(samples, off, off + n)
      out.write(encodeFrame(s, frame.toLong, n))
      frame += 1
      off += n
    }
    out.toByteArray
  }

  private def encodeFrame(s: Array[Int], frameNo: Long, n: Int): Array[Byte] = {
    // tiny trailing frames (< 3 samples) can't carry an order-2
    // predictor; they go VERBATIM regardless of the cycle position
    val kind = if (n < 3) 0 else (frameNo % 4).toInt
    val bw = new BitWriter
    bw.write(0x3ffe, 14)  // sync
    bw.write(0L, 1)       // reserved
    bw.write(0L, 1)       // fixed-blocksize stream
    bw.write(6L, 4)       // block size: 8-bit (blocksize - 1) at header end
    bw.write(0L, 4)       // sample rate: from STREAMINFO
    bw.write(0L, 4)       // channel assignment: mono
    bw.write(4L, 3)       // sample size: 16 bit
    bw.write(0L, 1)       // reserved
    writeFrameNumber(bw, frameNo)
    bw.write((n - 1).toLong, 8)
    val headerBytes = bw.toBytes // byte-aligned here by construction
    val withCrc8 = headerBytes :+ crc8(headerBytes, 0, headerBytes.length).toByte

    val body = new BitWriter
    kind match {
      case 0 => // VERBATIM
        body.write(0L, 1); body.write(1L, 6); body.write(0L, 1)
        s.foreach(v => body.write((v.toLong & 0xffffL), 16))
      case 1 => // FIXED order 1, TWO Rice partitions when the size allows
        body.write(0L, 1); body.write(8L | 1L, 6); body.write(0L, 1)
        body.write(s(0).toLong & 0xffffL, 16)
        writeRice(body, Array.tabulate(n - 1)(i => s(i + 1) - s(i)),
          blockSize = n, predOrder = 1,
          partitionOrder = if (n % 2 == 0 && n / 2 > 1) 1 else 0)
      case 2 => // FIXED order 2, escape-coded residuals
        body.write(0L, 1); body.write(8L | 2L, 6); body.write(0L, 1)
        body.write(s(0).toLong & 0xffffL, 16)
        body.write(s(1).toLong & 0xffffL, 16)
        writeRice(body,
          Array.tabulate(n - 2)(i => s(i + 2) - 2 * s(i + 1) + s(i)),
          blockSize = n, predOrder = 2, escapeRaw = 1)
      case _ => // LPC order 2, coeffs [2, -1], shift 0, precision 3
        body.write(0L, 1); body.write(32L | (2L - 1L), 6); body.write(0L, 1)
        body.write(s(0).toLong & 0xffffL, 16)
        body.write(s(1).toLong & 0xffffL, 16)
        body.write(2L, 4)           // precision - 1 = 2 (3-bit coeffs)
        body.write(0L, 5)           // shift
        body.write(2L & 0x7L, 3)    // coeff for s[i-1]
        body.write((-1L) & 0x7L, 3) // coeff for s[i-2]
        writeRice(body,
          Array.tabulate(n - 2)(i => s(i + 2) - (2 * s(i + 1) - s(i))),
          blockSize = n, predOrder = 2)
    }
    val bodyBytes = body.toBytes // align() pads the epilogue zeros
    val frameBytes = withCrc8 ++ bodyBytes
    val c16 = crc16(frameBytes, 0, frameBytes.length)
    frameBytes ++ Array(((c16 >> 8) & 0xff).toByte, (c16 & 0xff).toByte)
  }

  // ---- decoder ---------------------------------------------------------

  def parse(blob: Array[Byte]): FlacInfo = {
    require(blob.length >= 4 + 4 + 34, "not a FLAC stream: too short")
    require(Magic.indices.forall(i => blob(i) == Magic(i)),
      "not a FLAC stream: bad magic")
    // metadata blocks: STREAMINFO first (spec), others skipped by size
    var pos = 4
    var last = false
    var sampleRate = -1; var channels = -1; var bits = -1
    var totalSamples = -1L
    var first = true
    while (!last) {
      require(pos + 4 <= blob.length, "truncated metadata header")
      val h = blob(pos) & 0xff
      last = (h & 0x80) != 0
      val typ = h & 0x7f
      val len = ((blob(pos + 1) & 0xff) << 16) | ((blob(pos + 2) & 0xff) << 8) |
        (blob(pos + 3) & 0xff)
      require(pos + 4 + len <= blob.length, "metadata block overruns blob")
      if (first) {
        require(typ == 0, "first metadata block must be STREAMINFO")
        require(len == 34, "STREAMINFO must be 34 bytes")
        val br = new BitReader(blob, pos + 4)
        br.readBits(16); br.readBits(16) // min/max block size
        br.readBits(24); br.readBits(24) // min/max frame size
        sampleRate = br.readBits(20).toInt
        channels = br.readBits(3).toInt + 1
        bits = br.readBits(5).toInt + 1
        totalSamples = br.readBits(36)
        require(channels == 1, "only mono FLAC supported")
        require(bits == 16, s"only 16-bit FLAC supported, got $bits")
        first = false
      }
      pos += 4 + len
    }
    require(!first, "missing STREAMINFO")

    var n = 0L; var sum = 0L; var sq = 0L; var mx = 0L
    var nFrames = 0
    var expectedFrame = 0L
    while (n < totalSamples) {
      require(pos < blob.length, "stream ends before the declared samples")
      val frameStart = pos
      val br = new BitReader(blob, pos)
      require(br.readBits(14) == 0x3ffe, f"bad frame sync at $pos")
      require(br.readBit() == 0, "reserved frame-header bit set")
      val variable = br.readBit() == 1
      require(!variable, "variable-blocksize streams not supported")
      val bsCode = br.readBits(4).toInt
      val srCode = br.readBits(4).toInt
      val chan = br.readBits(4).toInt
      val ssCode = br.readBits(3).toInt
      require(br.readBit() == 0, "reserved frame-header bit set")
      require(chan == 0, "only mono frames supported")
      require(ssCode == 4, "only 16-bit frames supported")
      require(srCode == 0, "frame sample rate must come from STREAMINFO")
      val frameNo = readFrameNumber(br)
      require(frameNo == expectedFrame,
        s"frame number $frameNo, expected $expectedFrame")
      val blockSize = bsCode match {
        case 1 => 192
        case c if c >= 2 && c <= 5 => 576 << (c - 2)
        case 6 => br.readBits(8).toInt + 1
        case 7 => br.readBits(16).toInt + 1
        case c if c >= 8 => 256 << (c - 8)
        case c => throw new IllegalArgumentException(s"reserved block size code $c")
      }
      br.align()
      val headerEnd = br.bytePos
      require(crc8(blob, frameStart, headerEnd) == (blob(headerEnd) & 0xff),
        "frame header CRC-8 mismatch")
      val br2 = new BitReader(blob, headerEnd + 1)
      val samples = decodeSubframe(br2, blockSize)
      br2.align()
      val bodyEnd = br2.bytePos
      require(bodyEnd + 2 <= blob.length, "truncated frame CRC-16")
      val want = crc16(blob, frameStart, bodyEnd)
      val got = ((blob(bodyEnd) & 0xff) << 8) | (blob(bodyEnd + 1) & 0xff)
      require(want == got, f"frame CRC-16 mismatch ($got%04X vs $want%04X)")
      var i = 0
      while (i < samples.length) {
        val v = samples(i)
        n += 1; sum += v; sq += v.toLong * v
        val a = math.abs(v).toLong; if (a > mx) mx = a
        i += 1
      }
      nFrames += 1
      expectedFrame += 1
      pos = bodyEnd + 2
    }
    require(n == totalSamples,
      s"decoded $n samples, STREAMINFO declares $totalSamples")
    FlacInfo(sampleRate, channels, bits, nFrames, n, sum, sq, mx)
  }

  private def decodeSubframe(br: BitReader, n: Int): Array[Int] = {
    require(br.readBit() == 0, "reserved subframe-header bit set")
    val typ = br.readBits(6).toInt
    val wasted = br.readBit()
    require(wasted == 0, "wasted-bits subframes not supported")
    val out = new Array[Int](n)
    if (typ == 0) { // CONSTANT
      val v = br.readSigned(16)
      java.util.Arrays.fill(out, v)
    } else if (typ == 1) { // VERBATIM
      var i = 0
      while (i < n) { out(i) = br.readSigned(16); i += 1 }
    } else if ((typ & 0x38) == 0x08 && (typ & 0x07) <= 4) { // FIXED 0-4
      val order = typ & 0x07
      require(order < n, s"FIXED order $order exceeds block size $n")
      var i = 0
      while (i < order) { out(i) = br.readSigned(16); i += 1 }
      readRice(br, n, order, out)
      // inverse fixed prediction (orders 0-4, the spec's polynomials)
      i = order
      while (i < n) {
        val p = order match {
          case 0 => 0
          case 1 => out(i - 1)
          case 2 => 2 * out(i - 1) - out(i - 2)
          case 3 => 3 * out(i - 1) - 3 * out(i - 2) + out(i - 3)
          case _ => 4 * out(i - 1) - 6 * out(i - 2) + 4 * out(i - 3) - out(i - 4)
        }
        out(i) = out(i) + p
        i += 1
      }
    } else if ((typ & 0x20) != 0) { // LPC, order = (typ & 0x1f) + 1
      val order = (typ & 0x1f) + 1
      require(order < n, s"LPC order $order exceeds block size $n")
      var i = 0
      while (i < order) { out(i) = br.readSigned(16); i += 1 }
      val precision = br.readBits(4).toInt + 1
      require(precision <= 15, "reserved LPC precision")
      val shift = br.readSigned(5)
      require(shift >= 0, "negative LPC shift not supported")
      val coeffs = Array.fill(order)(br.readSigned(precision))
      readRice(br, n, order, out)
      i = order
      while (i < n) {
        var acc = 0L
        var j = 0
        while (j < order) { acc += coeffs(j).toLong * out(i - 1 - j); j += 1 }
        out(i) = out(i) + (acc >> shift).toInt
        i += 1
      }
    } else throw new IllegalArgumentException(
      f"reserved subframe type $typ%02X")
    out
  }
}
