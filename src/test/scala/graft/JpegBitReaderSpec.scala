package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

/** Pins the r14 accumulator BitReader + 8-bit lookahead-LUT Huffman
  * decode to the per-bit reader + canonical walk they replaced: same
  * values, same byte positions after every operation, and the same
  * exception (message included) at every truncation / marker / restart
  * defect. The reference implementations below are verbatim copies of
  * the pre-r14 code. */
class JpegBitReaderSpec extends AnyFunSuite {

  /** Reference: the pre-r14 per-bit entropy reader (verbatim). */
  private final class RefReader(blob: Array[Byte], start: Int) {
    private var pos = start
    private var acc = 0
    private var nBits = 0
    def readBit(): Int = {
      if (nBits == 0) {
        require(pos < blob.length, "scan truncated")
        var b = blob(pos) & 0xff; pos += 1
        if (b == 0xff) {
          require(pos < blob.length, "scan truncated at FF")
          val m = blob(pos) & 0xff
          if (m == 0x00) pos += 1
          else throw new IllegalArgumentException(
            f"marker FF$m%02X inside entropy scan (truncated stream?)")
        }
        acc = b; nBits = 8
      }
      nBits -= 1
      (acc >>> nBits) & 1
    }
    def readBits(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    def expectRestart(n: Int): Unit = {
      nBits = 0
      require(pos + 1 < blob.length, "scan truncated at restart boundary")
      val m = ((blob(pos) & 0xff) << 8) | (blob(pos + 1) & 0xff)
      require(m == 0xffd0 + n,
        f"expected restart marker RST$n (FF${0xd0 + n}%02X) " +
          f"at $pos, found $m%04X")
      pos += 2
    }
    def bytePos: Int = pos
  }

  private def outcome[A](body: => A): Either[String, A] =
    try Right(body) catch {
      case e: IllegalArgumentException => Left(e.getMessage)
    }

  test("accumulator reader ≡ per-bit reader: values, bytePos, exceptions") {
    val rnd = new scala.util.Random(20260818)
    for (trial <- 0 until 500) {
      // random stream: raw bytes (accidental FFs welcome — both readers
      // must agree on the resulting stuff/marker/truncation), explicit
      // FF00 stuffs, and explicit markers
      val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
      val len = 1 + rnd.nextInt(40)
      while (buf.size < len) {
        rnd.nextInt(10) match {
          case 0 => buf += 0xff.toByte; buf += 0x00.toByte
          case 1 => buf += 0xff.toByte // next loop byte decides its fate
          case 2 => buf += 0xff.toByte
            buf += (0xd0 + rnd.nextInt(8)).toByte // a marker mid-stream
          case _ => buf += rnd.nextInt(256).toByte
        }
      }
      val blob = buf.toArray
      val a = new Jpeg.BitReader(blob, 0)
      val b = new RefReader(blob, 0)
      var done = false
      var step = 0
      while (!done && step < 200) {
        val (ra, rb) =
          if (rnd.nextInt(10) < 7) (outcome(a.readBit()), outcome(b.readBit()))
          else {
            val n = 1 + rnd.nextInt(14)
            (outcome(a.readBits(n)), outcome(b.readBits(n)))
          }
        assert(ra == rb, s"trial $trial step $step: $ra vs $rb")
        if (ra.isLeft) done = true
        else assert(a.bytePos == b.bytePos,
          s"trial $trial step $step: bytePos ${a.bytePos} vs ${b.bytePos}")
        step += 1
      }
    }
  }

  test("expectRestart: pads discarded, marker validated at the consumed position") {
    // 2 data bytes, RST0, 2 data bytes: consume 3 bits (mid-byte-0 — the
    // new reader has prefetched well past), restart must fail on the
    // SAME position/message as the per-bit reader; then a conforming
    // consume-to-pad + restart must succeed identically
    val blob = Array[Byte](0x5a, 0x33, 0xff.toByte, 0xd0.toByte, 0x77, 0x21)
    locally {
      val a = new Jpeg.BitReader(blob, 0)
      val b = new RefReader(blob, 0)
      a.readBits(3); b.readBits(3)
      val (ra, rb) = (outcome(a.expectRestart(0)), outcome(b.expectRestart(0)))
      assert(ra == rb && ra.isLeft) // found 0x33FF at pos 1, not a marker
    }
    locally {
      val a = new Jpeg.BitReader(blob, 0)
      val b = new RefReader(blob, 0)
      a.readBits(11); b.readBits(11) // 5 pad bits left in byte 1
      assert(outcome(a.expectRestart(0)) == outcome(b.expectRestart(0)))
      // entropy stream resumes identically after the marker
      assert(a.readBits(14) == b.readBits(14))
      assert(a.bytePos == b.bytePos)
    }
    locally { // wrong cycle index
      val a = new Jpeg.BitReader(blob, 0)
      val b = new RefReader(blob, 0)
      a.readBits(16); b.readBits(16)
      val (ra, rb) = (outcome(a.expectRestart(3)), outcome(b.expectRestart(3)))
      assert(ra == rb && ra.isLeft && ra.swap.exists(_.contains("RST3")))
    }
  }

  test("bytePos backs stuffed FF bytes out at 2 stream bytes each") {
    // 0x41, FF00 (stuffed FF), 0x42: consume 4 bits — the accumulator
    // holds 2 whole unconsumed bytes (FF, 42) worth 3 stream bytes
    val blob = Array[Byte](0x41, 0xff.toByte, 0x00, 0x42)
    val a = new Jpeg.BitReader(blob, 0)
    val b = new RefReader(blob, 0)
    for (k <- 1 to 24) {
      assert(a.readBit() == b.readBit(), s"bit $k")
      assert(a.bytePos == b.bytePos, s"bytePos after bit $k")
    }
  }

  test("a corrupt DHT fails at table construction with a deliberate message") {
    def fails(bits: Array[Int], vals: Array[Byte]): String =
      intercept[IllegalArgumentException](new Jpeg.HuffTable(bits, vals)).getMessage
    // truncated values: 3 codes declared, the segment ended after 2 values
    val three = Array(0, 3) ++ Array.fill(14)(0)
    assert(fails(three, Array[Byte](1, 2)).contains("only 2 symbol values"))
    // Kraft-infeasible counts: three 1-bit codes do not fit in 2 codes
    val over = Array(3) ++ Array.fill(15)(0)
    assert(fails(over, Array[Byte](1, 2, 3)).contains("exceed the code space"))
    // the same overflow past the 8-bit lookahead: one code at each length
    // 1-8 leaves room for two 9-bit codes, not three
    val deep = Array.fill(8)(1) ++ Array(3) ++ Array.fill(7)(0)
    assert(fails(deep, new Array[Byte](11)).contains("3 codes of length 9"))
    // a full (Kraft-tight) code is still accepted
    new Jpeg.HuffTable(Array(2) ++ Array.fill(15)(0), Array[Byte](1, 2))
  }

  test("lookahead LUT ≡ canonical walk on random deep tables") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 300) {
      // random canonical code: greedy Kraft-feasible counts per length,
      // biased to leave some symbols at depth > 8 so the walk fallback
      // is exercised alongside the LUT
      val bits = new Array[Int](16)
      var avail = 2
      var symbols = 1 + rnd.nextInt(40)
      var l = 0
      while (l < 16 && symbols > 0) {
        val take =
          if (l == 15) math.min(avail, symbols)
          else rnd.nextInt(1 + math.min(math.min(avail, symbols),
            if (rnd.nextBoolean()) 2 else avail))
        // never exhaust `avail` before all symbols are placed
        val cap = if (symbols - take > 0 && (avail - take) == 0) take - 1 else take
        val t = math.max(0, cap)
        bits(l) = t; symbols -= t; avail = (avail - t) * 2
        l += 1
      }
      val nSym = bits.sum
      if (nSym > 0) {
        val vals = Array.tabulate(nSym)(i => ((i * 37 + trial) & 0xff).toByte)
        // canonical (code, len) per symbol index — same assignment rule
        val codes = new Array[(Int, Int)](nSym)
        var code = 0; var vi = 0
        for (len <- 1 to 16) {
          for (_ <- 0 until bits(len - 1)) {
            codes(vi) = (code, len); code += 1; vi += 1
          }
          code <<= 1
        }
        // encode a random symbol sequence with FF00 stuffing
        val seq = Array.fill(50 + rnd.nextInt(100))(rnd.nextInt(nSym))
        val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
        var acc = 0L; var nb = 0
        def flush(): Unit = while (nb >= 8) {
          nb -= 8
          val b = ((acc >>> nb) & 0xff).toInt
          out += b.toByte
          if (b == 0xff) out += 0x00.toByte
        }
        seq.foreach { s =>
          val (c, len) = codes(s)
          acc = (acc << len) | c; nb += len; flush()
        }
        if (nb > 0) { acc = (acc << (8 - nb)) | ((1 << (8 - nb)) - 1); nb = 8; flush() }
        out += 0xff.toByte; out += 0xd9.toByte // EOI backstop
        val blob = out.toArray
        val ht = new Jpeg.HuffTable(bits, vals)
        val br = new Jpeg.BitReader(blob, 0)
        seq.zipWithIndex.foreach { case (s, i) =>
          assert(ht.decode(br) == (vals(s) & 0xff),
            s"trial $trial symbol $i (len ${codes(s)._2})")
        }
      }
    }
  }
}
