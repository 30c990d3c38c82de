package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

/** Pins the r14 accumulator FLAC BitReader to the per-bit reader it
  * replaced: same values, same align()/bytePos behavior, the same
  * "FLAC stream truncated" at the same consumed bit, and the same
  * runaway-unary bound. The reference implementation is a verbatim copy
  * of the pre-r14 code. */
class FlacBitReaderSpec extends AnyFunSuite {

  private final class RefReader(blob: Array[Byte], start: Int) {
    private var pos = start
    private var bit = 0
    def readBit(): Int = {
      require(pos < blob.length, "FLAC stream truncated")
      val v = (blob(pos) >> (7 - bit)) & 1
      bit += 1
      if (bit == 8) { bit = 0; pos += 1 }
      v
    }
    def readBits(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    def readSigned(n: Int): Int = {
      val v = readBits(n)
      if ((v & (1L << (n - 1))) != 0) (v - (1L << n)).toInt else v.toInt
    }
    def readUnary(): Int = {
      var n = 0
      while (readBit() == 0) {
        n += 1
        require(n <= (1 << 20), "runaway unary code (corrupt Rice stream)")
      }
      n
    }
    def align(): Unit = if (bit != 0) { bit = 0; pos += 1 }
    def bytePos: Int = { require(bit == 0, "unaligned"); pos }
  }

  private def outcome[A](body: => A): Either[String, A] =
    try Right(body) catch {
      case e: IllegalArgumentException => Left(e.getMessage)
    }

  test("accumulator reader ≡ per-bit reader on random streams and op mixes") {
    val rnd = new scala.util.Random(20260818)
    for (trial <- 0 until 500) {
      val blob = Array.fill(1 + rnd.nextInt(40))(rnd.nextInt(256).toByte)
      // bias toward zero-heavy streams so readUnary crosses byte and
      // accumulator-chunk boundaries
      if (trial % 3 == 0) {
        var i = 0
        while (i < blob.length) {
          if (rnd.nextBoolean()) blob(i) = 0
          i += 1
        }
      }
      val start = rnd.nextInt(blob.length)
      val a = new Flac.BitReader(blob, start)
      val b = new RefReader(blob, start)
      var done = false
      var step = 0
      while (!done && step < 300) {
        val (ra, rb) = rnd.nextInt(10) match {
          case 0 | 1 | 2 => (outcome(a.readBit().toLong), outcome(b.readBit().toLong))
          case 3 | 4 | 5 =>
            val n = 1 + rnd.nextInt(36)
            (outcome(a.readBits(n)), outcome(b.readBits(n)))
          case 6 =>
            val n = 1 + rnd.nextInt(20)
            (outcome(a.readSigned(n).toLong), outcome(b.readSigned(n).toLong))
          case 7 | 8 => (outcome(a.readUnary().toLong), outcome(b.readUnary().toLong))
          case 9 =>
            a.align(); b.align()
            (outcome(a.bytePos.toLong), outcome(b.bytePos.toLong))
        }
        assert(ra == rb, s"trial $trial step $step: $ra vs $rb")
        if (ra.isLeft) done = true
        step += 1
      }
    }
  }

  test("unaligned bytePos fails identically") {
    val blob = Array[Byte](0x12, 0x34)
    val a = new Flac.BitReader(blob, 0)
    val b = new RefReader(blob, 0)
    a.readBits(3); b.readBits(3)
    assert(outcome(a.bytePos) == outcome(b.bytePos)) // both "unaligned"
    a.align(); b.align()
    assert(a.bytePos == b.bytePos) // 1 in both
  }

  test("runaway unary bound matches") {
    // > 2^20 zero bits then a terminator: both readers must throw the
    // runaway error, not decode or hit the end
    val blob = new Array[Byte]((1 << 17) + 8)
    blob(blob.length - 1) = 1
    val a = new Flac.BitReader(blob, 0)
    val b = new RefReader(blob, 0)
    assert(outcome(a.readUnary().toLong) == outcome(b.readUnary().toLong))
    // and a run that stays under the bound decodes equally
    val ok = new Array[Byte](1024)
    ok(1000) = 0x08 // first 1 bit at position 8004
    val a2 = new Flac.BitReader(ok, 0)
    val b2 = new RefReader(ok, 0)
    assert(a2.readUnary() == b2.readUnary())
    assert(a2.readBits(3) == b2.readBits(3))
  }

  test("readBits takes at most the 57 bits a refill guarantees") {
    val blob = Array.fill[Byte](16)(0x5a)
    val a = new Flac.BitReader(blob, 0)
    val b = new RefReader(blob, 0)
    assert(a.readBits(57) == b.readBits(57))
    intercept[IllegalArgumentException](new Flac.BitReader(blob, 0).readBits(58))
  }
}
