package graft.ext

/** Pure-JVM FLAC frame codec (the public FLAC format, RFC 9639) —
  * the content half of the FLAC seam: [[Multimodal.decodeFlac]] reads
  * STREAMINFO metadata only; this decodes the AUDIO FRAMES to PCM so
  * compressed FLAC feeds the same Goertzel spectral embedder
  * ([[Multimodal.embedWavSpectral]]'s kernel) WAV already does — no
  * codec library in the container, none needed: subframe decode is
  * integer arithmetic.
  *
  * Decoder coverage: all four subframe types (CONSTANT, VERBATIM,
  * FIXED orders 0-4, LPC orders 1-32), both Rice residual methods
  * (4- and 5-bit parameters, escape-to-raw partitions), wasted bits,
  * all four channel assignments (independent, left/side, right/side,
  * mid/side — side channels carry the spec's +1 bit), UTF-8-coded
  * frame numbers, and the three variable-field block-size/rate codes.
  * Frame-header CRC-8 is VERIFIED (a corrupt header returns None
  * rather than garbage PCM); the trailing frame CRC-16 is skipped —
  * the embedder tolerates payload noise the way every other decode
  * seam here does.
  *
  * The encoder exists for the planted-content oracle (the
  * [[Multimodal.sineWavFixture]] pattern): it writes REAL conformant
  * streams — correct CRC-8/CRC-16, Rice-coded residuals — with the
  * subframe type chosen by `mode`, so tests can drive every decoder
  * path with content whose spectrum is known from physics.
  *
  * Scale shape: both directions are single-pass O(samples) per blob
  * with O(blockSize) working state, running inside the same
  * per-partition row streaming as the other media decodes.
  */
object FlacCodec {

  /** Decoded stream: PCM as channel-major int arrays. */
  final case class Pcm(sampleRate: Int, channels: Int, bitsPerSample: Int,
                       samples: Array[Array[Int]])

  // ---------------------------------------------------------------
  // bit-level IO (MSB-first, the FLAC convention)

  private final class BitReader(val bytes: Array[Byte], startByte: Int) {
    private var pos = startByte
    private var bit = 0
    def bytePos: Int = pos
    def readBit(): Int = {
      if (pos >= bytes.length)
        throw new java.util.NoSuchElementException("flac: EOF")
      val b = (bytes(pos) >> (7 - bit)) & 1
      bit += 1
      if (bit == 8) { bit = 0; pos += 1 }
      b
    }
    def readBits(n: Int): Long = {
      var v = 0L; var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
    def readSigned(n: Int): Long = {
      if (n == 0) return 0L
      val v = readBits(n)
      if ((v & (1L << (n - 1))) != 0) v - (1L << n) else v
    }
    def readUnary(): Int = {
      var q = 0
      while (readBit() == 0) q += 1
      q
    }
    def align(): Unit = if (bit != 0) { bit = 0; pos += 1 }
    def skipBytes(n: Int): Unit = { require(bit == 0); pos += n }
  }

  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var bit = 0
    def writeBit(b: Int): Unit = {
      cur = (cur << 1) | (b & 1)
      bit += 1
      if (bit == 8) { out.write(cur); cur = 0; bit = 0 }
    }
    def writeBits(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { writeBit(((v >> i) & 1L).toInt); i -= 1 }
    }
    def writeUnary(q: Int): Unit = {
      var i = 0
      while (i < q) { writeBit(0); i += 1 }
      writeBit(1)
    }
    def align(): Unit = while (bit != 0) writeBit(0)
    def size: Int = { require(bit == 0); out.size() }
    def toBytes: Array[Byte] = { require(bit == 0); out.toByteArray }
  }

  // ---------------------------------------------------------------
  // CRCs (FLAC spec: CRC-8 poly 0x07 over the frame header, CRC-16
  // poly 0x8005 over the whole frame, both init 0)

  private def crc8(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0; var i = from
    while (i < until) {
      crc ^= bytes(i) & 0xff
      var b = 0
      while (b < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff
        else (crc << 1) & 0xff
        b += 1
      }
      i += 1
    }
    crc
  }

  private def crc16(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0; var i = from
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

  // ---------------------------------------------------------------
  // the extended-UTF-8 coded number (frame/sample number)

  private def readCodedNumber(r: BitReader): Long = {
    val b0 = r.readBits(8).toInt
    if ((b0 & 0x80) == 0) return b0.toLong
    var lead = 0
    var m = 0x80
    while (lead < 8 && (b0 & m) != 0) { lead += 1; m >>= 1 }
    require(lead >= 2 && lead <= 7, "flac: bad coded-number lead byte")
    var v = (b0 & (0xff >> (lead + 1))).toLong
    var i = 1
    while (i < lead) {
      val c = r.readBits(8).toInt
      require((c & 0xc0) == 0x80, "flac: bad coded-number continuation")
      v = (v << 6) | (c & 0x3f)
      i += 1
    }
    v
  }

  private def writeCodedNumber(w: BitWriter, n: Long): Unit = {
    require(n >= 0)
    if (n < 0x80) { w.writeBits(n, 8); return }
    // bytes needed: lead carries 7-lead payload bits, each cont. 6
    var lead = 2
    while (lead <= 7 && n >= (1L << (6 * (lead - 1) + (7 - lead)))) lead += 1
    require(lead <= 7, "flac: coded number out of range")
    val headBits = 7 - lead
    w.writeBits((0xff << (8 - lead)) & 0xff | ((n >> (6 * (lead - 1))) &
      ((1L << headBits) - 1)), 8)
    var i = lead - 2
    while (i >= 0) {
      w.writeBits(0x80L | ((n >> (6 * i)) & 0x3f), 8)
      i -= 1
    }
  }

  // ---------------------------------------------------------------
  // tables

  private val RateTable = Array(0, 88200, 176400, 192000, 8000, 16000,
    22050, 24000, 32000, 44100, 48000, 96000)

  private def sampleSizeOf(code: Int, streamBps: Int): Int = code match {
    case 0 => streamBps
    case 1 => 8
    case 2 => 12
    case 4 => 16
    case 5 => 20
    case 6 => 24
    case 7 => 32
    case _ => -1
  }

  // ---------------------------------------------------------------
  // decode

  /** Decode a whole FLAC stream (STREAMINFO + frames) to PCM. None
    * for non-FLAC bytes, a corrupt header CRC, or any malformed
    * structure — the caller falls through its dispatch chain.
    */
  def decodePcm(bytes: Array[Byte]): Option[Pcm] = {
    if (bytes == null || bytes.length < 42) return None
    if (bytes(0) != 'f' || bytes(1) != 'L' || bytes(2) != 'a' ||
      bytes(3) != 'C') return None
    try {
      // metadata walk to STREAMINFO + the first frame offset
      var off = 4
      var rate = 0; var channels = 0; var bps = 0; var total = 0L
      var seen = false
      var last = false
      while (!last) {
        if (off + 4 > bytes.length) return None
        val h = bytes(off) & 0xff
        last = (h & 0x80) != 0
        val len = ((bytes(off + 1) & 0xff) << 16) |
          ((bytes(off + 2) & 0xff) << 8) | (bytes(off + 3) & 0xff)
        val body = off + 4
        if ((h & 0x7f) == 0) {
          if (len < 34 || body + 34 > bytes.length) return None
          def b(i: Int): Long = bytes(body + i) & 0xffL
          rate = ((b(10) << 12) | (b(11) << 4) | (b(12) >> 4)).toInt
          channels = (((b(12) >> 1) & 0x7L) + 1L).toInt
          bps = ((((b(12) & 1L) << 4) | (b(13) >> 4)) + 1L).toInt
          total = ((b(13) & 0x0fL) << 32) | (b(14) << 24) |
            (b(15) << 16) | (b(16) << 8) | b(17)
          seen = true
        }
        off = body + len
      }
      if (!seen || rate <= 0 || channels < 1) return None
      val chans = Array.fill(channels)(
        new scala.collection.mutable.ArrayBuffer[Int](
          math.min(total, 1 << 20).toInt.max(16)))
      var decoded = 0L
      while ((total == 0L || decoded < total) && off + 5 <= bytes.length) {
        val r = new BitReader(bytes, off)
        val n = decodeFrame(r, bytes, off, rate, channels, bps) match {
          case Some((pcmBlock, nextOff)) =>
            var c = 0
            while (c < channels) { chans(c) ++= pcmBlock(c); c += 1 }
            off = nextOff
            pcmBlock(0).length
          case None => return None
        }
        decoded += n
        if (n == 0) return None
      }
      if (total != 0L && decoded < total) return None
      val out = chans.map { buf =>
        val a = buf.toArray
        if (total != 0L && a.length > total) a.take(total.toInt) else a
      }
      Some(Pcm(rate, channels, bps, out))
    } catch { case _: Exception => None }
  }

  /** One frame → (channel-major PCM block, next frame byte offset). */
  private def decodeFrame(r: BitReader, bytes: Array[Byte],
                          frameStart: Int, streamRate: Int,
                          streamChannels: Int, streamBps: Int)
  : Option[(Array[Array[Int]], Int)] = {
    if (r.readBits(14) != 0x3ffe) return None
    r.readBit() // reserved
    r.readBit() // blocking strategy
    val bsCode = r.readBits(4).toInt
    val srCode = r.readBits(4).toInt
    val chanCode = r.readBits(4).toInt
    val ssCode = r.readBits(3).toInt
    r.readBit() // reserved
    readCodedNumber(r)
    val blockSize = bsCode match {
      case 0 => return None
      case 1 => 192
      case 6 => r.readBits(8).toInt + 1
      case 7 => r.readBits(16).toInt + 1
      case c if c >= 2 && c <= 5 => 576 << (c - 2)
      case c => 256 << (c - 8)
    }
    srCode match { // value unused beyond validation; STREAMINFO governs
      case 12 => r.readBits(8)
      case 13 | 14 => r.readBits(16)
      case 15 => return None
      case _ => ()
    }
    val bps = sampleSizeOf(ssCode, streamBps)
    if (bps <= 0) return None
    // header CRC-8 (bit-aligned here by construction: every header
    // field is a whole number of bits summing to byte multiples)
    val crcPos = r.bytePos
    val wantCrc = r.readBits(8).toInt
    if (crc8(bytes, frameStart, crcPos) != wantCrc) return None
    val nCh = if (chanCode <= 7) chanCode + 1 else 2
    if (nCh != streamChannels) return None
    val raw = Array.ofDim[Array[Int]](nCh)
    var c = 0
    while (c < nCh) {
      // side channels carry one extra bit (the spec's decorrelation)
      val extra = chanCode match {
        case 8 if c == 1 => 1 // left/side
        case 9 if c == 0 => 1 // right/side
        case 10 if c == 1 => 1 // mid/side
        case _ => 0
      }
      raw(c) = decodeSubframe(r, blockSize, bps + extra) match {
        case Some(a) => a
        case None => return None
      }
      c += 1
    }
    r.align()
    r.skipBytes(2) // frame CRC-16 (unverified — see class doc)
    // channel decorrelation
    val out = chanCode match {
      case 8 => // left/side: right = left - side
        val l = raw(0); val s = raw(1)
        Array(l, Array.tabulate(l.length)(i => l(i) - s(i)))
      case 9 => // right/side: left = side + right
        val s = raw(0); val rt = raw(1)
        Array(Array.tabulate(rt.length)(i => s(i) + rt(i)), rt)
      case 10 => // mid/side
        val m = raw(0); val s = raw(1)
        val l = Array.ofDim[Int](m.length)
        val rt = Array.ofDim[Int](m.length)
        var i = 0
        while (i < m.length) {
          val mid2 = (m(i) << 1) | (s(i) & 1)
          l(i) = (mid2 + s(i)) >> 1
          rt(i) = (mid2 - s(i)) >> 1
          i += 1
        }
        Array(l, rt)
      case _ => raw
    }
    Some((out, r.bytePos))
  }

  private def decodeSubframe(r: BitReader, n: Int,
                             bps: Int): Option[Array[Int]] = {
    if (r.readBit() != 0) return None // padding bit
    val tpe = r.readBits(6).toInt
    val wasted =
      if (r.readBit() == 1) r.readUnary() + 1 else 0
    val ebps = bps - wasted
    val x: Array[Int] =
      if (tpe == 0) { // CONSTANT
        val v = r.readSigned(ebps).toInt
        Array.fill(n)(v)
      } else if (tpe == 1) { // VERBATIM
        Array.fill(n)(r.readSigned(ebps).toInt)
      } else if (tpe >= 8 && tpe <= 12) { // FIXED
        val order = tpe - 8
        val x = Array.ofDim[Int](n)
        var i = 0
        while (i < order) { x(i) = r.readSigned(ebps).toInt; i += 1 }
        val res = decodeResiduals(r, n, order).getOrElse(return None)
        i = order
        while (i < n) {
          val p = order match {
            case 0 => 0L
            case 1 => x(i - 1).toLong
            case 2 => 2L * x(i - 1) - x(i - 2)
            case 3 => 3L * x(i - 1) - 3L * x(i - 2) + x(i - 3)
            case 4 => 4L * x(i - 1) - 6L * x(i - 2) + 4L * x(i - 3) -
              x(i - 4)
          }
          x(i) = (res(i - order) + p).toInt
          i += 1
        }
        x
      } else if (tpe >= 32) { // LPC, order = tpe - 31
        val order = tpe - 31
        val x = Array.ofDim[Int](n)
        var i = 0
        while (i < order) { x(i) = r.readSigned(ebps).toInt; i += 1 }
        val precision = r.readBits(4).toInt + 1
        if (precision == 16) return None // 0b1111 invalid
        val shift = r.readSigned(5).toInt
        if (shift < 0) return None
        val coef = Array.fill(order)(r.readSigned(precision))
        val res = decodeResiduals(r, n, order).getOrElse(return None)
        i = order
        while (i < n) {
          var acc = 0L
          var j = 0
          while (j < order) { acc += coef(j) * x(i - 1 - j); j += 1 }
          x(i) = (res(i - order) + (acc >> shift)).toInt
          i += 1
        }
        x
      } else return None // reserved types
    if (wasted > 0) {
      var i = 0
      while (i < n) { x(i) = x(i) << wasted; i += 1 }
    }
    Some(x)
  }

  /** Partitioned Rice residuals: method 0 = 4-bit parameters (escape
    * 15), method 1 = 5-bit (escape 31); escape → 5-bit raw size.
    */
  private def decodeResiduals(r: BitReader, blockSize: Int,
                              order: Int): Option[Array[Long]] = {
    val method = r.readBits(2).toInt
    if (method > 1) return None
    val pBits = if (method == 0) 4 else 5
    val escape = (1 << pBits) - 1
    val partOrder = r.readBits(4).toInt
    val parts = 1 << partOrder
    if (blockSize % parts != 0) return None
    val out = Array.ofDim[Long](blockSize - order)
    var idx = 0
    var p = 0
    while (p < parts) {
      val count = (blockSize >> partOrder) - (if (p == 0) order else 0)
      if (count < 0) return None
      val k = r.readBits(pBits).toInt
      if (k == escape) {
        val rawBits = r.readBits(5).toInt
        var i = 0
        while (i < count) { out(idx) = r.readSigned(rawBits); idx += 1; i += 1 }
      } else {
        var i = 0
        while (i < count) {
          val q = r.readUnary().toLong
          val u = (q << k) | r.readBits(k)
          out(idx) = (u >>> 1) ^ -(u & 1L) // zigzag decode
          idx += 1; i += 1
        }
      }
      p += 1
    }
    Some(out)
  }

  // ---------------------------------------------------------------
  // encode (the planted-content fixture path)

  /** Subframe strategies the encoder can be forced into, so tests
    * drive each decoder path with real content. */
  sealed trait Mode
  case object Verbatim extends Mode
  /** CONSTANT where a block is constant, VERBATIM otherwise. */
  case object Auto extends Mode
  /** FIXED order-2 with Rice-coded residuals (order trimmed for tiny
    * blocks). */
  case object Fixed2 extends Mode
  /** LPC order-1, coefficient 1, shift 0 (== fixed-1 through the LPC
    * path — exercises precision/shift/coefficient plumbing with exact
    * integer math). */
  case object Lpc1 extends Mode

  /** Encode channel-major PCM to a conformant single-stream FLAC blob
    * (STREAMINFO + fixed-blocksize frames, independent channels,
    * correct CRC-8/CRC-16). `bps` ≤ 24.
    */
  def encode(samples: Array[Array[Int]], sampleRate: Int, bps: Int = 16,
             blockSize: Int = 4096, mode: Mode = Auto): Array[Byte] = {
    require(samples.nonEmpty && samples.forall(_.length == samples(0).length))
    require(bps >= 4 && bps <= 24 && sampleRate > 0)
    require(blockSize >= 16 && blockSize <= 65536)
    val channels = samples.length
    val n = samples(0).length
    require(n > 0, "flac: empty stream")
    val head = streamInfo(sampleRate, channels, bps, n.toLong, blockSize)
    val out = new java.io.ByteArrayOutputStream()
    out.write(head)
    var frameNo = 0L
    var off = 0
    while (off < n) {
      val bs = math.min(blockSize, n - off)
      out.write(encodeFrame(samples, off, bs, frameNo, channels, bps, mode))
      frameNo += 1
      off += bs
    }
    out.toByteArray
  }

  private def streamInfo(rate: Int, channels: Int, bps: Int, total: Long,
                         blockSize: Int): Array[Byte] = {
    val si = new Array[Byte](34)
    si(0) = ((blockSize >> 8) & 0xff).toByte; si(1) = (blockSize & 0xff).toByte
    si(2) = si(0); si(3) = si(1) // min = max block size
    si(10) = ((rate >> 12) & 0xff).toByte
    si(11) = ((rate >> 4) & 0xff).toByte
    si(12) = (((rate & 0xf) << 4) | (((channels - 1) & 0x7) << 1) |
      (((bps - 1) >> 4) & 0x1)).toByte
    si(13) = ((((bps - 1) & 0xf) << 4) | ((total >> 32) & 0xfL)).toInt.toByte
    si(14) = ((total >> 24) & 0xffL).toByte
    si(15) = ((total >> 16) & 0xffL).toByte
    si(16) = ((total >> 8) & 0xffL).toByte
    si(17) = (total & 0xffL).toByte
    "fLaC".getBytes("US-ASCII") ++
      Array[Byte](0x80.toByte, 0, 0, 34) ++ si
  }

  private def encodeFrame(samples: Array[Array[Int]], off: Int, bs: Int,
                          frameNo: Long, channels: Int, bps: Int,
                          mode: Mode): Array[Byte] = {
    val w = new BitWriter
    w.writeBits(0x3ffe, 14) // sync
    w.writeBit(0) // reserved
    w.writeBit(0) // fixed-blocksize strategy
    w.writeBits(7, 4) // block size: 16-bit value-1 follows
    w.writeBits(0, 4) // sample rate: from STREAMINFO
    w.writeBits(channels - 1, 4) // independent channels
    val ssCode = bps match {
      case 8 => 1; case 12 => 2; case 16 => 4; case 20 => 5; case 24 => 6
      case _ => 0 // from STREAMINFO
    }
    w.writeBits(ssCode, 3)
    w.writeBit(0) // reserved
    writeCodedNumber(w, frameNo)
    w.writeBits(bs - 1L, 16)
    // header complete and byte-aligned: CRC-8 over it
    val headBytes = w.toBytes
    val w2 = new BitWriter
    headBytes.foreach(b => w2.writeBits(b & 0xffL, 8))
    w2.writeBits(crc8(headBytes, 0, headBytes.length).toLong, 8)
    var c = 0
    while (c < channels) {
      encodeSubframe(w2, samples(c), off, bs, bps, mode)
      c += 1
    }
    w2.align()
    val body = w2.toBytes
    val w3 = new BitWriter
    body.foreach(b => w3.writeBits(b & 0xffL, 8))
    w3.writeBits(crc16(body, 0, body.length).toLong, 16)
    w3.toBytes
  }

  private def encodeSubframe(w: BitWriter, x: Array[Int], off: Int,
                             bs: Int, bps: Int, mode: Mode): Unit = {
    def constantBlock: Boolean = {
      var i = 1
      while (i < bs) { if (x(off + i) != x(off)) return false; i += 1 }
      true
    }
    w.writeBit(0) // padding
    mode match {
      case Auto if constantBlock =>
        w.writeBits(0, 6); w.writeBit(0) // CONSTANT, no wasted bits
        w.writeBits(x(off).toLong & ((1L << bps) - 1), bps)
      case Verbatim | Auto =>
        w.writeBits(1, 6); w.writeBit(0) // VERBATIM
        var i = 0
        while (i < bs) {
          w.writeBits(x(off + i).toLong & ((1L << bps) - 1), bps)
          i += 1
        }
      case Fixed2 =>
        val order = math.min(2, bs - 1)
        w.writeBits(8L + order, 6); w.writeBit(0)
        var i = 0
        while (i < order) {
          w.writeBits(x(off + i).toLong & ((1L << bps) - 1), bps)
          i += 1
        }
        val res = Array.ofDim[Long](bs - order)
        i = order
        while (i < bs) {
          val p = order match {
            case 0 => 0L
            case 1 => x(off + i - 1).toLong
            case 2 => 2L * x(off + i - 1) - x(off + i - 2)
          }
          res(i - order) = x(off + i) - p
          i += 1
        }
        writeResiduals(w, res, bs, order)
      case Lpc1 =>
        val order = 1
        w.writeBits(31L + order, 6); w.writeBit(0)
        w.writeBits(x(off).toLong & ((1L << bps) - 1), bps) // warmup
        w.writeBits(3, 4) // precision 4 bits
        w.writeBits(0, 5) // shift 0
        w.writeBits(1L & 0xf, 4) // coefficient 1
        val res = Array.ofDim[Long](bs - order)
        var i = order
        while (i < bs) {
          res(i - order) = x(off + i).toLong - x(off + i - 1)
          i += 1
        }
        writeResiduals(w, res, bs, order)
    }
  }

  private def writeResiduals(w: BitWriter, res: Array[Long], bs: Int,
                             order: Int): Unit = {
    w.writeBits(1, 2) // 5-bit Rice parameters
    w.writeBits(0, 4) // partition order 0 — one partition
    var maxU = 0L
    var i = 0
    while (i < res.length) {
      val u = (res(i) << 1) ^ (res(i) >> 63)
      if (u > maxU) maxU = u
      i += 1
    }
    // k sized so the worst quotient stays small (any k is conformant)
    val k = math.min(30, math.max(0, 64 - java.lang.Long
      .numberOfLeadingZeros(maxU) - 3))
    w.writeBits(k.toLong, 5)
    i = 0
    while (i < res.length) {
      val u = (res(i) << 1) ^ (res(i) >> 63)
      w.writeUnary((u >>> k).toInt)
      w.writeBits(u & ((1L << k) - 1), k)
      i += 1
    }
  }
}
