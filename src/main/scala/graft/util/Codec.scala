package graft.util

import java.nio.ByteBuffer

/** Delta + variable-length integer codec for posting blocks.
  *
  * The reference packs postings as 128-entry blocks of delta-encoded
  * doc ids + term frequencies (FOR bit-packing with a VInt tail block)
  * [U lucene/core/.../codecs/lucene84/Lucene84PostingsWriter.java,
  * ForUtil.java]. BASELINE.json's north_star pins "delta-encoded
  * varint/PForDelta blocks" for OUR format — we pin delta-varint
  * (bytes are ours; only query results must match the reference,
  * SURVEY.md §2.3).
  */
object VarInt {

  /** Append an unsigned LEB128 varint. */
  def write(out: ByteBuilder, v0: Long): Unit = {
    var v = v0
    require(v >= 0, s"varint requires non-negative: $v0")
    while ((v & ~0x7FL) != 0L) {
      out += ((v & 0x7F) | 0x80).toByte
      v >>>= 7
    }
    out += v.toByte
  }

  /** Delta-encode a strictly increasing Long array (first value encoded
    * as delta from `base`). */
  def encodeDeltas(values: Array[Long], base: Long): Array[Byte] = {
    val out = new ByteBuilder(values.length * 2)
    var prev = base
    var i = 0
    while (i < values.length) {
      write(out, values(i) - prev)
      prev = values(i)
      i += 1
    }
    out.result()
  }

  def decodeDeltas(bytes: Array[Byte], n: Int, base: Long): Array[Long] = {
    val out = new Array[Long](n)
    var prev = base
    var pos = 0
    var i = 0
    while (i < n) {
      var shift = 0
      var v = 0L
      var b = bytes(pos); pos += 1
      while ((b & 0x80) != 0) {
        v |= (b & 0x7FL) << shift
        shift += 7
        b = bytes(pos); pos += 1
      }
      v |= (b & 0x7FL) << shift
      prev += v
      out(i) = prev
      i += 1
    }
    out
  }

  /** Plain (non-delta) varints, e.g. term frequencies. */
  def encodeInts(values: Array[Int]): Array[Byte] = {
    val out = new ByteBuilder(values.length * 2)
    var i = 0
    while (i < values.length) { write(out, values(i).toLong); i += 1 }
    out.result()
  }

  def decodeInts(bytes: Array[Byte], n: Int): Array[Int] = {
    val out = new Array[Int](n)
    var pos = 0
    var i = 0
    while (i < n) {
      var shift = 0
      var v = 0L
      var b = bytes(pos); pos += 1
      while ((b & 0x80) != 0) {
        v |= (b & 0x7FL) << shift
        shift += 7
        b = bytes(pos); pos += 1
      }
      v |= (b & 0x7FL) << shift
      out(i) = v.toInt
      i += 1
    }
    out
  }

  /** Per-doc position lists, each delta-encoded; lengths come from the
    * tf array (positions-per-doc == tf), mirroring the reference's
    * .pos stream layout [U Lucene84PostingsWriter]. */
  def encodePositions(positions: Array[Array[Int]]): Array[Byte] = {
    val out = new ByteBuilder(positions.length * 4)
    var d = 0
    while (d < positions.length) {
      val ps = positions(d)
      var prev = 0
      var i = 0
      while (i < ps.length) {
        write(out, (ps(i) - prev).toLong)
        prev = ps(i)
        i += 1
      }
      d += 1
    }
    out.result()
  }

  def decodePositions(bytes: Array[Byte], tfs: Array[Int]): Array[Array[Int]] = {
    val out = new Array[Array[Int]](tfs.length)
    var pos = 0
    var d = 0
    while (d < tfs.length) {
      val n = tfs(d)
      val ps = new Array[Int](n)
      var prev = 0
      var i = 0
      while (i < n) {
        var shift = 0
        var v = 0L
        var b = bytes(pos); pos += 1
        while ((b & 0x80) != 0) {
          v |= (b & 0x7FL) << shift
          shift += 7
          b = bytes(pos); pos += 1
        }
        v |= (b & 0x7FL) << shift
        prev += v.toInt
        ps(i) = prev
        i += 1
      }
      out(d) = ps
      d += 1
    }
    out
  }
}

/** PForDelta block codec: frame-of-reference bit packing with patch
  * exceptions — the analogue of the reference's `ForUtil` packed blocks
  * [U lucene/core/.../codecs/lucene84/ForUtil.java; Zukowski et al.
  * ICDE'06 "Super-Scalar RAM-CPU Cache Compression"]. A 128-entry block
  * picks the bit width `w` minimizing total size; values needing more
  * than `w` bits store their low `w` bits in the packed frame and patch
  * the high bits from an exception list. Postings BLOCKS use this
  * (bounded count, decode-bandwidth-critical at scale); transient SPIMI
  * runs keep incremental varint (append-friendly).
  *
  * Layout: [w:1][numExceptions:1][packed: ceil(n·w/8)]
  *         [exceptions: (varint position, varint highBits)*]
  */
object PFor {

  private def bitsOf(v: Long): Int =
    if (v == 0L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(v)

  def encode(values: Array[Long]): Array[Byte] = {
    val n = values.length
    require(n <= 255, s"PFor block too large: $n")
    var maxBits = 0
    values.foreach { v =>
      require(v >= 0, s"PFor requires non-negative: $v")
      val b = bitsOf(v)
      if (b > maxBits) maxBits = b
    }
    // pick w minimizing packed + exception bytes (n ≤ 128 → cheap scan)
    var bestW = maxBits
    var bestSize = Long.MaxValue
    var w = 0
    while (w <= maxBits) {
      var size = (n.toLong * w + 7) / 8
      var exceptions = 0
      values.foreach { v =>
        if (bitsOf(v) > w) {
          exceptions += 1
          size += 2 + (bitsOf(v >>> w) + 6) / 7 // pos varint + high varint
        }
      }
      if (exceptions <= 255 && size < bestSize) { bestSize = size; bestW = w }
      w += 1
    }
    val wSel = bestW
    val mask = if (wSel == 64) -1L else (1L << wSel) - 1
    val packedBytes = ((n.toLong * wSel + 7) / 8).toInt
    val head = new Array[Byte](2 + packedBytes)
    head(0) = wSel.toByte
    val exc = new ByteBuilder(8)
    var nExc = 0
    var bitPos = 0
    var i = 0
    while (i < n) {
      val v = values(i)
      val low = v & mask
      var written = 0
      while (written < wSel) {
        val byteIdx = 2 + (bitPos >> 3)
        val bitOff = bitPos & 7
        val chunk = math.min(8 - bitOff, wSel - written)
        val bits = ((low >>> written) & ((1L << chunk) - 1)).toInt
        head(byteIdx) = (head(byteIdx) | (bits << bitOff)).toByte
        written += chunk
        bitPos += chunk
      }
      val high = if (wSel == 64) 0L else v >>> wSel
      if (high != 0L) {
        nExc += 1
        VarInt.write(exc, i.toLong)
        VarInt.write(exc, high)
      }
      i += 1
    }
    require(nExc <= 255, s"too many PFor exceptions: $nExc")
    head(1) = nExc.toByte
    val excBytes = exc.result()
    val out = new Array[Byte](head.length + excBytes.length)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(excBytes, 0, out, head.length, excBytes.length)
    out
  }

  def decode(bytes: Array[Byte], n: Int): Array[Long] = {
    val w = bytes(0) & 0xFF
    val nExc = bytes(1) & 0xFF
    val out = new Array[Long](n)
    var bitPos = 0
    var i = 0
    while (i < n) {
      var v = 0L
      var read = 0
      while (read < w) {
        val byteIdx = 2 + (bitPos >> 3)
        val bitOff = bitPos & 7
        val chunk = math.min(8 - bitOff, w - read)
        v |= (((bytes(byteIdx) >> bitOff) & ((1 << chunk) - 1)).toLong) << read
        read += chunk
        bitPos += chunk
      }
      out(i) = v
      i += 1
    }
    var pos = 2 + ((n.toLong * w + 7) / 8).toInt
    var e = 0
    while (e < nExc) {
      // inline varint reads (position, then high bits)
      var shift = 0; var idx = 0L
      var b = bytes(pos); pos += 1
      while ((b & 0x80) != 0) { idx |= (b & 0x7FL) << shift; shift += 7; b = bytes(pos); pos += 1 }
      idx |= (b & 0x7FL) << shift
      shift = 0; var high = 0L
      b = bytes(pos); pos += 1
      while ((b & 0x80) != 0) { high |= (b & 0x7FL) << shift; shift += 7; b = bytes(pos); pos += 1 }
      high |= (b & 0x7FL) << shift
      out(idx.toInt) |= high << w
      e += 1
    }
    out
  }

  /** Delta conventions identical to VarInt.encodeDeltas/decodeDeltas. */
  def encodeDeltas(values: Array[Long], base: Long): Array[Byte] = {
    val deltas = new Array[Long](values.length)
    var prev = base
    var i = 0
    while (i < values.length) { deltas(i) = values(i) - prev; prev = values(i); i += 1 }
    encode(deltas)
  }

  def decodeDeltas(bytes: Array[Byte], n: Int, base: Long): Array[Long] = {
    val deltas = decode(bytes, n)
    var prev = base
    var i = 0
    while (i < n) { prev += deltas(i); deltas(i) = prev; i += 1 }
    deltas
  }

  def encodeInts(values: Array[Int]): Array[Byte] = {
    val longs = new Array[Long](values.length)
    var i = 0
    while (i < values.length) { longs(i) = values(i).toLong; i += 1 }
    encode(longs)
  }

  def decodeInts(bytes: Array[Byte], n: Int): Array[Int] = {
    val longs = decode(bytes, n)
    val out = new Array[Int](n)
    var i = 0
    while (i < n) { out(i) = longs(i).toInt; i += 1 }
    out
  }
}

/** Minimal growable byte buffer (avoids boxing of ArrayBuilder in hot loops). */
final class ByteBuilder(initial: Int) {
  private var buf = new Array[Byte](math.max(initial, 16))
  private var len = 0
  def +=(b: Byte): Unit = {
    if (len == buf.length) {
      val nb = new Array[Byte](buf.length * 2)
      System.arraycopy(buf, 0, nb, 0, len)
      buf = nb
    }
    buf(len) = b
    len += 1
  }
  def ++=(a: Array[Byte]): Unit = {
    if (len + a.length > buf.length)
      buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + a.length))
    System.arraycopy(a, 0, buf, len, a.length)
    len += a.length
  }
  def result(): Array[Byte] = java.util.Arrays.copyOf(buf, len)
  /** Bytes currently buffered (for RAM-budget accounting). */
  def size: Int = len
}
