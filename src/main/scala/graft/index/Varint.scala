package graft.index

import java.io.ByteArrayOutputStream

/** Unsigned LEB128 variable-byte codec for posting-list compression.
  * DocIds are stored as deltas (strictly ascending within a posting list),
  * term freqs / doc lengths as raw positive ints. Public-knowledge encoding
  * (same family as Lucene's VInt; reference delegates this entirely to
  * Elasticsearch — we implement it from scratch, see SURVEY.md §2.8).
  */
object Varint {

  def writeLong(out: ByteArrayOutputStream, v0: Long): Unit = {
    require(v0 >= 0, s"varint requires non-negative, got $v0")
    var v = v0
    while ((v & ~0x7fL) != 0L) {
      out.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }

  def writeInt(out: ByteArrayOutputStream, v: Int): Unit = writeLong(out, v.toLong)

  /** Stateful reader over a byte array. */
  final class Reader(val bytes: Array[Byte], var pos: Int = 0) {
    def hasNext: Boolean = pos < bytes.length
    def readLong(): Long = {
      var shift = 0
      var result = 0L
      var b = 0
      do {
        b = bytes(pos) & 0xff
        pos += 1
        result |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      result
    }
    def readInt(): Int = readLong().toInt
  }

  def encodeLongs(vs: Iterable[Long]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    vs.foreach(writeLong(out, _))
    out.toByteArray
  }

  // primitive growable buffers: ArrayBuffer[Long] boxes every value, and
  // these run per CHUNK (up to 2^20 values) on query paths (fetchLens
  // misses, the per-segment reader's doc-length tables, the merge) —
  // multi-MB of boxed garbage otherwise
  def decodeLongs(bytes: Array[Byte]): Array[Long] = {
    val r = new Reader(bytes)
    var arr = new Array[Long](math.max(8, bytes.length))
    var n = 0
    while (r.hasNext) {
      if (n == arr.length) arr = java.util.Arrays.copyOf(arr, n * 2)
      arr(n) = r.readLong()
      n += 1
    }
    if (n == arr.length) arr else java.util.Arrays.copyOf(arr, n)
  }

  def encodeInts(vs: Iterable[Int]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    vs.foreach(v => writeLong(out, v.toLong))
    out.toByteArray
  }

  def decodeInts(bytes: Array[Byte]): Array[Int] = {
    val r = new Reader(bytes)
    var arr = new Array[Int](math.max(8, bytes.length))
    var n = 0
    while (r.hasNext) {
      if (n == arr.length) arr = java.util.Arrays.copyOf(arr, n * 2)
      arr(n) = r.readInt()
      n += 1
    }
    if (n == arr.length) arr else java.util.Arrays.copyOf(arr, n)
  }

  /** Delta-encode a strictly ascending sequence (first value relative to base). */
  def encodeDeltas(sorted: Iterable[Long], base: Long): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    var prev = base
    sorted.foreach { v =>
      require(v > prev, s"posting docIds must be strictly ascending: $v after $prev")
      writeLong(out, v - prev)
      prev = v
    }
    out.toByteArray
  }

  def decodeDeltas(bytes: Array[Byte], base: Long): Array[Long] = {
    val r = new Reader(bytes)
    var arr = new Array[Long](math.max(8, bytes.length))
    var n = 0
    var prev = base
    while (r.hasNext) {
      prev += r.readLong()
      if (n == arr.length) arr = java.util.Arrays.copyOf(arr, n * 2)
      arr(n) = prev
      n += 1
    }
    if (n == arr.length) arr else java.util.Arrays.copyOf(arr, n)
  }

  /** Length-prefixed UTF-8 string blob (used for per-segment url tables). */
  def encodeStrings(vs: Iterable[String]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    vs.foreach { s =>
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      writeInt(out, b.length)
      out.write(b, 0, b.length)
    }
    out.toByteArray
  }

  /** (first, last) entries of a length-prefixed string blob WITHOUT
    * decoding the rest — a prefix walk plus two String allocations. Lets
    * a sorted-blob consumer range-check a probe before paying the full
    * decode. Empty blob -> None. */
  def firstLastStrings(bytes: Array[Byte]): Option[(String, String)] = {
    if (bytes.isEmpty) return None
    val r = new Reader(bytes, 0)
    var len = r.readInt()
    val first =
      new String(bytes, r.pos, len, java.nio.charset.StandardCharsets.UTF_8)
    var lastPos = r.pos
    var lastLen = len
    r.pos += len
    while (r.hasNext) {
      len = r.readInt()
      lastPos = r.pos
      lastLen = len
      r.pos += len
    }
    Some((first, new String(bytes, lastPos, lastLen,
      java.nio.charset.StandardCharsets.UTF_8)))
  }

  def decodeStrings(bytes: Array[Byte]): Array[String] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    val r = new Reader(bytes, 0)
    while (r.hasNext) {
      val len = r.readInt()
      buf += new String(bytes, r.pos, len, java.nio.charset.StandardCharsets.UTF_8)
      r.pos += len
    }
    buf.toArray
  }
}
