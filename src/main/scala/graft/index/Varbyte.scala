package graft.index


/** Delta + variable-byte codec for posting blocks (north-star feature; the
  * reference has no compression — its posting "format" is a comma-packed
  * string, jobs/Indexer.java:122).
  *
  * Layout conventions:
  *  - doc ids are encoded ascending as gaps: first id absolute, then deltas
  *    (so blocks must be sorted by docId before encoding);
  *  - term frequencies are raw ints, varbyte-encoded positionally aligned
  *    with the doc ids;
  *  - varbyte = 7 data bits per byte, high bit set on the LAST byte of each
  *    value (classic IR textbook encoding, Manning/Raghavan/Schütze §5.3).
  */
object Varbyte {

  def encode(values: Array[Long]): Array[Byte] = {
    // two passes over a primitive array — an ArrayBuffer[Byte] would box
    // every output byte (generic backing array) on the build's hot path
    var total = 0
    var i = 0
    while (i < values.length) {
      val v = values(i)
      require(v >= 0, s"varbyte requires non-negative values, got $v")
      var tmp = v
      var nBytes = 1
      while (tmp >= 128) { tmp >>= 7; nBytes += 1 }
      total += nBytes
      i += 1
    }
    val out = new Array[Byte](total)
    var pos = 0
    i = 0
    while (i < values.length) {
      val v = values(i)
      // emit 7-bit groups little-endian-ish: compute byte count first
      var tmp = v
      var nBytes = 1
      while (tmp >= 128) { tmp >>= 7; nBytes += 1 }
      var shift = (nBytes - 1) * 7
      while (shift > 0) {
        out(pos) = ((v >> shift) & 0x7F).toByte; pos += 1
        shift -= 7
      }
      out(pos) = ((v & 0x7F) | 0x80).toByte; pos += 1 // high bit marks last byte
      i += 1
    }
    out
  }

  def decode(bytes: Array[Byte], n: Int): Array[Long] = {
    val out = new Array[Long](n)
    var i = 0; var k = 0
    while (k < n) {
      var v = 0L
      var b = bytes(i)
      while ((b & 0x80) == 0) { v = (v << 7) | b; i += 1; b = bytes(i) }
      out(k) = (v << 7) | (b & 0x7F)
      i += 1; k += 1
    }
    out
  }

  /** Encode ascending doc ids as first-absolute + gaps. */
  def encodeDeltas(sortedIds: Array[Long]): Array[Byte] = {
    if (sortedIds.isEmpty) return Array.emptyByteArray
    val deltas = new Array[Long](sortedIds.length)
    deltas(0) = sortedIds(0)
    var i = 1
    while (i < sortedIds.length) {
      val d = sortedIds(i) - sortedIds(i - 1)
      require(d > 0, s"doc ids must be strictly ascending (got gap $d)")
      deltas(i) = d
      i += 1
    }
    encode(deltas)
  }

  def decodeDeltas(bytes: Array[Byte], n: Int): Array[Long] = {
    val deltas = decode(bytes, n)
    var i = 1
    while (i < n) { deltas(i) += deltas(i - 1); i += 1 }
    deltas
  }

  def encodeInts(values: Array[Int]): Array[Byte] = encode(values.map(_.toLong))

  /** [[decode]] straight into an `Array[Int]` (tf and perm blocks): no
    * intermediate `Array[Long]`. Int shifts keep exactly the low 32 bits of
    * the Long decode, so the result equals `decode(bytes, n).map(_.toInt)`. */
  def decodeInts(bytes: Array[Byte], n: Int): Array[Int] = {
    val out = new Array[Int](n)
    var i = 0; var k = 0
    while (k < n) {
      var v = 0
      var b = bytes(i)
      while ((b & 0x80) == 0) { v = (v << 7) | b; i += 1; b = bytes(i) }
      out(k) = (v << 7) | (b & 0x7F)
      i += 1; k += 1
    }
    out
  }
}
