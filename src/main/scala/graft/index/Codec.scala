package graft.index

/** Delta-gap + variable-byte codec for posting blocks; a block and its
  * block-max metadata is a [[SegBlock]] (north rule: "delta-gap +
  * variable-byte compressed posting blocks with block-max metadata").
  *
  * Layout: docs are sorted ascending per posting list; each block holds up
  * to [[Codec.BlockSize]] postings. Doc ords are stored as varbyte(first
  * delta from block.first, then gaps); tfs are stored as varbyte(tf-1)
  * (tf ≥ 1 always). Each block carries `maxTf` and `maxNorm` = max over
  * its docs of the BM25 tf-normalization component, so
  * blockMaxScore(term) = idf(term) * maxNorm — the WAND pruning bound.
  */
object Codec extends Serializable {

  final val BlockSize = 128

  // ---- varbyte primitives (LEB128, unsigned) ----

  def writeVarLong(v0: Long, out: java.io.ByteArrayOutputStream): Unit = {
    var v = v0
    require(v >= 0, s"varbyte requires non-negative values, got $v")
    while ((v & ~0x7fL) != 0L) {
      out.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }

  /** Decode `n` varlongs from `bytes` starting at offset 0. */
  def readVarLongs(bytes: Array[Byte], n: Int): Array[Long] = {
    val out = new Array[Long](n)
    var pos = 0
    var i = 0
    while (i < n) {
      var v = 0L
      var shift = 0
      var b = bytes(pos); pos += 1
      while ((b & 0x80) != 0) {
        v |= (b & 0x7fL) << shift
        shift += 7
        b = bytes(pos); pos += 1
      }
      v |= (b & 0x7fL) << shift
      out(i) = v
      i += 1
    }
    out
  }

  def encodeVarLongs(xs: Array[Long]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(xs.length)
    var i = 0
    while (i < xs.length) { writeVarLong(xs(i), out); i += 1 }
    out.toByteArray
  }

  /** Delta-encode a strictly increasing sequence (first value stored as a
    * delta from `base`), then varbyte. */
  def encodeDeltas(xs: Array[Long], base: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(xs.length)
    var prev = base
    var i = 0
    while (i < xs.length) {
      writeVarLong(xs(i) - prev, out)
      prev = xs(i)
      i += 1
    }
    out.toByteArray
  }

  def decodeDeltas(bytes: Array[Byte], n: Int, base: Long): Array[Long] = {
    val ds = readVarLongs(bytes, n)
    var prev = base
    var i = 0
    while (i < n) { prev += ds(i); ds(i) = prev; i += 1 }
    ds
  }

  // ---- posting blocks ----

  /** Encode one posting's ascending in-doc positions (delta + varbyte). */
  def encodePositions(xs: Array[Long]): Array[Byte] = encodeDeltas(xs, 0L)

  /** Build blocks from parallel arrays of (ascending ord, tf, dl), plus an
    * optional parallel array of pre-encoded per-posting position payloads
    * (null → positionless blocks). */
  def buildBlocks(ords: Array[Long], tfs: Array[Long], dls: Array[Long],
                  avgdl: Double,
                  poss: Array[Array[Byte]] = null): Array[SegBlock] = {
    require(ords.length == tfs.length && tfs.length == dls.length)
    require(poss == null || poss.length == ords.length)
    val nBlocks = (ords.length + BlockSize - 1) / BlockSize
    val out = new Array[SegBlock](nBlocks)
    var b = 0
    while (b < nBlocks) {
      val from = b * BlockSize
      val until = math.min(from + BlockSize, ords.length)
      val n = until - from
      val first = ords(from)
      val last = ords(until - 1)
      var maxTf = 0L
      var maxNorm = 0.0
      var minDl = Long.MaxValue
      var i = from
      while (i < until) {
        if (tfs(i) > maxTf) maxTf = tfs(i)
        if (dls(i) < minDl) minDl = dls(i)
        val nm = graft.search.Bm25.tfNorm(tfs(i), dls(i), avgdl)
        if (nm > maxNorm) maxNorm = nm
        i += 1
      }
      val docBytes = encodeDeltas(java.util.Arrays.copyOfRange(ords, from, until), first)
      val tfMinus1 = new Array[Long](n)
      i = 0
      while (i < n) { tfMinus1(i) = tfs(from + i) - 1; i += 1 }
      val tfBytes = encodeVarLongs(tfMinus1)
      val dlBytes = encodeVarLongs(java.util.Arrays.copyOfRange(dls, from, until))
      val posBytes =
        if (poss == null) Array.emptyByteArray
        else {
          var len = 0
          i = from
          while (i < until) { len += poss(i).length; i += 1 }
          val blob = new Array[Byte](len)
          var off = 0
          i = from
          while (i < until) {
            System.arraycopy(poss(i), 0, blob, off, poss(i).length)
            off += poss(i).length
            i += 1
          }
          blob
        }
      out(b) = SegBlock(first, last, n, maxTf.toInt, maxNorm, minDl, docBytes,
        tfBytes, dlBytes, posBytes)
      b += 1
    }
    out
  }

  def decodeBlockDocs(blk: SegBlock): Array[Long] = decodeDeltas(blk.docs, blk.n, blk.first)

  def decodeBlockTfs(blk: SegBlock): Array[Long] = {
    val xs = readVarLongs(blk.tfs, blk.n)
    var i = 0
    while (i < xs.length) { xs(i) += 1; i += 1 }
    xs
  }

  def decodeBlockDls(blk: SegBlock): Array[Long] = readVarLongs(blk.dls, blk.n)

  /** Decode every posting's position list from a positional block; `tfs`
    * are the block's decoded term frequencies (= per-posting position
    * counts, which split the concatenated payload without offsets). */
  def decodeBlockPositions(blk: SegBlock, tfs: Array[Long]): Array[Array[Long]] = {
    require(blk.pos.nonEmpty || blk.n == 0,
      "block has no positional payload — index built without positions")
    var total = 0
    var i = 0
    while (i < blk.n) { total += tfs(i).toInt; i += 1 }
    val flat = readVarLongs(blk.pos, total)
    val out = new Array[Array[Long]](blk.n)
    var off = 0
    i = 0
    while (i < blk.n) {
      val m = tfs(i).toInt
      val xs = new Array[Long](m)
      var prev = 0L
      var j = 0
      while (j < m) { prev += flat(off + j); xs(j) = prev; j += 1 }
      out(i) = xs
      off += m
      i += 1
    }
    out
  }
}
