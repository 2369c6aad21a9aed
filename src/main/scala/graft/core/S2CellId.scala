package graft.core

/**
 * S2 cell-id math: 64-bit Hilbert-curve cell identifiers over the six faces
 * of a cube projected onto the unit sphere.
 *
 * This is a from-scratch Scala implementation of the published S2 cell
 * scheme (s2geometry.io): 3 face bits, 60 Hilbert position bits, and a
 * trailing marker bit whose position encodes the level (0..30).
 *
 * Capability parity target: the cell operators catalogued in SURVEY.md §2.7
 * (reference: src/s2_cell_ops.cpp). Cell ids are *unsigned* 64-bit values in
 * the reference; here they live in a signed Long, so all ordering goes
 * through [[S2CellId.compareUnsigned]] / [[S2CellId.sortKey]].
 */
object S2CellId {
  final val MaxLevel = 30
  final val FaceBits = 3
  final val NumFaces = 6
  final val PosBits  = 2 * MaxLevel + 1 // 61
  final val MaxSize  = 1 << MaxLevel    // 2^30

  /** The reference's invalid-cell sentinel: 0xffffffffffffffff. */
  final val Sentinel: Long = -1L
  final val None: Long = 0L

  // ---- Hilbert curve lookup tables (4 bits per step), standard S2 layout.
  private final val LookupBits = 4
  private final val SwapMask = 0x01
  private final val InvertMask = 0x02

  // Traversal order of child positions -> (i,j) sub-cell, per orientation.
  private val PosToIJ: Array[Array[Int]] = Array(
    Array(0, 1, 3, 2), // canonical order
    Array(0, 2, 3, 1), // axes swapped
    Array(3, 2, 0, 1), // bits inverted
    Array(3, 1, 0, 2)  // swapped & inverted
  )
  private val PosToOrientation: Array[Int] =
    Array(SwapMask, 0, 0, InvertMask | SwapMask)
  // IJtoPos[orientation][ij] == pos  (inverse of PosToIJ)
  private val IJtoPos: Array[Array[Int]] = PosToIJ.map { row =>
    val inv = new Array[Int](4)
    var p = 0
    while (p < 4) { inv(row(p)) = p; p += 1 }
    inv
  }

  private val lookupPos = new Array[Int](1 << (2 * LookupBits + 2))
  private val lookupIJ = new Array[Int](1 << (2 * LookupBits + 2))

  private def initLookup(level: Int, i: Int, j: Int, origOrientation: Int,
                         orientation: Int, pos: Int): Unit = {
    if (level == LookupBits) {
      val ij = (i << LookupBits) + j
      lookupPos((ij << 2) + origOrientation) = (pos << 2) + orientation
      lookupIJ((pos << 2) + origOrientation) = (ij << 2) + orientation
    } else {
      val l = level + 1
      val i2 = i << 1; val j2 = j << 1; val p2 = pos << 2
      val r = PosToIJ(orientation)
      var idx = 0
      while (idx < 4) {
        val ij = r(idx)
        initLookup(l, i2 + (ij >>> 1), j2 + (ij & 1), origOrientation,
          orientation ^ PosToOrientation(idx), p2 + idx)
        idx += 1
      }
    }
  }
  initLookup(0, 0, 0, 0, 0, 0)
  initLookup(0, 0, 0, SwapMask, SwapMask, 0)
  initLookup(0, 0, 0, InvertMask, InvertMask, 0)
  initLookup(0, 0, 0, SwapMask | InvertMask, SwapMask | InvertMask, 0)

  // ---------------------------------------------------------------- basics

  @inline def compareUnsigned(a: Long, b: Long): Int =
    java.lang.Long.compareUnsigned(a, b)

  /** Sign-flip so that signed ordering of the result == unsigned ordering. */
  @inline def sortKey(id: Long): Long = id ^ Long.MinValue

  @inline def lsb(id: Long): Long = id & -id

  @inline def lsbForLevel(level: Int): Long = 1L << (2 * (MaxLevel - level))

  def isValid(id: Long): Boolean =
    (java.lang.Long.compareUnsigned(id >>> PosBits, NumFaces) < 0) &&
      ((lsb(id) & 0x1555555555555555L) != 0)

  @inline def isLeaf(id: Long): Boolean = (id & 1L) != 0

  def face(id: Long): Int = (id >>> PosBits).toInt

  /** Level 0..30; -1 for ids with no marker bit (e.g. 0). */
  def level(id: Long): Int =
    if (id == 0L) -1
    else MaxLevel - (java.lang.Long.numberOfTrailingZeros(id) >> 1)

  def parent(id: Long, lvl: Int): Long = {
    val nl = lsbForLevel(lvl)
    (id & -nl) | nl
  }

  def parent(id: Long): Long = {
    val nl = lsb(id) << 2
    (id & -nl) | nl
  }

  def child(id: Long, pos: Int): Long = {
    val nl = lsb(id) >>> 2
    id + (2L * pos + 1 - 4) * nl
  }

  /** Reference-parity parent: negative level = relative to current level;
    * level above the cell's own level → Sentinel
    * (reference: docs/function-reference.md:965-968, cell_ops.test:199-213). */
  def parentChecked(id: Long, lvl: Int): Long = {
    if (!isValid(id)) return Sentinel
    val cur = level(id)
    val target = if (lvl < 0) cur + lvl else lvl
    if (target < 0 || target > cur) Sentinel else parent(id, target)
  }

  /** Reference-parity child: index outside 0-3 or leaf input → Sentinel
    * (reference: docs/function-reference.md:779-783, cell_ops.test:216-223). */
  def childChecked(id: Long, pos: Int): Long =
    if (!isValid(id) || pos < 0 || pos > 3 || isLeaf(id)) Sentinel
    else child(id, pos)

  def childPosition(id: Long, lvl: Int): Int =
    ((id >>> (2 * (MaxLevel - lvl) + 1)) & 3L).toInt

  def rangeMin(id: Long): Long = id - (lsb(id) - 1)
  def rangeMax(id: Long): Long = id + (lsb(id) - 1)

  def contains(a: Long, b: Long): Boolean =
    compareUnsigned(b, rangeMin(a)) >= 0 && compareUnsigned(b, rangeMax(a)) <= 0

  def intersects(a: Long, b: Long): Boolean =
    compareUnsigned(rangeMin(b), rangeMax(a)) <= 0 &&
      compareUnsigned(rangeMax(b), rangeMin(a)) >= 0

  // ----------------------------------------------------------- (face,i,j)

  /** Build a leaf cell id from face + 30-bit (i,j) coordinates. */
  def fromFaceIJ(faceN: Int, i: Int, j: Int): Long = {
    var n: Long = faceN.toLong << (PosBits - 1)
    var bits: Int = faceN & SwapMask
    val mask = (1 << LookupBits) - 1
    var k = 7
    while (k >= 0) {
      bits += ((i >>> (k * LookupBits)) & mask) << (LookupBits + 2)
      bits += ((j >>> (k * LookupBits)) & mask) << 2
      bits = lookupPos(bits)
      n |= (bits >>> 2).toLong << (k * 2 * LookupBits)
      bits &= (SwapMask | InvertMask)
      k -= 1
    }
    n * 2 + 1
  }

  /** Decode i,j from a cell id, packed as `i << 32 | j` so the decode
    * allocates nothing (read back with [[packedI]] and [[packedJ]]; the
    * face is [[face]]). i,j are coordinates of a leaf cell inside the cell;
    * mask with `-ijSize(level)` for the min corner (same convention as S2). */
  private[core] def leafIJ(id: Long): Long = {
    var i = 0; var j = 0
    var bits = face(id) & SwapMask
    var k = 7
    while (k >= 0) {
      val nbits = if (k == 7) MaxLevel - 7 * LookupBits else LookupBits
      bits += (((id >>> (k * 2 * LookupBits + 1)) & ((1L << (2 * nbits)) - 1)).toInt) << 2
      bits = lookupIJ(bits)
      i += (bits >>> (LookupBits + 2)) << (k * LookupBits)
      j += ((bits >>> 2) & ((1 << LookupBits) - 1)) << (k * LookupBits)
      bits &= (SwapMask | InvertMask)
      k -= 1
    }
    (i.toLong << 32) | j
  }

  @inline private[core] def packedI(p: Long): Int = (p >>> 32).toInt
  @inline private[core] def packedJ(p: Long): Int = p.toInt

  // ------------------------------------------------- sphere <-> cell

  /** Leaf cell containing the given lon/lat in degrees; Sentinel for NaN. */
  def fromLonLatDegrees(lonDeg: Double, latDeg: Double): Long = {
    if (lonDeg.isNaN || latDeg.isNaN) return Sentinel
    val p = S2Point.fromLatLngDegrees(latDeg, lonDeg)
    fromPoint(p.x, p.y, p.z)
  }

  /** Leaf cell containing the unit vector (x,y,z). */
  def fromPoint(x: Double, y: Double, z: Double): Long = {
    val f = S2Proj.xyzToFace(x, y, z)
    val (u, v) = S2Proj.validFaceXYZtoUV(f, x, y, z)
    val i = stToIJ(S2Proj.uvToST(u))
    val j = stToIJ(S2Proj.uvToST(v))
    fromFaceIJ(f, i, j)
  }

  @inline private def stToIJ(s: Double): Int = {
    val v = Math.round(MaxSize * s - 0.5).toInt
    if (v < 0) 0 else if (v > MaxSize - 1) MaxSize - 1 else v
  }

  /** Center of the cell as a unit vector. Center si/ti = 2*iMin + sizeIJ on
    * the doubled [0, 2^31] grid (same convention as S2's GetCenterSiTi). */
  def toPoint(id: Long): S2Point = {
    val ij = leafIJ(id)
    val sizeIJ = ijSize(level(id))
    // leafIJ yields an interior leaf for non-leaf cells; mask
    // down to the min corner before computing the center.
    val i = packedI(ij) & -sizeIJ
    val j = packedJ(ij) & -sizeIJ
    val si = 2L * i + sizeIJ
    val ti = 2L * j + sizeIJ
    val s = si.toDouble / (2.0 * MaxSize)
    val t = ti.toDouble / (2.0 * MaxSize)
    val u = S2Proj.stToUV(s)
    val v = S2Proj.stToUV(t)
    S2Proj.faceUVtoUnit(face(id), u, v)
  }

  def toLatLngDegrees(id: Long): (Double, Double) = {
    val p = toPoint(id)
    (p.latDegrees, p.lngDegrees)
  }

  @inline def ijSize(lvl: Int): Int = 1 << (MaxLevel - lvl)

  /** The four corner vertices of the cell (CCW order), as unit vectors.
    * The region coverer classifies every candidate cell by them, so the
    * decode allocates nothing and each vertex is built once. */
  def vertices(id: Long): Array[S2Point] = {
    val f = face(id)
    val ij = leafIJ(id)
    val sz = ijSize(level(id))
    val i = packedI(ij) & -sz
    val j = packedJ(ij) & -sz
    val sLo = i.toDouble / MaxSize
    val sHi = (i + sz).toDouble / MaxSize
    val tLo = j.toDouble / MaxSize
    val tHi = (j + sz).toDouble / MaxSize
    val uLo = S2Proj.stToUV(sLo); val uHi = S2Proj.stToUV(sHi)
    val vLo = S2Proj.stToUV(tLo); val vHi = S2Proj.stToUV(tHi)
    // CCW order starting from (uLo, vLo) — matches S2Cell::GetVertex.
    Array(
      S2Proj.faceUVtoUnit(f, uLo, vLo),
      S2Proj.faceUVtoUnit(f, uHi, vLo),
      S2Proj.faceUVtoUnit(f, uHi, vHi),
      S2Proj.faceUVtoUnit(f, uLo, vHi)
    )
  }

  // ------------------------------------------------------------ neighbors

  /** The four edge neighbors at the same level (down, right, up, left). */
  def edgeNeighbors(id: Long): Array[Long] = {
    val lvl = level(id)
    val sz = ijSize(lvl)
    val f = face(id)
    val ij = leafIJ(id)
    val i = packedI(ij); val j = packedJ(ij)
    Array(
      parent(fromFaceIJSame(f, i, j - sz, j - sz >= 0), lvl),
      parent(fromFaceIJSame(f, i + sz, j, i + sz < MaxSize), lvl),
      parent(fromFaceIJSame(f, i, j + sz, j + sz < MaxSize), lvl),
      parent(fromFaceIJSame(f, i - sz, j, i - sz >= 0), lvl)
    )
  }

  private[core] def fromFaceIJSame(f: Int, i: Int, j: Int, sameFace: Boolean): Long =
    if (sameFace) fromFaceIJ(f, i, j) else fromFaceIJWrap(f, i, j)

  /** All 8 same-level neighbors (edge + corner), deduped; cube-corner cells
    * have 7 (public S2CellId::AppendAllNeighbors semantics at own level). */
  def allNeighbors(id: Long): Array[Long] = {
    val lvl = level(id)
    val sz = ijSize(lvl)
    val f = face(id)
    val ij = leafIJ(id)
    val i = packedI(ij); val j = packedJ(ij)
    val out = new scala.collection.mutable.ArrayBuffer[Long](8)
    var di = -1
    while (di <= 1) {
      var dj = -1
      while (dj <= 1) {
        if (di != 0 || dj != 0) {
          val ni = i + di * sz; val nj = j + dj * sz
          val inBounds = ni >= 0 && ni < MaxSize && nj >= 0 && nj < MaxSize
          val n = parent(fromFaceIJSame(f, ni, nj, inBounds), lvl)
          if (isValid(n) && n != id && !out.contains(n)) out += n
        }
        dj += 1
      }
      di += 1
    }
    out.toArray
  }

  private[core] def fromFaceIJWrap(f: Int, i0: Int, j0: Int): Long = {
    val i = Math.max(-1, Math.min(MaxSize, i0))
    val j = Math.max(-1, Math.min(MaxSize, j0))
    val kScale = 1.0 / MaxSize
    val kLimit = 1.0 + 2.220446049250313e-16
    val u = Math.max(-kLimit, Math.min(kLimit, kScale * (2.0 * (i - MaxSize / 2) + 1)))
    val v = Math.max(-kLimit, Math.min(kLimit, kScale * (2.0 * (j - MaxSize / 2) + 1)))
    val p = S2Proj.faceUVtoXYZ(f, u, v)
    val nf = S2Proj.xyzToFace(p.x, p.y, p.z)
    val (nu, nv) = S2Proj.validFaceXYZtoUV(nf, p.x, p.y, p.z)
    fromFaceIJ(nf, stToIJ(0.5 * (nu + 1)), stToIJ(0.5 * (nv + 1)))
  }

  // --------------------------------------------------------------- strings

  /** Compact hex token: 16 hex digits with trailing zeros stripped.
    * id 0 -> "X" per the S2 convention. */
  def toToken(id: Long): String = {
    if (id == 0L) return "X"
    val hex = f"$id%016x"
    var end = hex.length
    while (end > 1 && hex.charAt(end - 1) == '0') end -= 1
    hex.substring(0, end)
  }

  /** Parse token; returns None (=0) for invalid input (reference behavior:
    * s2_cell_from_token('foofy') == 0, no error). */
  def fromToken(token: String): Long = {
    if (token == null || token.isEmpty || token.length > 16) return None
    if (token == "X" || token == "x") return None
    var id = 0L
    var k = 0
    while (k < token.length) {
      val c = token.charAt(k)
      val d =
        if (c >= '0' && c <= '9') c - '0'
        else if (c >= 'a' && c <= 'f') c - 'a' + 10
        else if (c >= 'A' && c <= 'F') c - 'A' + 10
        else return None
      id = (id << 4) | d
      k += 1
    }
    id << (4 * (16 - token.length))
  }

  /** Debug string "face/childPositions", e.g. "2/0331". Invalid ids print
    * "Invalid: <16-hex>" (reference: s2_cell_ops.cpp debug-string casts). */
  def toDebugString(id: Long): String = {
    if (!isValid(id)) {
      return "Invalid: " + f"$id%016x"
    }
    val sb = new StringBuilder(34)
    sb.append(face(id)).append('/')
    val lvl = level(id)
    var k = 1
    while (k <= lvl) {
      sb.append(('0' + childPosition(id, k)).toChar)
      k += 1
    }
    sb.toString
  }

  /** Parse debug string; Sentinel on failure. */
  def fromDebugString(s: String): Long = {
    if (s == null || s.length < 2) return Sentinel
    val f = s.charAt(0) - '0'
    if (f < 0 || f > 5 || s.charAt(1) != '/') return Sentinel
    var id = (f.toLong << (PosBits - 1)) * 2 + 1 // face cell
    id = (id & -lsbForLevel(0)) | lsbForLevel(0)
    var k = 2
    while (k < s.length) {
      val pos = s.charAt(k) - '0'
      if (pos < 0 || pos > 3) return Sentinel
      if (level(id) >= MaxLevel) return Sentinel
      id = child(id, pos)
      k += 1
    }
    id
  }
}
