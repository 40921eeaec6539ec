package graft.sql

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

import org.apache.spark.unsafe.types.UTF8String

import graft.core.CellIndex

/** Hot-path kernels behind the round-6 optimization pass (guide §1.2
  * step 2, §4.1): the per-row work of the dedup/winnow/spatial/ANN
  * operators was dominated by interpreted higher-order-function lambdas
  * (`transform`/`zip_with`/`aggregate` are CodegenFallback — evaluated
  * expression-tree-at-a-time per row, with per-element array
  * allocation) and by md5 → hex-string → `conv` round trips. Each
  * kernel below computes the IDENTICAL value in one tight JVM loop and
  * is called from Catalyst through one [[Kernel]] builder (a
  * `StaticInvoke`: one static call per row in generated code), so the
  * surrounding operators keep their exact output contracts (every
  * consumer is oracle-checked) while the per-row constant drops by
  * 5-50x.
  *
  * Invariant shared by every kernel: ARITHMETIC ORDER AND WIDTH match
  * the declarative form it replaces — sequential left-to-right double
  * sums, Java long shifts, md5 prefix bytes — so results are
  * bit-identical, not approximately equal.
  */
object HashKernels {
  private val digests = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** Hex digits [off, off + nibbles) of md5(bytes) as an unsigned
    * long — exactly `conv(substring(md5(c), off, nibbles), 16, 10)`
    * for nibbles <= 15 (value < 2^60, so the long never overflows;
    * off is 1-based like substring). */
  def md5Slice(bytes: Array[Byte], off: Int, nibbles: Int): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(bytes)
    var v = 0L
    var i = off - 1
    val end = i + nibbles
    while (i < end) {
      val b = d(i >> 1) & 0xff
      val nib = if ((i & 1) == 0) b >> 4 else b & 0xf
      v = (v << 4) | nib
      i += 1
    }
    v
  }
}

object TextKernels {
  /** Byte offset of each character in a UTF8String: offsets(i) is the
    * start of char i; offsets(numChars) is the total byte length.
    * ASCII-only strings short-circuit to identity. */
  private def charOffsets(bytes: Array[Byte], numChars: Int): Array[Int] = {
    val offs = new Array[Int](numChars + 1)
    var o = 0
    var c = 0
    while (c < numChars) {
      offs(c) = o
      o += UTF8String.numBytesForFirstByte(bytes(o))
      c += 1
    }
    offs(numChars) = bytes.length
    offs
  }

  private val digests = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** Winnowing fingerprints (k-gram md5 window minima) in one pass —
    * value-identical to
    * `TextOps.winnowWinners(TextOps.winnowKeys(text, k), w)`:
    *  - hkeys(i) = md5Prefix10(utf8(text[i..i+k))) * 2^21 + (2^21-1-i),
    *    i 1-based over the n-k+1 grams (chars, not bytes);
    *  - sliding min over windows of w consecutive hkeys (all windows
    *    when grams < w collapse to the single global min);
    *  - distinct winners in first-occurrence order (each window min
    *    covers a contiguous start range, and a global hash-value
    *    duplicate is deduped exactly like `array_distinct`);
    *  - struct(pos = 2^21-1 - (hk & (2^21-1)), fp = hk >> 21).
    * The declarative form paid one md5 hex round trip per gram plus an
    * O(n*w) slice/array_min HOF pass; this is one digest per gram and
    * an O(n) monotonic-deque min, no intermediate arrays. */
  def winnowFingerprints(text: UTF8String, k: Int, w: Int): ArrayData = {
    val n = text.numChars()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val bytes = text.getBytes
    val ascii = bytes.length == n
    val offs = if (ascii) null else charOffsets(bytes, n)
    val grams = n - k + 1
    val hkeys = new Array[Long](grams)
    val md = digests.get()
    var i = 0
    while (i < grams) {
      // chars [i, i+k) as bytes
      val from = if (ascii) i else offs(i)
      val until = if (ascii) i + k else offs(i + k)
      md.reset()
      md.update(bytes, from, until - from)
      val d = md.digest()
      // first 10 hex digits = first 5 bytes (40 bits)
      val h = ((d(0) & 0xffL) << 32) | ((d(1) & 0xffL) << 24) |
        ((d(2) & 0xffL) << 16) | ((d(3) & 0xffL) << 8) | (d(4) & 0xffL)
      hkeys(i) = h * 2097152L + (2097151L - (i + 1))
      i += 1
    }
    val starts = math.max(1, grams - w + 1)
    // monotonic ascending deque of indexes into hkeys
    val deque = new Array[Int](grams)
    var head = 0
    var tail = 0 // exclusive
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new java.util.ArrayList[Any]()
    var s = 0
    while (s < starts) {
      val last = math.min(s + w, grams) - 1 // window [s, s+w)
      // push new elements entering the window
      val from = if (s == 0) 0 else last
      var j = from
      while (j <= last) {
        while (tail > head && hkeys(deque(tail - 1)) >= hkeys(j)) tail -= 1
        deque(tail) = j
        tail += 1
        j += 1
      }
      // drop elements left of the window
      while (deque(head) < s) head += 1
      val hk = hkeys(deque(head))
      if (seen.add(hk)) {
        out.add(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](2097151L - (hk & 2097151L), hk >> 21)))
      }
      s += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Lower-cased `[a-z0-9]+` word runs — value-identical to
    * `regexp_extract_all(lower(text), '[a-z0-9]+', 0)`. The pattern is
    * pure ASCII and UTF-8 multi-byte sequences never contain ASCII
    * bytes, so a byte scan over the lowered string finds exactly the
    * regex's match runs without a Matcher per row. */
  /** `words(text).length >= n` without building the array: the same
    * lowered-byte run scan, counting runs and short-circuiting at the
    * nth — O(bytes until the nth word) for the row-set filters that
    * gate sig generation, instead of a second full tokenization in the
    * Filter operator (Filter and Project never share subexpressions,
    * even inside one WholeStageCodegen stage). The toLowerCase is kept:
    * Unicode lowercasing can CREATE ASCII word bytes (U+0130 lowers to
    * "i" + combining dot), so scanning the raw bytes would diverge. */
  def countWordsAtLeast(text: UTF8String, n: Int): Boolean = {
    if (n <= 0) return true
    val bytes = text.toLowerCase.getBytes
    var i = 0
    var count = 0
    val len = bytes.length
    while (i < len) {
      val b = bytes(i)
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        count += 1
        if (count >= n) return true
        i += 1
        while (i < len && {
          val c = bytes(i)
          (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
        }) i += 1
      } else i += 1
    }
    false
  }

  /** Count of `\S+` runs — value-identical to
    * `size(regexp_extract_all(text, "\\S+", 0))` with no match-array
    * materialization. Java regex `\s` without UNICODE flags is exactly
    * the six ASCII bytes below (U+00A0 etc. are NOT whitespace and
    * UTF-8 continuation bytes never alias ASCII), so a raw byte scan
    * counts the regex's runs. */
  def tokenCount(text: UTF8String): Int = {
    val bytes = text.getBytes
    var i = 0
    var count = 0
    val len = bytes.length
    while (i < len) {
      val b = bytes(i)
      val ws = b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'
      if (!ws) {
        count += 1
        i += 1
        while (i < len && {
          val c = bytes(i)
          !(c == ' ' || c == '\t' || c == '\n' || c == 0x0b || c == '\f' || c == '\r')
        }) i += 1
      } else i += 1
    }
    count
  }

  /** Count of `[a-z]` chars in the lowered string — value-identical to
    * `size(regexp_extract_all(lower(text), "[a-z]", 0))` (each match is
    * one ASCII char, so the count is the a-z byte count of the lowered
    * bytes; lowering first is load-bearing — see countWordsAtLeast). */
  def alphaCount(text: UTF8String): Int = {
    val bytes = text.toLowerCase.getBytes
    var i = 0
    var count = 0
    val len = bytes.length
    while (i < len) {
      val b = bytes(i)
      if (b >= 'a' && b <= 'z') count += 1
      i += 1
    }
    count
  }

  def words(text: UTF8String): ArrayData = {
    val lowered = text.toLowerCase
    val bytes = lowered.getBytes
    val out = new java.util.ArrayList[Any]()
    var i = 0
    val len = bytes.length
    while (i < len) {
      val b = bytes(i)
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        val start = i
        i += 1
        while (i < len && {
          val c = bytes(i)
          (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
        }) i += 1
        out.add(UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, start, i)))
      } else i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** hash32 of every word n-gram shingle ("w1 w2 ..."), duplicates
    * preserved — value-identical to exploding
    * `Dedup.shingles(text, n)` through `Dedup.hash32` (md5 of the
    * space-joined shingle, first 8 hex digits), with no shingle-string
    * allocation: the digest is fed the word bytes and separators
    * directly. Fewer than n words yields an empty array (the
    * `shingles` otherwise-branch). `distinct = true` dedups values in
    * first-occurrence order — the per-document distinct of the shingle
    * set, computed row-locally instead of via a corpus-wide
    * `.distinct()` exchange. */
  def shingleHash32(words: ArrayData, n: Int, distinct: Boolean): ArrayData = {
    val sz = words.numElements()
    if (sz < n) return new GenericArrayData(Array.empty[Any])
    val wb = new Array[Array[Byte]](sz)
    var i = 0
    while (i < sz) { wb(i) = words.getUTF8String(i).getBytes; i += 1 }
    val md = digests.get()
    val out = new Array[Long](sz - n + 1)
    i = 0
    while (i <= sz - n) {
      md.reset()
      var j = 0
      while (j < n) {
        if (j > 0) md.update(' '.toByte)
        md.update(wb(i + j))
        j += 1
      }
      val d = md.digest()
      out(i) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      i += 1
    }
    if (!distinct) return new GenericArrayData(out)
    val seen = new java.util.HashSet[java.lang.Long]()
    val ded = new java.util.ArrayList[Any]()
    i = 0
    while (i < out.length) {
      if (seen.add(out(i))) ded.add(out(i))
      i += 1
    }
    new GenericArrayData(ded.toArray)
  }

  /** Adjacent word bigrams ("a b") — value-identical to
    * `transform(sequence(1, size(ws)-1), i => concat_ws(" ", ws[i],
    * ws[i+1]))` with the under-two-words empty-array branch, without
    * the per-bigram HOF/concat_ws evaluation. */
  def bigrams(words: ArrayData): ArrayData = {
    val sz = words.numElements()
    if (sz < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](sz - 1)
    var prev = words.getUTF8String(0)
    var i = 1
    while (i < sz) {
      val cur = words.getUTF8String(i)
      val pb = prev.getBytes
      val cb = cur.getBytes
      val b = new Array[Byte](pb.length + 1 + cb.length)
      System.arraycopy(pb, 0, b, 0, pb.length)
      b(pb.length) = ' '.toByte
      System.arraycopy(cb, 0, b, pb.length + 1, cb.length)
      out(i - 1) = UTF8String.fromBytes(b)
      prev = cur
      i += 1
    }
    new GenericArrayData(out)
  }

  /** 60-bit SimHash straight from the word array — value-identical to
    * exploding words through hash60 and taking the 60 conditional-sum
    * votes per doc (`Dedup.simhash`'s former aggregation): votes are
    * summed per word WITH multiplicity, bit k set iff its vote sum is
    * strictly positive. Row-local — the explode + groupBy(id) + 60-sum
    * aggregate (one full (id, hash) exchange) disappears entirely. */
  def simhash60(words: ArrayData): Long = {
    val votes = new Array[Int](60)
    val md = digests.get()
    val sz = words.numElements()
    var i = 0
    while (i < sz) {
      md.reset()
      val d = md.digest(words.getUTF8String(i).getBytes)
      // first 15 hex digits = 60 bits
      var h = 0L
      var j = 0
      while (j < 15) {
        val b = d(j >> 1) & 0xff
        val nib = if ((j & 1) == 0) b >> 4 else b & 0xf
        h = (h << 4) | nib
        j += 1
      }
      var k = 0
      while (k < 60) {
        if (((h >> k) & 1L) == 1L) votes(k) += 1 else votes(k) -= 1
        k += 1
      }
      i += 1
    }
    var sig = 0L
    var k = 0
    while (k < 60) {
      if (votes(k) > 0) sig |= 1L << k
      k += 1
    }
    sig
  }

  /** MinHash signature straight from the word array — the
    * [[MinHashKernel.signature]] update loop fed by [[shingleHash32]]'s
    * digest-direct shingle hashes (no shingle strings). */
  def minhashSigWords(words: ArrayData, n: Int, c: MinHashCoeffs): ArrayData = {
    val as = c.as; val bs = c.bs; val p = c.p
    val k = as.length
    val mins = Array.fill(k)(Long.MaxValue)
    val sz = words.numElements()
    val md = digests.get()
    if (sz >= n) {
      val wb = new Array[Array[Byte]](sz)
      var i = 0
      while (i < sz) { wb(i) = words.getUTF8String(i).getBytes; i += 1 }
      i = 0
      while (i <= sz - n) {
        md.reset()
        var j = 0
        while (j < n) {
          if (j > 0) md.update(' '.toByte)
          md.update(wb(i + j))
          j += 1
        }
        val d = md.digest()
        val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        j = 0
        while (j < k) {
          val v = (as(j) * h + bs(j)) % p
          if (v < mins(j)) mins(j) = v
          j += 1
        }
        i += 1
      }
    }
    new GenericArrayData(mins)
  }
}

object VecKernels {
  /** Sequential left-to-right sum of products — the exact operation
    * order of `aggregate(zip_with(a, b, _*_), 0.0, _+_)`, including
    * its null semantics (null element or unequal lengths => null,
    * because zip_with pads the short side with nulls). */
  def dot(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** Sequential sum of squared differences — exact order of
    * `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0.0, _+_)`. */
  def l2(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getDouble(i) - b.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** Summed per-element xor popcount over two long arrays — exact
    * value of `aggregate(zip_with(a, b, bit_count(xor)), 0, _+_)`. */
  def hammingWide(a: ArrayData, b: ArrayData): java.lang.Integer = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    acc
  }
}

object SpatialKernels {
  /** Even-odd ray cast, identical edge order and IEEE arithmetic to
    * the zip_with/aggregate form in [[graft.engine.Spatial]]: edges
    * (v_i, v_{i+1 mod n}); a null vertex or field never toggles (the
    * HOF's `when(c, !acc).otherwise(acc)` with null c keeps acc). */
  def pointInPolygon(px: Double, py: Double, vertices: ArrayData): Boolean = {
    val n = vertices.numElements()
    var in = false
    var i = 0
    while (i < n) {
      if (!vertices.isNullAt(i) && !vertices.isNullAt((i + 1) % n)) {
        val a = vertices.getStruct(i, 2)
        val b = vertices.getStruct((i + 1) % n, 2)
        if (!a.isNullAt(0) && !a.isNullAt(1) && !b.isNullAt(0) && !b.isNullAt(1)) {
          val ax = a.getDouble(0); val ay = a.getDouble(1)
          val bx = b.getDouble(0); val by = b.getDouble(1)
          if (((ay > py) != (by > py)) &&
            (px < (bx - ax) * (py - ay) / (by - ay) + ax)) in = !in
        }
      }
      i += 1
    }
    in
  }

  /** Squared distance from (px, py) to the polygon boundary (min over
    * closed-ring segments). */
  private def boundaryDist2(px: Double, py: Double, vs: ArrayData): Double = {
    val n = vs.numElements()
    var best = Double.MaxValue
    var i = 0
    while (i < n) {
      val a = vs.getStruct(i, 2)
      val b = vs.getStruct((i + 1) % n, 2)
      val ax = a.getDouble(0); val ay = a.getDouble(1)
      val bx = b.getDouble(0); val by = b.getDouble(1)
      val dx = bx - ax; val dy = by - ay
      val len2 = dx * dx + dy * dy
      var t = if (len2 > 0) ((px - ax) * dx + (py - ay) * dy) / len2 else 0.0
      if (t < 0) t = 0 else if (t > 1) t = 1
      val qx = ax + t * dx - px
      val qy = ay + t * dy - py
      val d2 = qx * qx + qy * qy
      if (d2 < best) best = d2
      i += 1
    }
    best
  }

  /** True when any point within `radius` of (cx, cy) can lie inside
    * the polygon: center inside, or boundary within radius. The
    * lossless cell-cover test — a cell keeps its candidates iff some
    * point of the cell COULD be in the polygon (every cell point is
    * within the cell's circumradius of its center). A small absolute
    * epsilon absorbs double rounding at the boundary (candidates only;
    * the exact ray cast above the join decides membership). */
  def cellMayIntersect(
      cx: Double, cy: Double, radius: Double, vs: ArrayData): Boolean = {
    if (pointInPolygon(cx, cy, vs)) return true
    val r = radius + 1e-9 * (1.0 + math.abs(radius))
    boundaryDist2(cx, cy, vs) <= r * r
  }

  /** Packed hex cell id of a point — the
    * [[graft.engine.Spatial.hexAxial]] fractional transform + cube
    * rounding + [[graft.engine.Spatial.hexPack]] in one call, with the
    * IDENTICAL IEEE operation order (Spark FLOOR(double) is
    * `Math.floor(_).toLong`; the column form subtracts the long cast
    * back as a double, mirrored here). The declarative composition
    * expands to a ~20x-repeated expression tree per point (no CSE
    * across the conditional branches) — the dominant per-point cost of
    * the hex join's probe side. */
  def hexCell(px: Double, py: Double, size: Double): Long = {
    val qf = (CellIndex.C1 * px - CellIndex.C2 * py) / size
    val rf = (CellIndex.C3 * py) / size
    val yf = -qf - rf
    val rx = math.floor(qf + 0.5).toLong
    val ry = math.floor(yf + 0.5).toLong
    val rz = math.floor(rf + 0.5).toLong
    val dx = math.abs(rx.toDouble - qf)
    val dy = math.abs(ry.toDouble - yf)
    val dz = math.abs(rz.toDouble - rf)
    val fixQ = dx > dy && dx > dz
    val q = if (fixQ) -ry - rz else rx
    val r = if (!fixQ && !(dy > dz)) -rx - ry else rz
    CellIndex.hexPack(q, r)
  }

  /** Tight polygon cover on a cell index: the cells of the polygon
    * bbox's [[CellIndex.range]] that can hold an in-polygon point —
    * kept unconditionally ([[CellIndex.alwaysKept]]) or passing
    * [[cellMayIntersect]] at the cell's circumradius — as packed ids,
    * in range order (a outer, b inner). A subset of the bbox cover
    * ([[graft.engine.Spatial.bboxCover]]) and still a lossless join
    * prefilter: it drops the cells inside the bbox but away from the
    * polygon, and on the hex grid the axial shear slack of the
    * parallelogram range. */
  def tightCover(vs: ArrayData, index: CellIndex): ArrayData = {
    var xMin = Double.MaxValue; var xMax = Double.MinValue
    var yMin = Double.MaxValue; var yMax = Double.MinValue
    val m = vs.numElements()
    var i = 0
    while (i < m) {
      val v = vs.getStruct(i, 2)
      val x = v.getDouble(0); val y = v.getDouble(1)
      if (x < xMin) xMin = x
      if (x > xMax) xMax = x
      if (y < yMin) yMin = y
      if (y > yMax) yMax = y
      i += 1
    }
    val g = index.range(xMin, yMin, xMax, yMax)
    val radius = index.radius
    val out = new java.util.ArrayList[Any]()
    var a = g.a0
    while (a <= g.a1) {
      var b = g.b0
      while (b <= g.b1) {
        if (index.alwaysKept(a, b) ||
            cellMayIntersect(index.centerX(a, b), index.centerY(a, b), radius, vs))
          out.add(index.id(a, b))
        b += 1
      }
      a += 1
    }
    new GenericArrayData(out.toArray)
  }
}

object BpeKernel {
  /** BPE-encode every word and flatten the tokens — value-identical to
    * `flatten(transform(words, w => split(trim(encodeWord(w, merges)),
    * "  ")))`: per word, split into code points, then apply each merge
    * in rank order as one left-to-right non-overlapping pass
    * ([[graft.text.Bpe.mergeOnce]] — the replace-chain equivalence the
    * Bpe scaladoc and BpeSpec pin). */
  def encodeTokens(words: ArrayData, merges: BpeMerges): ArrayData = {
    val as = merges.as; val bs = merges.bs
    val out = new java.util.ArrayList[Any]()
    val nw = words.numElements()
    var wi = 0
    while (wi < nw) {
      val w = words.getUTF8String(wi).toString
      // code points -> symbol buffer
      var syms = new java.util.ArrayList[String]()
      var ci = 0
      while (ci < w.length) {
        val cp = w.codePointAt(ci)
        val cc = Character.charCount(cp)
        syms.add(w.substring(ci, ci + cc))
        ci += cc
      }
      var mi = 0
      while (mi < as.length) {
        val a = as(mi); val b = bs(mi)
        val merged = new java.util.ArrayList[String](syms.size)
        var j = 0
        while (j < syms.size) {
          if (j < syms.size - 1 && syms.get(j) == a && syms.get(j + 1) == b) {
            merged.add(a + b); j += 2
          } else { merged.add(syms.get(j)); j += 1 }
        }
        syms = merged
        mi += 1
      }
      var j = 0
      while (j < syms.size) {
        out.add(UTF8String.fromString(syms.get(j)))
        j += 1
      }
      wi += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** A ranked BPE merge list as one kernel parameter: value equality
  * over `merges`, the two arrays derived once. */
final case class BpeMerges(merges: Seq[(String, String)]) {
  val as: Array[String] = merges.map(_._1).toArray
  val bs: Array[String] = merges.map(_._2).toArray
}
