package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Runtime kernels for the custom Catalyst expressions below. They are
  * `static`-reachable from generated Java, so the expressions keep
  * whole-stage codegen: the generated code is a single call into these
  * loops instead of falling back to interpreted eval.
  */
object ExprKernels {

  /** Exact-decimal dot product of two float arrays, returned as double.
    *
    * Bit-parity contract (QueryGroup scaladoc): each per-dimension product
    * is computed in double (as DuckDB does), converted to a scale-20
    * decimal via the shortest-decimal representation + HALF_UP — exactly
    * Spark's `CAST(double AS DECIMAL(38,20))` — and summed exactly in
    * unbounded precision. The sum is order-independent, so any plan or
    * partitioning produces the identical double.
    */
  def decimalDot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    // Scale-20 fixed-point accumulation in a signed 128-bit (hi, lo)
    // register: per element, parse the shortest-decimal representation
    // (Double.toString — the SAME string BigDecimal.valueOf reads, so each
    // addend is bit-identical to the reference semantics) into an integer
    // number of 1e-20 units, HALF_UP like setScale(20). This replaces the
    // BigDecimal object chain per element — the reference implementation
    // allocated ~200 B × dims per dot, which made wide cosine stages GC-
    // bound at 32 threads — with two longs. Elements too large for the
    // 128-bit path (|p| ≳ 1e17, impossible for unit-normed embeddings)
    // fall back to an exact BigDecimal side-accumulator.
    var hi = 0L
    var lo = 0L
    var slow: JBigDecimal = null
    var i = 0
    while (i < n) {
      val p = a.getFloat(i).toDouble * b.getFloat(i).toDouble
      if (p != 0.0) {
        // NaN/Infinity must fail loudly exactly like the BigDecimal path
        // (valueOf throws NumberFormatException) — the digit parser below
        // would otherwise fold "NaN" into the number 3520
        if (!java.lang.Double.isFinite(p))
          throw new NumberFormatException(s"decimalDot: non-finite product $p")
        // --- parse shortest repr into (sHi, sLo) 1e-20 units, HALF_UP ---
        val s = java.lang.Double.toString(p)
        val len = s.length
        var pos = 0
        var neg = false
        if (s.charAt(0) == '-') { neg = true; pos = 1 }
        var digits = 0L
        var nDigits = 0
        var fracLen = 0
        var inFrac = false
        var exp10 = 0
        var brk = false
        while (pos < len && !brk) {
          val c = s.charAt(pos)
          if (c == '.') inFrac = true
          else if (c == 'E') { exp10 = Integer.parseInt(s, pos + 1, len, 10); brk = true }
          else {
            digits = digits * 10 + (c - '0')
            nDigits += 1
            if (inFrac) fracLen += 1
          }
          pos += 1
        }
        val shift = 20 + exp10 - fracLen
        var sHi = 0L
        var sLo = 0L
        var fast = nDigits <= 18 // shortest repr has ≤ 17 digits
        if (fast) {
          if (shift < 0) {
            // divide by 10^-shift, HALF_UP on the magnitude
            if (-shift >= 19) sLo = 0L // digits < 10^18 ⇒ rounds to 0
            else {
              val p10 = Pow10(-shift)
              val q = digits / p10
              val r = digits % p10
              sLo = if (2 * r >= p10) q + 1 else q
            }
          } else if (shift <= 18) {
            val p10 = Pow10(shift)
            sHi = Math.multiplyHigh(digits, p10)
            sLo = digits * p10
          } else if (shift <= 36) {
            // (digits × 10^18) × 10^(shift−18); in-domain |scaled| ≤ 1e37
            // < 2^123 so no true overflow, guards are defensive.
            // multiplyHigh is SIGNED; lo1 is an unsigned low word, so add
            // the standard correction m when its top bit is set (Java 17
            // has no unsignedMultiplyHigh)
            val hi1 = Math.multiplyHigh(digits, Pow10(18))
            val lo1 = digits * Pow10(18)
            val m = Pow10(shift - 18)
            val uHigh = Math.multiplyHigh(lo1, m) + (if (lo1 < 0) m else 0L)
            val hiPart = hi1 * m + uHigh
            if ((hi1 != 0 && (Long.MaxValue / m) < hi1) || hiPart < 0) fast = false
            else { sHi = hiPart; sLo = lo1 * m }
          } else fast = false
          // cap per-term magnitude at 2^56 in the high word (|p| ≲ 1.3e16)
          // so the running sum's overflow flush below has headroom; larger
          // terms take the exact slow path
          if (fast && (sHi < 0 || sHi > MaxTermHi)) fast = false
        }
        if (fast) {
          if (neg) { sLo = ~sLo + 1; sHi = ~sHi + (if (sLo == 0L) 1L else 0L) }
          val newLo = lo + sLo
          // carry detection for the unsigned low-half addition
          hi += sHi + (((lo & sLo) | ((lo | sLo) & ~newLo)) >>> 63)
          lo = newLo
          // flush the accumulator into the BigDecimal side-sum before it
          // can overflow: |hi| stays ≤ 2^62 + 2^56 per step, never wraps
          if (hi > AccFlushHi || hi < -AccFlushHi) {
            val d = accToDecimal(hi, lo)
            slow = if (slow == null) d else slow.add(d)
            hi = 0L; lo = 0L
          }
        } else {
          val d = JBigDecimal.valueOf(p).setScale(20, RoundingMode.HALF_UP)
          slow = if (slow == null) d else slow.add(d)
        }
      }
      i += 1
    }
    // one conversion per dot: 128-bit unscaled → BigDecimal(scale 20) →
    // correctly-rounded double, exactly BigDecimal.doubleValue()
    var acc = accToDecimal(hi, lo)
    if (slow != null) acc = acc.add(slow)
    acc.doubleValue()
  }

  private final val MaxTermHi = 1L << 56 // per-term cap: |p| ≲ 1.3e16
  private final val AccFlushHi = 1L << 62 // running-sum flush threshold

  /** Signed 128-bit (hi, lo) count of 1e-20 units → BigDecimal(scale 20). */
  private def accToDecimal(hi: Long, lo: Long): JBigDecimal = {
    val bytes = new Array[Byte](16)
    var k = 0
    while (k < 8) { bytes(k) = (hi >>> (56 - 8 * k)).toByte; k += 1 }
    while (k < 16) { bytes(k) = (lo >>> (120 - 8 * k)).toByte; k += 1 }
    new JBigDecimal(new java.math.BigInteger(bytes), 20)
  }

  private val Pow10 = Array.iterate(1L, 19)(_ * 10) // 10^0 .. 10^18

  /** Plain IEEE-double dot product, fixed left-to-right order. Used as the
    * cheap RANKING pass of the filter-verify pattern: |doubleDot − (exact
    * decimal dot as double)| ≤ Σ|aᵢbᵢ|·1.4e-14 (per-term shortest-repr
    * ulp/2 + accumulation ulps + scale-20 rounding), and by Cauchy-Schwarz
    * Σ|aᵢbᵢ| ≤ ‖a‖·‖b‖ — so a COSINE computed from this dot sits within
    * 1.4e-14 + ε of the exact-decimal cosine. Candidates within a 1e-9
    * margin of a selection boundary are re-verified with [[decimalDot]],
    * making filter-verify results provably identical to exact-everywhere.
    */
  def doubleDot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    s
  }

  /** Margin-gated nearest-centroid assignment over a frozen centroid
    * model — the whole quantizer argmin as ONE kernel call. The column
    * spelling (double-score struct sort + CaseWhen over the full
    * exact-decimal argmin tree) is semantically identical but compiles
    * 2 × ncent dot subtrees with inline vector literals per query — the
    * generated-code size cost showed up as a fixed ~0.3–0.5 s per query
    * at sf0.1 while the kernel win only shows at scale. Semantics
    * (pinned by NearestCentroidSpec against the exact column argmin):
    * rank by ds_j = ‖c_j‖² − 2·doubleDot(v, c_j) (same left-to-right
    * summation as [[doubleDot]], ‖c_j‖² precomputed by the model with
    * the column path's sqrt-then-square roundtrip); if the runner-up
    * value trails the winner by MORE than eps = 1e-12·(1 + ‖v‖·maxC)
    * (≥ 50× the provable |ds − s| ≤ 2·1.4e-14·‖v‖·‖c‖ bound — see
    * Lsh.nearestCentroidGated's proof), the double winner IS the exact
    * argmin and no exact tie is possible; otherwise every centroid is
    * rescored with [[decimalDot]] and the (score, cid) minimum wins —
    * exactly the `least()` struct order of the exact spelling. */
  def nearestCentroidGated(v: ArrayData, m: CentroidModel): Long = {
    val k = m.cids.length
    var bestJ = 0
    var bestS = Double.PositiveInfinity
    var secondS = Double.PositiveInfinity
    var selfDot = 0.0
    val n = v.numElements()
    var i = 0
    while (i < n) {
      val x = v.getFloat(i).toDouble
      selfDot += x * x
      i += 1
    }
    var j = 0
    while (j < k) {
      val c = m.embs(j)
      val len = math.min(n, c.length)
      var d = 0.0
      var t = 0
      while (t < len) { d += v.getFloat(t).toDouble * c(t).toDouble; t += 1 }
      val s = m.nrm2(j) - 2.0 * d
      if (s < bestS) { secondS = bestS; bestS = s; bestJ = j }
      else if (s < secondS) secondS = s
      j += 1
    }
    val eps = 1e-12 * (1.0 + math.sqrt(selfDot) * (1 + 1e-10) * m.maxNorm)
    if (secondS - bestS > eps) m.cids(bestJ)
    else {
      // exact rescore of every centroid; (score, cid) lexicographic min
      var exJ = -1
      var exS = 0.0
      j = 0
      while (j < k) {
        val s = m.nrm2(j) - 2.0 * decimalDot(v, ArrayData.toArrayData(m.embs(j)))
        if (exJ < 0 || s < exS || (s == exS && m.cids(j) < m.cids(exJ))) {
          exJ = j; exS = s
        }
        j += 1
      }
      m.cids(exJ)
    }
  }

  /** Integer dot product of two int8 vectors stored as binary columns —
    * the candidate-ranking kernel of the quantized IVF path (Ivf
    * scaladoc): 64 products of two bytes fit a long with ~2^45 headroom,
    * so the loop is pure integer ALU work on the raw byte arrays, no
    * float math and no array-object traffic. */
  def int8Dot(a: Array[Byte], b: Array[Byte]): Long = {
    val n = math.min(a.length, b.length)
    var s = 0L
    var i = 0
    while (i < n) {
      s += a(i) * b(i)
      i += 1
    }
    s
  }

  /** SimHash of a token array over the first `bits` bits of each token's
    * MD5, MSB-first (bit j of the digest bitstream = hex digit ⌈j/4⌉
    * shifted by 3−(j−1)%4). bits ≤ 64. Bit j (1-based) of the result is
    * set when the balance Σ_tokens (bit_j(md5(token))·2 − 1) is ≥ 0 —
    * byte-for-byte the construction in DedupOps' dedup_simhash oracle SQL.
    */
  def simHash(tokens: ArrayData, bits: Int): Long = {
    val md = MessageDigest.getInstance("MD5")
    val bal = new Array[Int](bits)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val tok = tokens.getUTF8String(i)
      if (tok != null) {
        val d = md.digest(tok.getBytes)
        var j = 0
        while (j < bits) {
          val bit = (d(j >> 3) >>> (7 - (j & 7))) & 1
          bal(j) += bit * 2 - 1
          j += 1
        }
      }
      i += 1
    }
    var res = 0L
    var j = 0
    while (j < bits) {
      if (bal(j) >= 0) res |= 1L << j
      j += 1
    }
    res
  }

  /** Per-profile n-gram hit counts of `text`, in one pass over its
    * bytes: entry p is the number of byte positions at which some
    * pattern of profile p starts (overlapping; a position counts once
    * per profile however many of its patterns match there). The HOF
    * spelling (`transform(sequence(...), i -> substring(text, i, k))`)
    * is interpreted AND O(len) per element (UTF8String.substring scans
    * for code points), i.e. O(len²) per row; this is O(len · patterns
    * starting with the byte at each position). A position whose byte
    * starts no pattern costs one table lookup. */
  def ngramHits(text: UTF8String, t: NgramTable): ArrayData = {
    val counts = new Array[Long](t.profiles)
    val b = text.getBytes
    var i = 0
    while (i < b.length) {
      val cand = t.byFirst(b(i) & 0xff)
      if (cand != null) {
        var mask = 0L
        var c = 0
        while (c < cand.length) {
          val p = cand(c)
          val pb = t.pats(p)
          if (i + pb.length <= b.length) {
            var j = 1
            while (j < pb.length && b(i + j) == pb(j)) j += 1
            if (j == pb.length) mask |= t.masks(p)
          }
          c += 1
        }
        while (mask != 0L) {
          counts(java.lang.Long.numberOfTrailingZeros(mask)) += 1
          mask &= mask - 1
        }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(counts)
  }

  /** `lower(regexp_replace(text, '[^A-Za-z ]', ''))` in one byte pass:
    * keep ASCII letters and spaces, lowercase the letters. Every byte ≥
    * 0x80 goes, as the regex drops every non-ASCII character (and, on
    * invalid UTF-8, the replacement character the decoder reads). */
  def asciiLettersLower(text: UTF8String): UTF8String = {
    val b = text.getBytes
    val out = new Array[Byte](b.length)
    var n = 0
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if (c == ' ' || (c >= 'a' && c <= 'z')) { out(n) = c; n += 1 }
      else if (c >= 'A' && c <= 'Z') { out(n) = (c + ('a' - 'A')).toByte; n += 1 }
      i += 1
    }
    UTF8String.fromBytes(out, 0, n)
  }

  /** Whitespace tokens of a text column (split on ' ', empties dropped) —
    * matches `filter(split(text, " "), t => t =!= "")`. Splitting on the
    * raw 0x20 byte is UTF-8-safe (continuation bytes are ≥ 0x80).
    */
  /** Unicode NFC normalization of a string value. ASCII fast path: every
    * pure-ASCII string is already NFC-normal (ASCII characters neither
    * decompose nor combine), so one byte scan returns the input UNCHANGED
    * — zero-copy, no String materialization — unless a high bit appears.
    * Non-ASCII strings take `java.text.Normalizer` (the JDK's Unicode
    * tables), with an `isNormalized` pre-check so already-normal text
    * still avoids the rebuild. On web corpora most documents never leave
    * the fast path, which is what makes NFC affordable as a default
    * pipeline stage at 100 TB.
    */
  def nfc(text: UTF8String): UTF8String = {
    val b = text.getBytes
    var i = 0
    while (i < b.length) {
      if (b(i) < 0) {
        val s = text.toString
        return if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) text
        else UTF8String.fromString(
          java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
      }
      i += 1
    }
    text
  }

  def tokens(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val out = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
    var start = 0
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' '.toByte) {
        if (i > start)
          out += UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, start, i))
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Distinct 3-token shingles of a text column, in first-occurrence order
    * — matches `array_distinct(transform(...))` over [[tokens]] (empty
    * array when < 3 tokens). One pass, no intermediate Catalyst arrays.
    */
  def shingles3(text: UTF8String): ArrayData = {
    val toks = tokens(text)
    val n = toks.numElements()
    if (n < 3) return new GenericArrayData(Array.empty[AnyRef])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val space = UTF8String.fromString(" ")
    var i = 0
    while (i + 2 < n) {
      seen.add(UTF8String.concatWs(space,
        toks.getUTF8String(i), toks.getUTF8String(i + 1), toks.getUTF8String(i + 2)))
      i += 1
    }
    new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size())))
  }

  /** Deterministic random-hyperplane components for LSH bucketing:
    * r(h, i) = ((first 6 hex digits of md5("h|i") as int) % 1000 − 500) /
    * 1000.0 — reproducible in any engine with md5 (the oracle SQL builds
    * the identical planes). Cached per (numPlanes, dim).
    */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  private def hyperplanes(numPlanes: Int, dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((numPlanes, dim), { case (np, d) =>
      val md = MessageDigest.getInstance("MD5")
      Array.tabulate(np) { h0 =>
        Array.tabulate(d) { i0 =>
          val dig = md.digest(s"${h0 + 1}|${i0 + 1}".getBytes("UTF-8"))
          val hex6 = ((dig(0) & 0xffL) << 16) | ((dig(1) & 0xffL) << 8) | (dig(2) & 0xffL)
          ((hex6 % 1000) - 500) / 1000.0
        }
      }
    })

  /** Sign-random-projection LSH bucket of a float vector: bit h−1 set when
    * the exact-decimal dot of the vector with hyperplane h is ≥ 0. Uses
    * the same double-product → scale-20 decimal → exact-sum arithmetic as
    * [[decimalDot]], so bucket assignment is engine-independent.
    */
  def lshBucket(vec: ArrayData, numPlanes: Int): Long = {
    val planes = hyperplanes(numPlanes, vec.numElements())
    var bucket = 0L
    var h = 0
    while (h < numPlanes) {
      val r = planes(h)
      // Fast sign: only the SIGN of the exact scale-20 decimal sum matters
      // here, so compute the plain double sum first and take its sign when
      // the magnitude provably dominates every source of divergence from
      // the exact sum. Per term, |round20(shortest(p)) − p| ≤ ulp(p)/2 +
      // 5e-21 and double accumulation adds ≤ (n−1)·ulp(partial) — both
      // bounded by sumAbs·1.4e-14 + n·5e-21, far below the threshold
      // max(sumAbs·1e-11, 1e-15). Only near-orthogonal sums (measure ~1e-11
      // of inputs) pay the exact decimal path, so the result is IDENTICAL
      // to the always-exact computation, ~500× faster typical. (The decimal
      // value itself, needed by decimalDot, has no such shortcut — parity
      // requires the shortest-repr string path there.)
      var s = 0.0
      var sAbs = 0.0
      var i = 0
      while (i < r.length) {
        val p = vec.getFloat(i).toDouble * r(i)
        s += p
        sAbs += math.abs(p)
        i += 1
      }
      val eps = math.max(sAbs * 1e-11, 1e-15)
      val nonNegative =
        if (s > eps) true
        else if (s < -eps) false
        else {
          var acc = JBigDecimal.ZERO
          i = 0
          while (i < r.length) {
            val p = vec.getFloat(i).toDouble * r(i)
            acc = acc.add(JBigDecimal.valueOf(p).setScale(20, RoundingMode.HALF_UP))
            i += 1
          }
          acc.signum() >= 0
        }
      if (nonNegative) bucket |= 1L << h
      h += 1
    }
    bucket
  }

  /** Always-exact reference for [[lshBucket]] (property-tested against the
    * guarded fast path; never called from query plans).
    */
  private[functions] def lshBucketExact(vec: ArrayData, numPlanes: Int): Long = {
    val planes = hyperplanes(numPlanes, vec.numElements())
    var bucket = 0L
    var h = 0
    while (h < numPlanes) {
      val r = planes(h)
      var acc = JBigDecimal.ZERO
      var i = 0
      while (i < r.length) {
        val p = vec.getFloat(i).toDouble * r(i)
        acc = acc.add(JBigDecimal.valueOf(p).setScale(20, RoundingMode.HALF_UP))
        i += 1
      }
      if (acc.signum() >= 0) bucket |= 1L << h
      h += 1
    }
    bucket
  }

  /** Johnson-Lindenstrauss random projection of a float vector onto the
    * first `k` md5-derived hyperplanes (the SAME planes [[lshBucket]]
    * signs — sign(rpProject(v)(h)) == bit h, an invariant NativeHashSpec
    * pins). Each coordinate is the exact scale-20 decimal sum of the
    * per-dimension double products, cast to double — bit-identical to
    * DuckDB's SUM(CAST(x*rv AS DECIMAL(38,20)))::DOUBLE. BigDecimal
    * accumulation is fine here: the projection runs ONCE per corpus row
    * (a storage-layout transform), not per candidate pair like
    * [[decimalDot]], so the ~µs/plane cost never multiplies.
    */
  def rpProject(vec: ArrayData, k: Int): ArrayData = {
    val planes = hyperplanes(k, vec.numElements())
    val out = new Array[Any](k)
    var h = 0
    while (h < k) {
      val r = planes(h)
      var acc = JBigDecimal.ZERO
      var i = 0
      while (i < r.length) {
        val p = vec.getFloat(i).toDouble * r(i)
        if (p != 0.0) {
          if (!java.lang.Double.isFinite(p))
            throw new NumberFormatException(s"rpProject: non-finite product $p")
          acc = acc.add(JBigDecimal.valueOf(p).setScale(20, RoundingMode.HALF_UP))
        }
        i += 1
      }
      out(h) = acc.doubleValue()
      h += 1
    }
    new GenericArrayData(out)
  }

  private val HexDigits = "0123456789abcdef".toCharArray

  private def toHex(bytes: Array[Byte]): UTF8String = {
    val out = new Array[Byte](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(2 * i) = HexDigits((bytes(i) >>> 4) & 0xf).toByte
      out(2 * i + 1) = HexDigits(bytes(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length && i < b.length) {
      val x = a(i) & 0xff; val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    a.length < b.length
  }

  /** MinHash signature of a shingle set: element h (1-based, h ≤ k) is
    * min over shingles of hex(md5(h + "|" + shingle)) — the classic
    * min-of-keyed-hash construction, identical to the oracle's
    * `MIN(md5(CAST(h AS VARCHAR) || '|' || shingle))` (unsigned byte
    * order == lowercase-hex lexicographic order).
    */
  def minHashSigs(shingles: ArrayData, k: Int): ArrayData = {
    // NOTE (r18 negative result): a hand-rolled allocation-free MD5
    // (scratch-buffer "h|shingle" layout, direct compression calls) was
    // implemented, property-verified, and measured SLOWER — 300 vs 221
    // µs/call on a 150-word document at k=8, dedup_minhash_production
    // 10.9 → 14.1 s at 20× — because HotSpot intrinsifies MessageDigest's
    // MD5 compression (JDK 16+ implMD5). MessageDigest stays; don't re-try
    // a JVM MD5.
    val md = MessageDigest.getInstance("MD5")
    val mins = new Array[Array[Byte]](k)
    val n = shingles.numElements()
    // hoisted per call, not per (shingle, h): the "h|" prefixes are k
    // fixed byte strings, and the digest lands in ONE reusable buffer —
    // the previous per-hash String.valueOf(h).getBytes + md.digest()
    // pair allocated three short-lived objects per MD5 (k·|shingles| of
    // them per document), real GC pressure at production k = 128. The
    // digest bytes are copied only when they become a new minimum.
    val prefixes = new Array[Array[Byte]](k)
    var hp = 0
    while (hp < k) {
      val sv = String.valueOf(hp + 1)
      val b = new Array[Byte](sv.length + 1)
      var j = 0
      while (j < sv.length) { b(j) = sv.charAt(j).toByte; j += 1 }
      b(sv.length) = '|'.toByte
      prefixes(hp) = b
      hp += 1
    }
    val buf = new Array[Byte](16)
    var i = 0
    while (i < n) {
      val sh = shingles.getUTF8String(i)
      if (sh != null) {
        val shBytes = sh.getBytes
        var h = 0
        while (h < k) {
          md.update(prefixes(h))
          md.update(shBytes)
          md.digest(buf, 0, 16)
          if (mins(h) == null) mins(h) = java.util.Arrays.copyOf(buf, 16)
          else if (unsignedLess(buf, mins(h)))
            System.arraycopy(buf, 0, mins(h), 0, 16)
          h += 1
        }
      }
      i += 1
    }
    val out = new Array[AnyRef](k)
    var h = 0
    while (h < k) {
      out(h) = if (mins(h) == null) null else toHex(mins(h))
      h += 1
    }
    new GenericArrayData(out)
  }

  /** LSH band hashes over a MinHash signature array — the codegen twin
    * of the HOF spelling `transform(sequence(0, bands-1), b =>
    * md5(array_join(array_sort(transform(sequence(1, rows), j =>
    * concat((b·rows+j)::string, ':', sigs[b·rows+j]))), ',')))`, which is
    * INTERPRETED per row (nested HOFs never enter whole-stage codegen —
    * the text_langid lesson) and at production k = 128 burned more CPU
    * than the MinHash kernel itself (r18 20× stage tables: ~190 s CPU
    * across the self-join's two band sides + the estimate stage).
    * Semantics replicated exactly, pinned by LshGeometrySpec: 1-based
    * component index prefix, `array_sort` string order (binary unsigned,
    * nulls LAST), `array_join` null-element skipping (no separator), and
    * a null component wherever the signature element is null (concat
    * null-propagation). Output element = lowercase-hex md5 of the joined
    * band string — byte-identical to the expression and to the DuckDB
    * oracle's spelling. */
  def bandHashes(sigs: ArrayData, numBands: Int, bandSize: Int): ArrayData = {
    val n = sigs.numElements()
    require(n >= numBands * bandSize,
      s"band_hashes: signature array has $n elements, need ${numBands * bandSize}")
    val md = MessageDigest.getInstance("MD5")
    val out = new Array[AnyRef](numBands)
    val comps = new Array[UTF8String](bandSize)
    var b = 0
    while (b < numBands) {
      var j = 0
      while (j < bandSize) {
        val idx = b * bandSize + j + 1 // 1-based signature index
        val sig = sigs.getUTF8String(idx - 1)
        comps(j) =
          if (sig == null) null
          else UTF8String.concat(
            UTF8String.fromString(idx.toString + ":"), sig)
        j += 1
      }
      java.util.Arrays.sort(comps, (a: UTF8String, c: UTF8String) =>
        if (a == null && c == null) 0
        else if (a == null) 1
        else if (c == null) -1
        else a.compareTo(c))
      var first = true
      var j2 = 0
      while (j2 < bandSize) {
        val c = comps(j2)
        if (c != null) {
          if (!first) md.update(','.toByte)
          md.update(c.getBytes)
          first = false
        }
        j2 += 1
      }
      out(b) = toHex(md.digest())
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Per-document Gopher repetition metrics from a token array, in one
    * O(n) pass: each token is interned to a small id by byte equality
    * (an open-addressing table over the tokens' own bytes, no copy), and
    * 2-grams are counted by id pair in a second table — no per-2-gram
    * string. Both tables are bounded by the DOCUMENT length, so per-row
    * memory stays bounded however large the corpus. The final fractions
    * use the same double operations as the distributed explode+agg path
    * ([[Curation.repetitionMetrics]]), so the two are bit-identical
    * (CurateStreamSpec pins this). A 2-gram is its pair of tokens, which
    * is the joined "a b" string of that path whenever no token holds a
    * space — always true of [[tokens]]' output. Returns null for docs
    * with < 2 tokens — no 2-grams, the rows the batch path's inner join
    * drops. A null TOKEN (possible only on hand-built arrays; the
    * tokens() kernel never emits one) counts as one distinct word, and
    * every 2-gram holding it as one null gram, matching explode +
    * array_distinct and the null `concat` of that path.
    */
  def repMetrics(toks: ArrayData): InternalRow = {
    val n = toks.numElements()
    if (n < 2) return null
    val ids = new Array[Int](n)
    var words = 0
    var nullId = -1
    val wcap = tableCapacity(n)
    val wkeys = new Array[UTF8String](wcap)
    val wids = new Array[Int](wcap)
    var i = 0
    while (i < n) {
      val tok = toks.getUTF8String(i)
      if (tok == null) {
        if (nullId < 0) { nullId = words; words += 1 }
        ids(i) = nullId
      } else {
        val h = tok.hashCode()
        var slot = (h ^ (h >>> 16)) & (wcap - 1)
        while (wkeys(slot) != null && !wkeys(slot).equals(tok)) slot = (slot + 1) & (wcap - 1)
        if (wkeys(slot) == null) { wkeys(slot) = tok; wids(slot) = words; words += 1 }
        ids(i) = wids(slot)
      }
      i += 1
    }
    // 2-gram key: the id pair, or -1 for the one null gram; Long.MinValue
    // marks a free slot
    val gcap = tableCapacity(n - 1)
    val gkeys = new Array[Long](gcap)
    java.util.Arrays.fill(gkeys, Long.MinValue)
    val gcounts = new Array[Int](gcap)
    var grams = 0
    var maxc = 0
    i = 1
    while (i < n) {
      val key =
        if (ids(i - 1) == nullId || ids(i) == nullId) -1L
        else (ids(i - 1).toLong << 32) | ids(i).toLong
      var slot = ((key * 0x9E3779B97F4A7C15L) >>> 32).toInt & (gcap - 1)
      while (gkeys(slot) != Long.MinValue && gkeys(slot) != key) slot = (slot + 1) & (gcap - 1)
      if (gkeys(slot) == Long.MinValue) { gkeys(slot) = key; grams += 1 }
      gcounts(slot) += 1
      if (gcounts(slot) > maxc) maxc = gcounts(slot)
      i += 1
    }
    val total = (n - 1).toDouble
    new GenericInternalRow(Array[Any](
      n.toLong,
      1.0 - words.toDouble / n.toDouble,
      1.0 - grams.toDouble / total,
      maxc.toDouble / total))
  }

  /** A power of two at least twice `n`: an open-addressing table of `n`
    * keys stays at most half full. */
  private def tableCapacity(n: Int): Int = Integer.highestOneBit(math.max(n, 1) * 4 - 1)
}

/** The [[ExprKernels.ngramHits]] lookup over a list of profiles (at most
  * 64, each a non-empty list of non-empty patterns): the distinct
  * patterns as bytes, for each one the bit set of profiles that hold it,
  * and for each first byte the patterns that start with it (null when
  * none does). Built once per expression. */
final case class NgramTable(profiles: Int, pats: Array[Array[Byte]],
    masks: Array[Long], byFirst: Array[Array[Int]])

object NgramTable {
  def apply(profiles: Seq[Seq[String]]): NgramTable = {
    require(profiles.nonEmpty && profiles.size <= 64,
      s"need 1 to 64 n-gram profiles, got ${profiles.size}")
    require(profiles.forall(p => p.nonEmpty && p.forall(_.nonEmpty)),
      "every n-gram profile needs non-empty patterns")
    val distinct = profiles.flatten.distinct
    val masks = distinct.map(p => profiles.zipWithIndex.collect {
      case (prof, i) if prof.contains(p) => 1L << i
    }.sum).toArray
    val pats = distinct.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray
    val byFirst = Array.tabulate(256) { b =>
      val ix = pats.indices.filter(p => (pats(p)(0) & 0xff) == b).toArray
      if (ix.isEmpty) null else ix
    }
    NgramTable(profiles.size, pats, masks, byFirst)
  }
}

/** Exact-decimal dot product (see [[ExprKernels.decimalDot]]). */
case class DecimalDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  // note: no explicit Seq[AbstractDataType] annotation — that type is
  // private[sql]; the inferred type conforms
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ExprKernels.decimalDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ExprKernels.decimalDot($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DecimalDot =
    copy(left = newLeft, right = newRight)
}

/** Plain-double dot product (see [[ExprKernels.doubleDot]]). NULL when
  * either array is NULL; arrays of unequal length dot over the shorter
  * length (an empty array gives 0.0); a NaN component gives NaN. */
case class DoubleDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ExprKernels.doubleDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ExprKernels.doubleDot($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DoubleDot =
    copy(left = newLeft, right = newRight)
}

/** Int8 dot product over binary columns (see [[ExprKernels.int8Dot]]).
  * NULL when either input is NULL; inputs of unequal length dot over the
  * shorter length (an empty input gives 0). */
case class Int8Dot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(BinaryType, BinaryType)
  override def dataType: DataType = LongType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ExprKernels.int8Dot(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ExprKernels.int8Dot($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Int8Dot =
    copy(left = newLeft, right = newRight)
}

/** Frozen centroid model for [[ExprKernels.nearestCentroidGated]]:
  * parallel arrays of centroid id, embedding, and ‖c‖² — the latter
  * computed as (sqrt of the exact decimal self-dot)², EXACTLY the column
  * arithmetic (`nrm` column squared) the batch plans and DuckDB oracles
  * use, ulp for ulp. `maxNorm` feeds the per-row error margin. */
final case class CentroidModel(cids: Array[Long], embs: Array[Array[Float]],
    nrm2: Array[Double], maxNorm: Double)

object CentroidModel {
  def apply(centroids: Seq[(Long, Array[Float])]): CentroidModel = {
    require(centroids.nonEmpty, "CentroidModel: need at least one centroid")
    val norms = centroids.map { case (_, c) =>
      math.sqrt(ExprKernels.decimalDot(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(c),
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(c)))
    }
    CentroidModel(
      centroids.map(_._1).toArray,
      centroids.map(_._2).toArray,
      norms.map(n => n * n).toArray,
      norms.max)
  }
}

/** Margin-gated nearest-centroid id over a frozen [[CentroidModel]]
  * (see [[ExprKernels.nearestCentroidGated]]). */
case class NearestCentroidGated(child: Expression, model: CentroidModel)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    ExprKernels.nearestCentroidGated(v.asInstanceOf[ArrayData], model)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroidModel", model,
      "graft.functions.CentroidModel")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ExprKernels.nearestCentroidGated($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): NearestCentroidGated =
    copy(child = newChild)
}

/** LSH band hashes over a MinHash signature array (see
  * [[ExprKernels.bandHashes]]). NULL for a NULL array; a NULL signature
  * element drops out of its band's md5 input (a band of NULLs hashes the
  * empty string); an array shorter than numBands × bandSize throws
  * IllegalArgumentException. */
case class BandHashes(child: Expression, numBands: Int, bandSize: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(numBands >= 1 && bandSize >= 1,
    s"band_hashes: numBands($numBands) and bandSize($bandSize) must be >= 1")
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(sigs: Any): Any =
    ExprKernels.bandHashes(sigs.asInstanceOf[ArrayData], numBands, bandSize)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ExprKernels.bandHashes($c, $numBands, $bandSize)")
  override protected def withNewChildInternal(newChild: Expression): BandHashes =
    copy(child = newChild)
}

/** SimHash over a token array (see [[ExprKernels.simHash]]). NULL for a
  * NULL array; NULL tokens are skipped, so an empty array hashes to
  * `bits` one bits. */
case class SimHash(child: Expression, bits: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(bits >= 1 && bits <= 64, s"bits must be in [1, 64], got $bits")
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override protected def nullSafeEval(tokens: Any): Any =
    ExprKernels.simHash(tokens.asInstanceOf[ArrayData], bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprKernels.simHash($c, $bits)")
  override protected def withNewChildInternal(newChild: Expression): SimHash =
    copy(child = newChild)
}

/** MinHash signatures over a shingle array (see [[ExprKernels.minHashSigs]]).
  * NULL for a NULL array; an empty array gives k NULL signatures; NULL
  * shingles are skipped. */
case class MinHashSigs(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1, s"k must be positive, got $k")
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override protected def nullSafeEval(shingles: Any): Any =
    ExprKernels.minHashSigs(shingles.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprKernels.minHashSigs($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
    copy(child = newChild)
}

/** Sign-random-projection LSH bucket (see [[ExprKernels.lshBucket]]).
  * NULL for a NULL vector; an empty vector's plane sums are all exactly
  * 0, so it lands in the all-ones bucket; a NaN component throws
  * NumberFormatException (its sign is undefined). */
case class LshBucket(child: Expression, numPlanes: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(numPlanes >= 1 && numPlanes <= 63, s"numPlanes must be in [1, 63], got $numPlanes")
  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = LongType
  override protected def nullSafeEval(vec: Any): Any =
    ExprKernels.lshBucket(vec.asInstanceOf[ArrayData], numPlanes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprKernels.lshBucket($c, $numPlanes)")
  override protected def withNewChildInternal(newChild: Expression): LshBucket =
    copy(child = newChild)
}

/** Whitespace tokenization (see [[ExprKernels.tokens]]). NULL for a NULL
  * text; empty and all-space text give an empty array. It splits on the
  * space byte only, so invalid UTF-8 passes through byte for byte. */
case class Tokens(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(text: Any): Any =
    ExprKernels.tokens(text.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprKernels.tokens($c)")
  override protected def withNewChildInternal(newChild: Expression): Tokens =
    copy(child = newChild)
}

/** Random projection onto k md5 hyperplanes (see [[ExprKernels.rpProject]]).
  * NULL for a NULL vector; an empty vector projects to k zeros; a NaN or
  * infinite product throws NumberFormatException. */
case class RpProject(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1 && k <= 64, s"rp_project: k must be in [1, 64], got $k")
  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override protected def nullSafeEval(vec: Any): Any =
    ExprKernels.rpProject(vec.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprKernels.rpProject($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): RpProject =
    copy(child = newChild)
}

/** Unicode NFC normalization (see [[ExprKernels.nfc]]). */
case class NfcNormalize(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override protected def nullSafeEval(text: Any): Any =
    ExprKernels.nfc(text.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprKernels.nfc($c)")
  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** Distinct 3-token shingles (see [[ExprKernels.shingles3]]). NULL for
  * a NULL text; under 3 [[Tokens]] give an empty array. */
case class Shingles3(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(text: Any): Any =
    ExprKernels.shingles3(text.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprKernels.shingles3($c)")
  override protected def withNewChildInternal(newChild: Expression): Shingles3 =
    copy(child = newChild)
}

/** ASCII letters and spaces, lowercased (see [[ExprKernels.asciiLettersLower]]). */
case class AsciiLettersLower(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override protected def nullSafeEval(text: Any): Any =
    ExprKernels.asciiLettersLower(text.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprKernels.asciiLettersLower($c)")
  override protected def withNewChildInternal(newChild: Expression): AsciiLettersLower =
    copy(child = newChild)
}

/** Per-profile n-gram hit counts (see [[ExprKernels.ngramHits]]). */
case class NgramHits(child: Expression, profiles: Seq[Seq[String]])
    extends UnaryExpression with ExpectsInputTypes {
  @transient private lazy val table: NgramTable = NgramTable(profiles)
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(text: Any): Any =
    ExprKernels.ngramHits(text.asInstanceOf[UTF8String], table)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ngramTable", table, classOf[NgramTable].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.ExprKernels.ngramHits($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): NgramHits =
    copy(child = newChild)
}

/** Merge-table BPE tokens of a document (see [[Bpe.bpeTokens]]). */
case class BpeEncode(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(text: Any): Any =
    Bpe.bpeTokens(text.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Bpe.bpeTokens($c)")
  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)
}

/** Per-doc repetition-metrics struct (see [[ExprKernels.repMetrics]]).
  * Null output for < 2 tokens, so codegen uses an explicit null check
  * rather than defineCodeGen (which assumes a non-null result). */
case class RepMetrics(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = RepMetrics.Schema
  override def nullable: Boolean = true
  override protected def nullSafeEval(toks: Any): Any =
    ExprKernels.repMetrics(toks.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.ExprKernels.repMetrics($c);
      ${ev.isNull} = ${ev.value} == null;
    """)
  override protected def withNewChildInternal(newChild: Expression): RepMetrics =
    copy(child = newChild)
}

object RepMetrics {
  val Schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("dup_word_frac", DoubleType, nullable = false),
    StructField("dup_2gram_frac", DoubleType, nullable = false),
    StructField("top_2gram_frac", DoubleType, nullable = false)))
}

/** Column-level entry points for the native expressions. */
object native {
  private def expr(c: Column): Expression = org.apache.spark.sql.graftbridge.expression(c)
  private def col(e: Expression): Column = org.apache.spark.sql.graftbridge.column(e)

  /** Exact-decimal dot product of two float-array columns, as double. */
  def decimal_dot(a: Column, b: Column): Column =
    col(DecimalDot(expr(a), expr(b)))

  /** Plain-double dot product (cheap ranking pass of filter-verify). */
  def double_dot(a: Column, b: Column): Column =
    col(DoubleDot(expr(a), expr(b)))

  /** Int8 dot product of two binary-typed quantized vectors. */
  def int8_dot(a: Column, b: Column): Column =
    col(Int8Dot(expr(a), expr(b)))

  /** SimHash (default 64-bit) of a token-array column. */
  def simhash(tokens: Column, bits: Int = 64): Column =
    col(SimHash(expr(tokens), bits))

  /** k MinHash signatures of a shingle-array column. */
  def minhash_sigs(shingles: Column, k: Int): Column =
    col(MinHashSigs(expr(shingles), k))

  /** LSH band hashes of a MinHash-signature-array column. */
  def band_hashes(sigs: Column, numBands: Int, bandSize: Int): Column =
    col(BandHashes(expr(sigs), numBands, bandSize))

  /** Margin-gated nearest-centroid id over a frozen centroid model. */
  def nearest_centroid_gated(vec: Column, model: CentroidModel): Column =
    col(NearestCentroidGated(expr(vec), model))

  /** Sign-random-projection LSH bucket of a float-vector column. */
  def lsh_bucket(vec: Column, numPlanes: Int): Column =
    col(LshBucket(expr(vec), numPlanes))

  /** Exact-decimal random projection of a float-vector column onto the
    * first k md5 hyperplanes, as array<double>. */
  def rp_project(vec: Column, k: Int): Column =
    col(RpProject(expr(vec), k))

  /** Whitespace tokens (empties dropped) of a text column. */
  def tokens(text: Column): Column = col(Tokens(expr(text)))

  /** Distinct 3-token shingles of a text column. */
  def shingles3(text: Column): Column = col(Shingles3(expr(text)))

  /** Unicode NFC normalization of a text column (ASCII = zero-copy). */
  def nfc(text: Column): Column = col(NfcNormalize(expr(text)))

  /** Merge-table BPE tokens (learned default vocab) of a text column. */
  def bpe_tokens(text: Column): Column = col(BpeEncode(expr(text)))

  /** Per-doc Gopher repetition metrics of a token-array column:
    * struct(n_tokens, dup_word_frac, dup_2gram_frac, top_2gram_frac);
    * null when the doc has < 2 tokens (no 2-grams). */
  def rep_metrics(tokens: Column): Column = col(RepMetrics(expr(tokens)))

  /** ASCII letters and spaces of a text column, lowercased — the
    * `lower(regexp_replace(text, '[^A-Za-z ]', ''))` projection. */
  def ascii_letters_lower(text: Column): Column = col(AsciiLettersLower(expr(text)))

  /** Per-profile n-gram hit counts of a text column, as array<bigint>
    * in profile order: entry p counts the positions where some pattern
    * of `profiles(p)` starts (one pass for all profiles). */
  def ngram_profile_hits(text: Column, profiles: Seq[Seq[String]]): Column =
    col(NgramHits(expr(text), profiles))

  /** Count of the positions where any of `patterns` starts in a text
    * column: the one-profile case of [[ngram_profile_hits]]. */
  def ngram_hits(text: Column, patterns: Seq[String]): Column =
    ngram_profile_hits(text, Seq(patterns)).getItem(0)

  /** Exact scale-`scale` decimal sum of a double column, as double —
    * bit-identical to `sum(cast(c as decimal(38,scale))).cast("double")`
    * with a primitive two-long 128-bit buffer (see [[FixedSum]]). Usable
    * in `agg(...)` and `.over(window)`. */
  def fixed_sum(c: Column, scale: Int): Column =
    col(FixedSum(expr(c), scale).toAggregateExpression())

  /** 256-register HLL sketch (binary) of a string column's distinct
    * values — query with [[hll_estimate]]/[[hll_nonzero]], re-merge
    * with [[hll_merge]]. See [[Sketches]]. */
  def hll_sketch(c: Column): Column =
    col(HllSketchAgg(expr(c)).toAggregateExpression())

  /** Register-wise max merge of stored HLL sketches. */
  def hll_merge(c: Column): Column =
    col(HllMergeAgg(expr(c)).toAggregateExpression())

  /** Deterministic HLL cardinality estimate of a sketch. */
  def hll_estimate(c: Column): Column = col(HllEstimate(expr(c)))

  /** Populated-register count of an HLL sketch. */
  def hll_nonzero(c: Column): Column = col(HllNonzero(expr(c)))

  /** 3×1024 Count-Min counter grid (binary) of a string column. */
  def cms_sketch(c: Column): Column =
    col(CmsSketchAgg(expr(c)).toAggregateExpression())

  /** Weighted CMS build over a pre-grouped (value, count) relation —
    * bit-identical to [[cms_sketch]] over every occurrence. */
  def cms_sketch_weighted(c: Column, w: Column): Column =
    col(CmsSketchWeightedAgg(expr(c), expr(w)).toAggregateExpression())

  /** Count-Min point-frequency estimate of `v` in `sketch`. */
  def cms_query(sketch: Column, v: Column): Column =
    col(CmsQuery(expr(sketch), expr(v)))

  /** 2 KiB Bloom bitset (binary) of a string column's values. */
  def bloom_sketch(c: Column): Column =
    col(BloomSketchAgg(expr(c)).toAggregateExpression())

  /** Bloom membership of `v` in `sketch` (no false negatives). */
  def bloom_contains(sketch: Column, v: Column): Column =
    col(BloomContains(expr(sketch), expr(v)))
}
