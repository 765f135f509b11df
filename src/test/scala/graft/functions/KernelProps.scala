package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, InterpretedUnsafeProjection, Literal, Lower, RegExpReplace}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, FloatType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property tests for the parity-critical pure kernels (SURVEY §5:
  * ScalaCheck for invariants the reference only spot-checks). Each kernel
  * is checked against an independent model implementation over random
  * input (including multi-byte unicode), plus the algebraic invariants
  * the oracle-parity design depends on (order independence of the exact
  * decimal sum, determinism of bucket assignment).
  */
object KernelProps extends Properties("ExprKernels") {

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  private val word: Gen[String] =
    Gen.oneOf(Gen.alphaNumStr.map(_.take(6)), Gen.oneOf("é", "λ", "語", "a b".take(1)))
  private val text: Gen[String] =
    Gen.listOf(Gen.oneOf(word, Gen.const(""), Gen.const(" "))).map(_.mkString(" "))

  private def utf8Arr(xs: Seq[String]) =
    new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any])

  property("tokens == split-and-drop-empties model") = forAll(text) { t =>
    val got = ExprKernels.tokens(UTF8String.fromString(t))
      .toArray[UTF8String](org.apache.spark.sql.types.StringType).map(_.toString).toSeq
    got == t.split(" ", -1).filter(_.nonEmpty).toSeq
  }

  property("shingles3 == distinct sliding-3 model") = forAll(text) { t =>
    val toks = t.split(" ", -1).filter(_.nonEmpty).toSeq
    val model =
      if (toks.size < 3) Seq.empty
      else toks.sliding(3).map(_.mkString(" ")).toSeq.distinct
    val got = ExprKernels.shingles3(UTF8String.fromString(t))
      .toArray[UTF8String](org.apache.spark.sql.types.StringType).map(_.toString).toSeq
    got == model
  }

  property("simhash == md5-bit-voting model") =
    forAll(Gen.listOf(word), Gen.choose(1, 64)) { (toks, bits) =>
      val bal = new Array[Int](bits)
      toks.foreach { tok =>
        val hex = md5hex(tok)
        for (j <- 1 to bits) {
          val nib = Integer.parseInt(hex((j + 3) / 4 - 1).toString, 16)
          val bit = (nib >> (3 - (j - 1) % 4)) & 1
          bal(j - 1) += bit * 2 - 1
        }
      }
      val model = (1 to bits).map(j => if (bal(j - 1) >= 0) 1L << (j - 1) else 0L).sum
      ExprKernels.simHash(utf8Arr(toks), bits) == model
    }

  property("minHashSigs == min-of-keyed-md5 model") =
    forAll(Gen.listOf(word.filter(_.nonEmpty)), Gen.choose(1, 8)) { (shingles, k) =>
      val got = ExprKernels.minHashSigs(utf8Arr(shingles), k)
        .toArray[UTF8String](org.apache.spark.sql.types.StringType)
        .map(Option(_).map(_.toString)).toSeq
      val model = (1 to k).map { h =>
        if (shingles.isEmpty) None
        else Some(shingles.map(s => md5hex(s"$h|$s")).min)
      }
      got == model
    }

  private val vec: Gen[Array[Float]] =
    Gen.nonEmptyListOf(Gen.chooseNum(-100f, 100f)).map(_.toArray)

  property("decimalDot == BigDecimal fold model") = forAll(vec) { v =>
    val a = new GenericArrayData(v)
    val b = new GenericArrayData(v.reverse)
    val model = v.zip(v.reverse).foldLeft(JBigDecimal.ZERO) { case (acc, (x, y)) =>
      acc.add(JBigDecimal.valueOf(x.toDouble * y.toDouble)
        .setScale(20, RoundingMode.HALF_UP))
    }.doubleValue()
    ExprKernels.decimalDot(a, b) == model
  }

  // full float range — subnormals, huge magnitudes, zeros — drives every
  // branch of the fixed-point parser (negative shift, two-step multiply,
  // BigDecimal fallback); the result must stay bit-identical to the model
  private val extremeVec: Gen[Array[Float]] =
    Gen.nonEmptyListOf(Gen.oneOf(
      Gen.const(0f), Gen.const(-0f), Gen.const(1e-40f), Gen.const(-1e-45f),
      Gen.const(3e38f), Gen.const(-2.5e38f), Gen.const(1e-20f),
      Gen.chooseNum(-1e19f, 1e19f), Gen.chooseNum(-1f, 1f),
      Gen.chooseNum(-100f, 100f))).map(_.toArray)

  property("decimalDot == model on extreme magnitudes") =
    forAll(extremeVec) { v =>
      val a = new GenericArrayData(v)
      val b = new GenericArrayData(v.reverse)
      val model = v.zip(v.reverse).foldLeft(JBigDecimal.ZERO) { case (acc, (x, y)) =>
        acc.add(JBigDecimal.valueOf(x.toDouble * y.toDouble)
          .setScale(20, RoundingMode.HALF_UP))
      }.doubleValue()
      ExprKernels.decimalDot(a, b) == model
    }

  property("decimalDot is order-independent (oracle-parity invariant)") =
    forAll(vec) { v =>
      val pairs = v.zipWithIndex
      val perm = scala.util.Random.javaRandomToRandom(new java.util.Random(v.length))
        .shuffle(pairs.toSeq)
      val a1 = new GenericArrayData(pairs.map(_._1))
      val b1 = new GenericArrayData(pairs.map(p => v(v.length - 1 - p._2)))
      val a2 = new GenericArrayData(perm.map(_._1).toArray)
      val b2 = new GenericArrayData(perm.map(p => v(v.length - 1 - p._2)).toArray)
      ExprKernels.decimalDot(a1, b1) == ExprKernels.decimalDot(a2, b2)
    }

  // products in ~1e16..1e19 land in the band where a 128-bit scale-20
  // accumulator can overflow without per-term/flush guards — pin that the
  // guarded fast path still equals the BigDecimal model there
  private val hugeVec: Gen[Array[Float]] =
    Gen.nonEmptyListOf(Gen.oneOf(Gen.chooseNum(8e8f, 4e9f),
      Gen.chooseNum(-4e9f, -8e8f), Gen.chooseNum(-1f, 1f))).map(_.toArray)

  property("decimalDot == model in the accumulator-overflow band") =
    forAll(hugeVec) { v =>
      val a = new GenericArrayData(v)
      val b = new GenericArrayData(v.reverse)
      val model = v.zip(v.reverse).foldLeft(JBigDecimal.ZERO) { case (acc, (x, y)) =>
        acc.add(JBigDecimal.valueOf(x.toDouble * y.toDouble)
          .setScale(20, RoundingMode.HALF_UP))
      }.doubleValue()
      ExprKernels.decimalDot(a, b) == model
    }

  property("decimalDot throws on NaN/Infinity like BigDecimal.valueOf") =
    forAll(Gen.oneOf(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity)) { bad =>
      val a = new GenericArrayData(Array(1.0f, bad))
      val b = new GenericArrayData(Array(1.0f, 1.0f))
      Prop(scala.util.Try(ExprKernels.decimalDot(a, b)).failed.toOption
        .exists(_.isInstanceOf[NumberFormatException]))
    }

  property("doubleDot == left-to-right IEEE fold; within 1.4e-14·Σ|aᵢbᵢ| of decimalDot") =
    forAll(vec) { v =>
      val a = new GenericArrayData(v)
      val b = new GenericArrayData(v.reverse)
      val model = v.zip(v.reverse).foldLeft(0.0) { case (s, (x, y)) =>
        s + x.toDouble * y.toDouble
      }
      val sumAbs = v.zip(v.reverse).map { case (x, y) => math.abs(x.toDouble * y.toDouble) }.sum
      val dd = ExprKernels.doubleDot(a, b)
      dd == model &&
        math.abs(dd - ExprKernels.decimalDot(a, b)) <= math.max(sumAbs * 1.4e-14, 1e-15)
    }

  // plane values re-derived HERE from the documented formula
  // (r(h,i) = ((md5("h|i")[0:6hex] % 1000) - 500)/1000.0) — an
  // independent spelling, not a call into the kernel's own cache
  private def rpProjectModel(v: Array[Float], k: Int): Seq[Double] = {
    def plane(h: Int, dim: Int): Array[Double] =
      Array.tabulate(dim) { i0 =>
        val hex6 = java.lang.Long.parseLong(md5hex(s"$h|${i0 + 1}").take(6), 16)
        ((hex6 % 1000) - 500) / 1000.0
      }
    (1 to k).map { h =>
      val r = plane(h, v.length)
      v.zip(r).foldLeft(JBigDecimal.ZERO) { case (acc, (x, rv)) =>
        val p = x.toDouble * rv
        if (p == 0.0) acc
        else acc.add(JBigDecimal.valueOf(p).setScale(20, RoundingMode.HALF_UP))
      }.doubleValue()
    }
  }

  property("rpProject == independently derived md5-plane BigDecimal model") =
    forAll(vec, Gen.choose(1, 16)) { (v, k) =>
      val got = ExprKernels.rpProject(new GenericArrayData(v), k)
        .toDoubleArray().toSeq
      val model = rpProjectModel(v, k)
      got == model
    }

  property("lshBucket is deterministic and within 2^planes") =
    forAll(vec, Gen.choose(1, 16)) { (v, planes) =>
      val a = new GenericArrayData(v)
      val b1 = ExprKernels.lshBucket(a, planes)
      val b2 = ExprKernels.lshBucket(new GenericArrayData(v.clone()), planes)
      Prop(b1 == b2 && b1 >= 0 && b1 < (1L << planes))
    }

  // Zeros and tiny magnitudes push the double sums toward the fallback
  // threshold; the guarded fast sign must agree with the exact decimal
  // path everywhere, or bucket assignment diverges from the oracle SQL.
  private val edgeVec: Gen[Array[Float]] =
    Gen.nonEmptyListOf(Gen.oneOf(Gen.const(0f), Gen.chooseNum(-1e-6f, 1e-6f),
      Gen.chooseNum(-100f, 100f))).map(_.toArray)

  property("lshBucket guarded fast path == always-exact path") =
    forAll(edgeVec, Gen.choose(1, 32)) { (v, planes) =>
      val a = new GenericArrayData(v)
      ExprKernels.lshBucket(a, planes) == ExprKernels.lshBucketExact(a, planes)
    }

  // the model the text_langid_ngram oracle executes, per profile: count
  // the byte positions i where some pattern of the profile starts
  // (sliding, overlapping); the kernel makes one pass for all profiles,
  // under codegen and interpreted evaluation alike
  private val ngramChar: Gen[String] = Gen.oneOf("a", "b", "c", " ", "\u00e9", "\u8a9e")
  private val ngramText: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.const(Some("")),
    8 -> Gen.listOf(ngramChar).map(cs => Some(cs.mkString)))
  private val ngramProfiles: Gen[Seq[Seq[String]]] = Gen.choose(1, 5).flatMap(n =>
    Gen.listOfN(n, Gen.nonEmptyListOf(Gen.choose(1, 3).flatMap(k =>
      Gen.listOfN(k, ngramChar).map(_.mkString))).map(_.distinct)))

  /** `e` under codegen and interpreted evaluation (the projections
    * spark.sql.codegen.factoryMode CODEGEN_ONLY and NO_CODEGEN pick),
    * each returning its own copy of the output row. */
  private def evals(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[InternalRow => InternalRow] =
    Seq(GenerateUnsafeProjection.generate(Seq(e)),
      InterpretedUnsafeProjection.createProjection(Seq(e)))
      .map(proj => (row: InternalRow) => proj(row).copy())

  // the kNN kernels, each under codegen and interpreted evaluation
  // against its model: NULL and empty arrays, arrays of unequal length
  // (both dots read the shorter length), NaN and ±0.0. An outcome is the
  // value (doubles by bit pattern, so NaN equals NaN and -0.0 is not
  // 0.0), NULL, or the class of the exception thrown
  private type Outcome = Either[Class[_], Option[Any]]
  private def outcome(f: => Option[Any]): Outcome =
    scala.util.Try(f).toEither.left.map(_.getClass)

  private def agrees(e: org.apache.spark.sql.catalyst.expressions.Expression,
      row: InternalRow, read: InternalRow => Any, model: => Option[Any]): Boolean = {
    val want = outcome(model)
    evals(e).forall(eval => outcome {
      val out = eval(row)
      if (out.isNullAt(0)) None else Some(read(out))
    } == want)
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)
  private def floatArg(i: Int) = BoundReference(i, ArrayType(FloatType), nullable = true)
  private def floats(v: Option[Array[Float]]): ArrayData = v.map(new GenericArrayData(_)).orNull

  private def knnArray[T: scala.reflect.ClassTag](elem: Gen[T]): Gen[Option[Array[T]]] =
    Gen.frequency(1 -> Gen.const(None), 1 -> Gen.const(Some(Array.empty[T])),
      8 -> Gen.listOf(elem).map(xs => Some(xs.toArray)))
  private val knnVec: Gen[Option[Array[Float]]] = knnArray(Gen.frequency(
    8 -> Gen.chooseNum(-100f, 100f), 1 -> Gen.oneOf(0f, -0f, Float.NaN)))

  property("double_dot == shorter-length IEEE fold, codegen and interpreted") =
    forAll(knnVec, knnVec) { (a, b) =>
      val model = for (x <- a; y <- b) yield bits(x.zip(y).foldLeft(0.0) {
        case (s, (p, q)) => s + p.toDouble * q.toDouble })
      agrees(DoubleDot(floatArg(0), floatArg(1)), InternalRow(floats(a), floats(b)),
        r => bits(r.getDouble(0)), model)
    }

  property("int8_dot == shorter-length Long fold, codegen and interpreted") =
    forAll(knnArray(Gen.chooseNum(Byte.MinValue, Byte.MaxValue)),
      knnArray(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))) { (a, b) =>
      val model = for (x <- a; y <- b) yield x.zip(y).foldLeft(0L) {
        case (s, (p, q)) => s + p.toLong * q.toLong }
      val arg = (i: Int) => BoundReference(i, BinaryType, nullable = true)
      agrees(Int8Dot(arg(0), arg(1)), InternalRow(a.orNull, b.orNull), _.getLong(0), model)
    }

  property("lsh_bucket == always-exact path, codegen and interpreted") =
    forAll(knnVec, Gen.choose(1, 16)) { (v, planes) =>
      agrees(LshBucket(floatArg(0), planes), InternalRow(floats(v)), _.getLong(0),
        v.map(x => ExprKernels.lshBucketExact(new GenericArrayData(x), planes)))
    }

  property("rp_project == md5-plane BigDecimal model, codegen and interpreted") =
    forAll(knnVec, Gen.choose(1, 8)) { (v, k) =>
      agrees(RpProject(floatArg(0), k), InternalRow(floats(v)),
        _.getArray(0).toDoubleArray().toSeq.map(bits), v.map(rpProjectModel(_, k).map(bits)))
    }

  property("ngramHits == sliding-window membership model") =
    forAll(ngramText, ngramProfiles) { (t, profiles) =>
      val model = t.map { s =>
        val b = s.getBytes("UTF-8")
        profiles.map(pats => b.indices.count(i =>
          pats.exists(p => b.drop(i).startsWith(p.getBytes("UTF-8")))).toLong)
      }
      val kernel = NgramHits(BoundReference(0, StringType, nullable = true), profiles)
      val row = InternalRow(t.map(UTF8String.fromString).orNull)
      evals(kernel).forall { eval =>
        val out = eval(row)
        if (out.isNullAt(0)) model.isEmpty
        else model.contains(out.getArray(0).toLongArray().toSeq)
      }
    }

  // ExprKernels.repMetrics (token ids, 2-grams by id pair) vs the
  // HashSet/HashMap spelling it replaced (2-grams as joined strings),
  // through Tokens under codegen and interpreted evaluation, and
  // directly on hand-built arrays holding null tokens
  private def repMetricsReference(toks: ArrayData): InternalRow = {
    val n = toks.numElements()
    if (n < 2) return null
    val space = UTF8String.fromString(" ")
    val words = new java.util.HashSet[UTF8String](n * 2)
    val grams = new java.util.HashMap[UTF8String, Array[Long]](n * 2)
    var prev = toks.getUTF8String(0)
    words.add(prev)
    var maxc = 0L
    var i = 1
    while (i < n) {
      val cur = toks.getUTF8String(i)
      words.add(cur)
      val g = if (prev == null || cur == null) null else UTF8String.concat(prev, space, cur)
      val c = grams.get(g)
      val nc = if (c == null) { grams.put(g, Array(1L)); 1L } else { c(0) += 1; c(0) }
      if (nc > maxc) maxc = nc
      prev = cur
      i += 1
    }
    val total = (n - 1).toDouble
    InternalRow(n.toLong, 1.0 - words.size().toDouble / n.toDouble,
      1.0 - grams.size().toDouble / total, maxc.toDouble / total)
  }

  private def repFields(r: InternalRow): Option[(Long, Double, Double, Double)] =
    Option(r).map(m => (m.getLong(0), m.getDouble(1), m.getDouble(2), m.getDouble(3)))

  // few distinct words, so 2-grams repeat; NULL, empty, all-space and
  // repeated-space texts, 1 and 2 tokens, and multi-byte UTF-8
  private val repWord: Gen[String] = Gen.oneOf("a", "b", "ab", "\u00e9", "\u8a9e", "\ud83d\ude00")
  private val repText: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.oneOf("", " ", "   ", "a", " a ", "a  b", "\u00e9 \u00e9").map(Some(_)),
    8 -> Gen.listOf(Gen.oneOf(repWord, Gen.const(""), Gen.const(" "))).map(ws => Some(ws.mkString(" "))))

  property("repMetrics == HashSet/HashMap reference, codegen and interpreted") =
    forAll(repText) { t =>
      val text = t.map(UTF8String.fromString)
      val want = text.flatMap(u => repFields(repMetricsReference(ExprKernels.tokens(u))))
      val kernel = RepMetrics(Tokens(BoundReference(0, StringType, nullable = true)))
      evals(kernel).forall { eval =>
        val out = eval(InternalRow(text.orNull))
        val got = if (out.isNullAt(0)) None else repFields(out.getStruct(0, 4))
        got == want
      }
    }

  property("repMetrics == reference on hand-built arrays with null tokens") =
    forAll(Gen.listOf(Gen.option(repWord))) { ws =>
      val arr = new GenericArrayData(ws.map(_.map(UTF8String.fromString).orNull).toArray[Any])
      repFields(ExprKernels.repMetrics(arr)) == repFields(repMetricsReference(arr))
    }

  // FixedSum's parse kernel vs the BigDecimal semantics it must replicate
  // bit-for-bit (CAST(double AS DECIMAL(38,s)) = valueOf + setScale
  // HALF_UP). Generator spans magnitudes 1e-12..1e12 with both signs —
  // the shortest-repr fraction/exponent forms and every rounding branch.
  private val anyDouble: Gen[Double] = for {
    m <- Gen.choose(-1.0, 1.0)
    e <- Gen.choose(-12, 12)
    d = m * math.pow(10, e)
    if !d.isNaN
  } yield d

  // doubles that reach units' no-String fast path (prices k/10^2 and
  // their squares) and its edges: within a few ulps of a half unit at
  // some scale (the HALF_UP ties, which must fall through to the parse),
  // ±0.0 and subnormals
  private val unitsDouble: Gen[Double] = {
    val price = Gen.choose(-10000000L, 10000000L).map(_ / 100.0)
    val nearHalf = for {
      s <- Gen.choose(0, 18)
      k <- Gen.choose(-1000000L, 1000000L)
      steps <- Gen.choose(-2, 2)
    } yield (1 to steps.abs).foldLeft((k + 0.5) / math.pow(10, s)) { (d, _) =>
      if (steps > 0) Math.nextUp(d) else Math.nextDown(d) }
    val subnormal = for {
      bits <- Gen.choose(1L, (1L << 52) - 1)
      neg <- Gen.oneOf(false, true)
    } yield { val d = java.lang.Double.longBitsToDouble(bits); if (neg) -d else d }
    Gen.frequency(3 -> anyDouble, 3 -> price, 2 -> price.map(x => x * x), 2 -> nearHalf,
      1 -> Gen.oneOf(0.0, -0.0, java.lang.Double.MIN_NORMAL), 1 -> subnormal)
  }

  property("FixedPoint.units == BigDecimal.valueOf.setScale(HALF_UP).unscaled") =
    forAll(unitsDouble) { d =>
      (0 to 18).forall { s =>
        (math.abs(d) >= 9.2e18 / math.pow(10, s)) || { // out of the 64-bit domain
          val u = FixedPoint.units(d, s)
          u == FixedPoint.unitsParse(d, s) &&
            u == JBigDecimal.valueOf(d).setScale(s, RoundingMode.HALF_UP)
              .unscaledValue().longValueExact()
        }
      }
    }

  // native.ascii_letters_lower vs the spelling it replaces, each under
  // codegen and interpreted evaluation
  private val asciiLettersLowerEvals: Seq[InternalRow => UTF8String] = {
    val in = BoundReference(0, StringType, nullable = true)
    val kernel = AsciiLettersLower(in)
    val reference = Lower(new RegExpReplace(in, Literal("[^A-Za-z ]"), Literal("")))
    for (e <- Seq(kernel, reference); eval <- evals(e)) yield { (row: InternalRow) =>
      val out = eval(row)
      if (out.isNullAt(0)) null else out.getUTF8String(0)
    }
  }

  private val rawText: Gen[Option[Array[Byte]]] = {
    val chunk: Gen[Array[Byte]] = Gen.oneOf(
      Gen.alphaNumStr.map(_.getBytes("UTF-8")),
      Gen.oneOf(" ", "  ", ".,;!?-'\"()[]{}@#$%^&*_+=~`|<>/\\:", "0123456789", "\t\n")
        .map(_.getBytes("UTF-8")),
      Gen.oneOf("\u00e9", "\u00df", "\u00c9t\u00c9", "\u03bb", "\u8a9e", "\ud83d\ude00", "\u0130")
        .map(_.getBytes("UTF-8")), // 2-, 3- and 4-byte UTF-8
      Gen.nonEmptyListOf(Gen.choose(0x80, 0xff).map(_.toByte)).map(_.toArray), // invalid
      Gen.oneOf(Array(0xc3.toByte), Array(0xe2.toByte, 0x82.toByte), Array(0xf0.toByte, 0x9f.toByte)))
    Gen.frequency(
      1 -> Gen.const(None),
      1 -> Gen.const(Some(Array.emptyByteArray)),
      8 -> Gen.listOf(chunk).map(cs => Some(cs.flatten.toArray)))
  }

  // the text-dedup kernels under codegen and interpreted evaluation, on
  // raw bytes: NULL, empty and all-space text, multi-byte and invalid
  // UTF-8. The models split and join bytes, so an invalid sequence is
  // never decoded on either side
  private def md5hexBytes(b: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(b).map(x => f"$x%02x").mkString
  private def tokensModel(b: Array[Byte]): Seq[Seq[Byte]] = {
    val out = Seq.newBuilder[Seq[Byte]]
    var cur = Seq.newBuilder[Byte]
    var n = 0
    b.foreach { x =>
      if (x == ' '.toByte) { if (n > 0) out += cur.result(); cur = Seq.newBuilder[Byte]; n = 0 }
      else { cur += x; n += 1 }
    }
    if (n > 0) out += cur.result()
    out.result()
  }
  private def shingles3Model(b: Array[Byte]): Seq[Seq[Byte]] = {
    val toks = tokensModel(b)
    if (toks.size < 3) Seq.empty
    else toks.sliding(3).map(w => w.reduce(_ ++ Seq(' '.toByte) ++ _)).toSeq.distinct
  }
  private def minHashModel(shingles: Seq[Seq[Byte]], k: Int): Seq[Option[String]] =
    (1 to k).map { h =>
      if (shingles.isEmpty) None
      else Some(shingles.map(sh => md5hexBytes(s"$h|".getBytes("UTF-8") ++ sh)).min)
    }
  private def bytesOf(a: ArrayData): Seq[Option[Seq[Byte]]] =
    (0 until a.numElements()).map(i =>
      if (a.isNullAt(i)) None else Some(a.getUTF8String(i).getBytes.toSeq))
  private def utf8Bytes(xs: Seq[Option[Seq[Byte]]]): ArrayData =
    new GenericArrayData(xs.map(_.map(b => UTF8String.fromBytes(b.toArray)).orNull).toArray[Any])
  private val textArg = BoundReference(0, StringType, nullable = true)
  private val stringsArg = BoundReference(0, ArrayType(StringType), nullable = true)
  private def textRow(t: Option[Array[Byte]]) = InternalRow(t.map(UTF8String.fromBytes).orNull)
  private val dedupText: Gen[Option[Array[Byte]]] = Gen.frequency(
    1 -> Gen.oneOf("", " ", "   ").map(w => Some(w.getBytes("UTF-8"))),
    9 -> rawText)

  property("tokens == byte-split model, codegen and interpreted; NULL in, NULL out") =
    forAll(dedupText) { t =>
      agrees(Tokens(textArg), textRow(t), r => bytesOf(r.getArray(0)),
        t.map(b => tokensModel(b).map(Some(_))))
    }

  property("shingles3 == byte sliding-3 model, codegen and interpreted; NULL in, NULL out") =
    forAll(dedupText) { t =>
      agrees(Shingles3(textArg), textRow(t), r => bytesOf(r.getArray(0)),
        t.map(b => shingles3Model(b).map(Some(_))))
    }

  property("minhash_sigs == min-of-keyed-md5 model over shingles3, codegen and interpreted") =
    forAll(dedupText, Gen.choose(1, 8)) { (t, k) =>
      agrees(MinHashSigs(Shingles3(textArg), k), textRow(t),
        r => bytesOf(r.getArray(0)).map(_.map(b => new String(b.toArray, "UTF-8"))),
        t.map(b => minHashModel(shingles3Model(b), k)))
    }

  // signature arrays as the kernel meets them (hex strings, NULL
  // elements of a shingle-less doc) and as it must refuse them (shorter
  // than bands × rows: IllegalArgumentException under both evaluations)
  private val sigArray: Gen[Option[Seq[Option[String]]]] = Gen.frequency(
    1 -> Gen.const(None),
    9 -> Gen.choose(0, 9).flatMap(n => Gen.listOfN(n, Gen.frequency(
      1 -> Gen.const(None),
      6 -> Gen.listOfN(4, Gen.hexChar).map(cs => Some(cs.mkString.toLowerCase)),
      1 -> word.map(Some(_))))).map(Some(_)))

  private def bandHashesModel(sigs: Seq[Option[String]], bands: Int, rows: Int): Seq[String] = {
    require(sigs.size >= bands * rows)
    (0 until bands).map { b =>
      val comps = (1 to rows).map(j => sigs(b * rows + j - 1).map(v => s"${b * rows + j}:$v"))
      md5hexBytes(comps.flatten.map(_.getBytes("UTF-8"))
        .sortWith((x, y) => java.util.Arrays.compareUnsigned(x, y) < 0)
        .reduceOption(_ ++ Array(','.toByte) ++ _).getOrElse(Array.emptyByteArray))
    }
  }

  property("band_hashes == sorted-components md5 model, codegen and interpreted") =
    forAll(sigArray, Gen.choose(1, 4), Gen.choose(1, 2)) { (sigs, bands, rows) =>
      agrees(BandHashes(stringsArg, bands, rows),
        InternalRow(sigs.map(xs => utf8Bytes(xs.map(_.map(_.getBytes("UTF-8").toSeq)))).orNull),
        r => bytesOf(r.getArray(0)).map(_.map(b => new String(b.toArray, "UTF-8"))),
        sigs.map(xs => bandHashesModel(xs, bands, rows).map(Some(_))))
    }

  property("simhash == md5-bit-voting model over tokens, codegen and interpreted") =
    forAll(dedupText, Gen.choose(1, 64)) { (t, bits) =>
      val model = t.map { b =>
        val bal = new Array[Int](bits)
        tokensModel(b).foreach { tok =>
          val hex = md5hexBytes(tok.toArray)
          for (j <- 1 to bits) {
            val nib = Integer.parseInt(hex((j + 3) / 4 - 1).toString, 16)
            bal(j - 1) += ((nib >> (3 - (j - 1) % 4)) & 1) * 2 - 1
          }
        }
        (1 to bits).map(j => if (bal(j - 1) >= 0) 1L << (j - 1) else 0L).sum
      }
      agrees(SimHash(Tokens(textArg), bits), textRow(t), _.getLong(0), model)
    }

  property("ascii_letters_lower == lower(regexp_replace(text, '[^A-Za-z ]', '')), codegen and interpreted") =
    forAll(rawText) { bytes =>
      val row = InternalRow(bytes.map(UTF8String.fromBytes).orNull)
      val outs = asciiLettersLowerEvals.map(_(row))
      outs.forall(_ == outs.head) && (bytes.isEmpty == (outs.head == null))
    }
}
