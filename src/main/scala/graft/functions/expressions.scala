package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the signature/vector hot paths.
  *
  * The composable `functions._` higher-order forms (transform/
  * aggregate/zip_with) evaluate one boxed lambda call per element and
  * allocate an intermediate array per lane — measured ~10s for 5k docs
  * × 64 minhash lanes. These expressions do the same math in a single
  * primitive loop per row (measured >20x faster), which is what the
  * 100 TB scan path needs.
  */

/** 64-bit xxhash-mixed minhash signature over an array<long> of
  * shingle hashes. Lane i = min over h of XXH64(h, seed_i); empty
  * input → Long.MaxValue lanes (matches the HOF formulation).
  */
case class MinHashSignatureExpr(child: Expression, numLanes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val seedsRef = ctx.addReferenceObj("seeds", seeds, "long[]")
    nullSafeCodeGen(ctx, ev, arr => {
      val out = ctx.freshName("out")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      s"""
        long[] $out = new long[$numLanes];
        java.util.Arrays.fill($out, Long.MAX_VALUE);
        for (int $j = 0; $j < $arr.numElements(); $j++) {
          long $h = $arr.getLong($j);
          for (int $i = 0; $i < $numLanes; $i++) {
            long $v = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong($h, $seedsRef[$i]);
            if ($v < $out[$i]) $out[$i] = $v;
          }
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
      """
    })
  }

  private lazy val seeds: Array[Long] =
    Array.tabulate(numLanes)(i => XXH64.hashLong(i.toLong, 42L))

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = Array.fill(numLanes)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val h = arr.getLong(j)
      var i = 0
      while (i < numLanes) {
        val v = XXH64.hashLong(h, seeds(i))
        if (v < out(i)) out(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 64-bit SimHash over an array<long> of token hashes: bit i set when
  * more than half the tokens have bit i set.
  */
case class SimHash64Expr(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val counts = ctx.freshName("counts")
      val n = ctx.freshName("n")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
        int $n = $arr.numElements();
        int[] $counts = new int[64];
        for (int $j = 0; $j < $n; $j++) {
          long $h = $arr.getLong($j);
          for (int $i = 0; $i < 64; $i++) {
            $counts[$i] += (int) (($h >>> $i) & 1L);
          }
        }
        ${ev.value} = 0L;
        for (int $i = 0; $i < 64; $i++) {
          if ($counts[$i] * 2 > $n) ${ev.value} |= (1L << $i);
        }
      """
    })

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counts = new Array[Int](64)
    var j = 0
    while (j < n) {
      val h = arr.getLong(j)
      var i = 0
      while (i < 64) {
        counts(i) += ((h >>> i) & 1L).toInt
        i += 1
      }
      j += 1
    }
    var sig = 0L
    var i = 0
    while (i < 64) {
      if (counts(i) * 2 > n) sig |= (1L << i)
      i += 1
    }
    java.lang.Long.valueOf(sig)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Cosine similarity between two array<double> vectors in one pass
  * (dot, |a|², |b|² accumulated in element order, so results are
  * bit-identical to the sequential three-pass formulation).
  */
case class CosineSimilarityExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
        int $n = Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $xv = $a.getDouble($i); double $yv = $b.getDouble($i);
          $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
        }
        ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
      """
    })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(nx) * math.sqrt(ny)))
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Dot products against a fixed set of hyperplanes → LSH bucket id in
  * one pass (bit j = sign(v · plane_j)).
  */
case class HyperplaneLshExpr(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "hyperplane_lsh"

  /** Primitive kernel shared by interpreted eval and codegen — the
    * generated code calls it through a monomorphic reference, so the
    * projection stays inside WholeStageCodegen (an int per row, no
    * boxing, no fallback to InternalRow eval).
    */
  def compute(v: ArrayData): Int = {
    val dim = v.numElements()
    var bucket = 0
    var j = 0
    while (j < planes.length) {
      val p = planes(j)
      val n = math.min(dim, p.length)
      var dot = 0.0
      var i = 0
      while (i < n) { dot += v.getDouble(i) * p(i); i += 1 }
      if (dot > 0) bucket |= (1 << j)
      j += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("lshExpr", this, classOf[HyperplaneLshExpr].getName)
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = $self.compute($arr);")
  }

  override def nullSafeEval(input: Any): Any =
    java.lang.Integer.valueOf(compute(input.asInstanceOf[ArrayData]))

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Hashes of k-token shingles straight from the token array — no
  * shingle strings are materialized (slice + concat_ws per shingle was
  * the dominant dedup-signature cost). Token j hashes once via XXH64
  * over its UTF-8 bytes; shingle i chains the k token hashes.
  * Fewer than k tokens → empty array (matches wordShingles).
  */
case class WordShingleHashesExpr(child: Expression, k: Int)
    extends UnaryExpression {
  require(k >= 1)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_shingle_hashes"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("shingleExpr", this, classOf[WordShingleHashesExpr].getName)
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = $self.compute($arr);")
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  /** Kernel shared by interpreted eval and generated code (see
    * HyperplaneLshExpr.compute for why this keeps WSCG intact).
    */
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val tokenHash = new Array[Long](n)
    var j = 0
    while (j < n) {
      val t = arr.getUTF8String(j)
      tokenHash(j) =
        if (t == null) 0L
        else XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, 42L)
      j += 1
    }
    val out = new Array[Long](n - k + 1)
    var i = 0
    while (i < out.length) {
      var h = 42L
      var w = 0
      while (w < k) { h = XXH64.hashLong(tokenHash(i + w), h); w += 1 }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Character k-gram hashes for the winnowing fingerprint pipelines —
  * the gram enumeration that `fingerprint` (scale form) and
  * `fingerprintExact` (oracle-portable form) share, so both run one
  * pass over the text instead of one substring per exploded position.
  *
  *  - `poly = false`: XXH64 (seed 42, Spark's `xxhash64` default) over
  *    each gram's UTF-8 bytes — byte-identical to
  *    `xxhash64(substring(text, pos+1, k))`, including the short-text
  *    fallback (fewer than k chars → ONE hash of the whole text).
  *  - `poly = true`: the exactly-portable polynomial
  *    Σ codepoint(cᵢ)·257^(k-1-i) per gram, bit-identical to the
  *    `ascii(substring(...))` SQL formulation and to any engine's
  *    integer math (max value for k=5 stays well inside exact long
  *    range); fewer than k chars → empty array.
  */
case class GramHashesExpr(child: Expression, k: Int, poly: Boolean)
    extends UnaryExpression {
  require(k >= 1)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = if (poly) "poly_gram_hashes" else "gram_hashes"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("gramHashExpr", this, classOf[GramHashesExpr].getName)
    nullSafeCodeGen(ctx, ev, str => s"${ev.value} = $self.compute($str);")
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  /** Kernel shared by interpreted eval and generated code (see
    * HyperplaneLshExpr.compute for why this keeps WSCG intact).
    */
  def compute(raw: org.apache.spark.unsafe.types.UTF8String): ArrayData =
    if (poly) computePoly(raw.toString) else computeXxh(raw)

  private lazy val powers: Array[Long] = {
    val p = new Array[Long](k)
    p(k - 1) = 1L
    var i = k - 2
    while (i >= 0) { p(i) = p(i + 1) * 257L; i -= 1 }
    p
  }

  private def computePoly(s: String): ArrayData = {
    val cps = s.codePoints().toArray
    val n = cps.length
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](n - k + 1)
    var i = 0
    while (i < out.length) {
      var h = 0L
      var j = 0
      while (j < k) { h += cps(i + j).toLong * powers(j); j += 1 }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  private def computeXxh(raw: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val base = raw.getBaseObject
    val off = raw.getBaseOffset
    val len = raw.numBytes
    // byte offset of each character start (+ end sentinel): UTF-8 code
    // points are self-delimiting, so char k-grams are byte subranges
    val charOff = new scala.collection.mutable.ArrayBuffer[Int](64)
    var i = 0
    while (i < len) {
      charOff += i
      i += org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte(
        org.apache.spark.unsafe.Platform.getByte(base, off + i))
    }
    charOff += len
    val nChars = charOff.length - 1
    // substr clips past the end, so texts shorter than k chars emit
    // exactly one gram over the whole (clipped) text
    val nGrams = math.max(nChars - k + 1, 1)
    val out = new Array[Long](nGrams)
    var g = 0
    while (g < nGrams) {
      val start = charOff(g)
      val end = charOff(math.min(g + k, nChars))
      out(g) = XXH64.hashUnsafeBytes(base, off + start, end - start, 42L)
      g += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Lower-cases the text, tokenizes on whitespace, and emits k-token
  * shingle hashes — all in one pass over the UTF-8 bytes, with no
  * token/shingle strings materialized (the tokenize-then-shingle
  * composition costs a regex pass + two array materializations).
  * Whitespace set matches java.util regex \s: space \t \n \x0B \f \r.
  */
case class TextShingleHashesExpr(child: Expression, k: Int)
    extends UnaryExpression {
  require(k >= 1)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "text_shingle_hashes"

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("textShingleExpr", this, classOf[TextShingleHashesExpr].getName)
    nullSafeCodeGen(ctx, ev, str => s"${ev.value} = $self.compute($str);")
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  /** Kernel shared by interpreted eval and generated code (see
    * HyperplaneLshExpr.compute for why this keeps WSCG intact).
    */
  def compute(raw: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val text = raw.toLowerCase
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val len = text.numBytes
    val tokenHashes = new scala.collection.mutable.ArrayBuffer[Long](64)
    var i = 0
    while (i < len) {
      while (i < len && isWs(org.apache.spark.unsafe.Platform.getByte(base, off + i))) i += 1
      val start = i
      while (i < len && !isWs(org.apache.spark.unsafe.Platform.getByte(base, off + i))) i += 1
      if (i > start) {
        tokenHashes += XXH64.hashUnsafeBytes(base, off + start, i - start, 42L)
      }
    }
    val n = tokenHashes.length
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](n - k + 1)
    var s = 0
    while (s < out.length) {
      var h = 42L
      var w = 0
      while (w < k) { h = XXH64.hashLong(tokenHashes(s + w), h); w += 1 }
      out(s) = h
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Constants of the exactly-portable span hash shared by the C8/C9
  * substring-dedup family and its DuckDB oracle: stepwise
  * (acc·B + x) % P keeps every intermediate below P·B + P ≈ 1e15 —
  * exact 64-bit integer math in ANY engine (Java wraps silently,
  * DuckDB errors loudly; staying far under 2^63 sidesteps both).
  */
object SpanHash {
  val P = 1000000007L
  val B = 1000003L
}

/** Word k-gram span hashes over an array<string> of words, in ONE
  * primitive pass — bit-identical to the portable two-level HOF
  * formulation (word → fold of codepoints mod P; span → fold of its
  * word hashes mod P) that the DuckDB oracle mirrors, but without the
  * per-character interpreted lambda calls (measured ~20× on the
  * corpus scan). Fewer than k words → empty array; null words hash
  * to 0 like the HOF's ascii(null) path.
  */
case class WordSpanHashesExpr(child: Expression, k: Int)
    extends UnaryExpression {
  require(k >= 1)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_span_hashes"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("spanHashExpr", this, classOf[WordSpanHashesExpr].getName)
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = $self.compute($arr);")
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  def compute(arr: ArrayData): ArrayData = {
    import SpanHash.{B, P}
    val n = arr.numElements()
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val wh = new Array[Long](n)
    var j = 0
    while (j < n) {
      val t = arr.getUTF8String(j)
      var h = 0L
      if (t != null) {
        // fold CODEPOINTS (what ascii()/ord() see per split('') char)
        val s = t.toString
        var i = 0
        while (i < s.length) {
          val cp = s.codePointAt(i)
          h = (h * 257 + cp) % P
          i += Character.charCount(cp)
        }
      }
      wh(j) = h
      j += 1
    }
    val out = new Array[Long](n - k + 1)
    var i = 0
    while (i < out.length) {
      var h = wh(i)
      var w = 1
      while (w < k) { h = (h * B + wh(i + w)) % P; w += 1 }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Count of array<long> elements present in a (small) reference set,
  * carried as a sorted array + binary search — the map-side membership
  * probe for ingestion-time decontamination: the eval-set span hashes
  * ship with the plan (a driver artifact the size of the eval set,
  * same class as broadcast centroids), so a STREAM can be gated with
  * zero state and zero shuffle where the batch path's semi join would
  * need a watermarked aggregation.
  */
case class ArrayOverlapCountExpr(child: Expression, sortedSet: Array[Long])
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "array_overlap_count"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("overlapExpr", this, classOf[ArrayOverlapCountExpr].getName)
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = $self.compute($arr);")
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  def compute(arr: ArrayData): Long = {
    val n = arr.numElements()
    var c = 0L
    var i = 0
    while (i < n) {
      if (java.util.Arrays.binarySearch(sortedSet, arr.getLong(i)) >= 0) c += 1L
      i += 1
    }
    c
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Native dot product over two array<double> columns — the primitive-
  * loop twin of `aggregate(zip_with(a, b, (x,y) => x*y), 0.0, +)`
  * (r17: the HOF form interprets two boxed lambdas per element in the
  * ANN rerank/scoring hot paths). Bit-identical on the used domain
  * (equal-length, non-null elements: same multiplies, same
  * left-to-right accumulation); mirrors the HOF's null semantics —
  * length mismatch or a null element yields NULL (zip_with pads the
  * short side with nulls, and the running sum absorbs them).
  */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  // NULL on a length mismatch or a null element even for non-null inputs
  override def nullable: Boolean = true
  override def prettyName: String = "dot_product"

  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na != nb) return null
    var acc = 0.0
    var i = 0
    while (i < na) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("dotExpr", this, classOf[DotProductExpr].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("r")
      s"""
        java.lang.Double $r = $self.compute($a, $b);
        if ($r == null) { ${ev.isNull} = true; }
        else { ${ev.value} = $r.doubleValue(); }
      """
    })
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Native L2 normalize with the zero-norm guard — the single-loop twin
  * of `transform(emb, x => x / greatest(norm(emb-hoisted), MIN_VALUE))`
  * (the withNormalized shape: norm hoisted so it is computed once).
  * Same arithmetic in the same order: norm = sqrt of the left-to-right
  * sum of squares, each element divided by max(norm, Double.MIN_VALUE).
  * Null-element semantics mirror the HOF chain: a null element makes
  * the norm NULL, `greatest` then substitutes MIN_VALUE, non-null
  * elements divide by it and null elements stay null.
  */
case class L2NormalizeExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "l2_normalize"

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    var hasNull = false
    var ss = 0.0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) hasNull = true
      else { val x = arr.getDouble(i); ss += x * x }
      i += 1
    }
    // HOF twin: any null element nulls the whole running sum
    val norm = if (hasNull) java.lang.Double.MIN_VALUE
               else math.max(math.sqrt(ss), java.lang.Double.MIN_VALUE)
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      out(i) = if (arr.isNullAt(i)) null
               else java.lang.Double.valueOf(arr.getDouble(i) / norm)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("normExpr", this, classOf[L2NormalizeExpr].getName)
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = $self.compute($arr);")
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Native nearest-centroid argmax against a FIXED (driver-side)
  * centroid table — the primitive twin of the literal-array HOF form
  *   array_max(transform(cents, c => struct(score(emb, c._2), -c._1)))
  * used by the full-corpus assignment (IVF lists, PQ encode). Scores
  * are computed with the exact arithmetic of the HOF path: cosine =
  * CosineSimilarityExpr's loop (min-length, dot/(sqrt·sqrt));
  * negL2 = the negated left-to-right sum of squared diffs. The
  * comparison replicates Spark's struct ordering over (score, -id):
  * doubles compare NaN-as-largest with -0.0 == 0.0 (SQLOrderingUtil),
  * ties go to the SMALLEST centroid id. Bit-identity is spec-asserted
  * against the HOF form on the real corpus.
  */
case class NearestCentroidExpr(child: Expression,
    ids: Array[Int], cents: Array[Array[Double]], useCosine: Boolean)
    extends UnaryExpression {
  require(ids.length == cents.length && ids.nonEmpty)

  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid"

  private def score(v: ArrayData, c: Array[Double]): Double =
    if (useCosine) {
      val n = math.min(v.numElements(), c.length)
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < n) {
        val xv = v.getDouble(i); val yv = c(i)
        dot += xv * yv; nx += xv * xv; ny += yv * yv
        i += 1
      }
      dot / (math.sqrt(nx) * math.sqrt(ny))
    } else {
      val n = math.min(v.numElements(), c.length)
      var acc = 0.0; var i = 0
      while (i < n) { val d = v.getDouble(i) - c(i); acc += d * d; i += 1 }
      -acc
    }

  def compute(v: ArrayData): Int = {
    var bestId = ids(0)
    var bestS = score(v, cents(0))
    var j = 1
    while (j < ids.length) {
      val s = score(v, cents(j))
      // SQLOrderingUtil.compareDoubles: primitive == first (-0.0 == 0.0),
      // else java.lang.Double.compare (NaN largest, NaN == NaN)
      val cmp = if (s == bestS) 0 else java.lang.Double.compare(s, bestS)
      if (cmp > 0 || (cmp == 0 && ids(j) < bestId)) { bestId = ids(j); bestS = s }
      j += 1
    }
    bestId
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("ncExpr", this, classOf[NearestCentroidExpr].getName)
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = $self.compute($arr);")
  }

  override def nullSafeEval(input: Any): Any =
    java.lang.Integer.valueOf(compute(input.asInstanceOf[ArrayData]))

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Native ADC table lookup-sum — the primitive twin of
  *   aggregate(zip_with(tables, codes, (t, c) => element_at(t, c+1)),
  *             0.0, +)
  * (per corpus×query row in the PQ compressed scan). Same 1-based
  * element_at addressing, same left-to-right accumulation; mirrors the
  * HOF's null semantics for a length mismatch, a null entry or a code
  * past the end of its table (all yield NULL). A negative code also
  * yields NULL here, where the HOF differs: code -1 addresses index 0,
  * which throws, and a lower code indexes from the end of the table.
  */
case class AdcScoreExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  // NULL on a length mismatch, a null entry or an out-of-range code
  // even for non-null inputs
  override def nullable: Boolean = true
  override def prettyName: String = "adc_score"

  def compute(tables: ArrayData, codes: ArrayData): java.lang.Double = {
    val n = tables.numElements()
    if (n != codes.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (tables.isNullAt(i) || codes.isNullAt(i)) return null
      val t = tables.getArray(i)
      val c = codes.getInt(i)
      if (c < 0 || c >= t.numElements() || t.isNullAt(c)) return null
      acc += t.getDouble(c)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("adcExpr", this, classOf[AdcScoreExpr].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("r")
      s"""
        java.lang.Double $r = $self.compute($a, $b);
        if ($r == null) { ${ev.isNull} = true; }
        else { ${ev.value} = $r.doubleValue(); }
      """
    })
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Per-SUBSPACE nearest-centroid argmax against a fixed array of
  * codebooks — the native twin of the PQ Lloyd-round HOF
  *   array_max(transform(element_at(books, sub + 1),
  *             c => struct(-l2sq(emb, c._2), -c._1)))
  * where `sub` selects the row's codebook. Same negL2 arithmetic,
  * same (score, -id) ordering semantics as [[NearestCentroidExpr]].
  * The codebook tables ride the codegen references array (constants
  * outside the generated source), so the per-round plan text — and
  * the compiled code — is round-invariant.
  */
case class SubspaceNearestExpr(left: Expression, right: Expression,
    ids: Array[Array[Int]], cents: Array[Array[Array[Double]]])
    extends BinaryExpression {
  require(ids.length == cents.length && ids.nonEmpty)

  override def dataType: DataType = IntegerType
  override def prettyName: String = "subspace_nearest"

  def compute(v: ArrayData, sub: Int): Int = {
    val bids = ids(sub); val bc = cents(sub)
    var bestId = bids(0)
    var bestS = negL2(v, bc(0))
    var j = 1
    while (j < bids.length) {
      val s = negL2(v, bc(j))
      val cmp = if (s == bestS) 0 else java.lang.Double.compare(s, bestS)
      if (cmp > 0 || (cmp == 0 && bids(j) < bestId)) { bestId = bids(j); bestS = s }
      j += 1
    }
    bestId
  }

  private def negL2(v: ArrayData, c: Array[Double]): Double = {
    val n = math.min(v.numElements(), c.length)
    var acc = 0.0; var i = 0
    while (i < n) { val d = v.getDouble(i) - c(i); acc += d * d; i += 1 }
    -acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("snExpr", this, classOf[SubspaceNearestExpr].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $self.compute($a, $b);")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Integer.valueOf(compute(a.asInstanceOf[ArrayData], b.asInstanceOf[Int]))

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** k-token STRING shingles from a token array — the native twin of
  *   transform(sequence(0, size(t)-k), i ->
  *            concat_ws(" ", t[i], ..., t[i+k-1]))
  * (the ORACLE-PORTABLE shingle form of the exact near-dup family;
  * the strings must stay strings so DuckDB reproduces them, unlike
  * the XXH64 lanes of the C2 pipeline). Same separator, same
  * concat_ws null-skipping; fewer than k tokens → empty array
  * (callers guard size >= k, where the HOF and this form agree).
  * One UTF8String concat per shingle instead of an interpreted
  * lambda + boxed sequence element per shingle.
  */
case class WordShingleStringsExpr(child: Expression, k: Int)
    extends UnaryExpression {
  require(k >= 1)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingle_strings"

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < k) return new GenericArrayData(new Array[Any](0))
    val sep = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    val out = new Array[Any](n - k + 1)
    var i = 0
    while (i < out.length) {
      // concat_ws semantics: null inputs are skipped
      val parts = new Array[org.apache.spark.unsafe.types.UTF8String](k)
      var j = 0
      while (j < k) {
        parts(j) = if (arr.isNullAt(i + j)) null else arr.getUTF8String(i + j)
        j += 1
      }
      out(i) = org.apache.spark.unsafe.types.UTF8String.concatWs(sep, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("shingleStrExpr", this,
      classOf[WordShingleStringsExpr].getName)
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = $self.compute($arr);")
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
