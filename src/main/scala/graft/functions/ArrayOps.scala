package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graftshim.Interop
import org.apache.spark.sql.types._

/** Native codegen array kernels for the extension surface.
  *
  * The higher-order-function formulations (`aggregate(zip_with(...))`,
  * nested `transform`) are semantically right but evaluate their lambdas
  * interpreted, and nested lambdas re-evaluate inner expressions per outer
  * element — the minhash HOF recomputed sha256 of every shingle 32 times
  * (once per permutation). These expressions evaluate their input ONCE and
  * run tight generated-Java loops, preserving the exact arithmetic (and
  * IEEE accumulation order) of the HOF/DuckDB-oracle definitions in
  * [[graft.ext.Portable]] — outputs are bit-identical, only faster.
  *
  * Scale note: each is a per-row O(len) kernel inside whole-stage codegen,
  * so the 100 TB cost model is unchanged: narrow projection, no shuffle.
  */

/** Dot product of two float arrays as a sequential double fold
  * (index-ascending adds — same IEEE result as the `aggregate` fold and
  * DuckDB `list_reduce`).
  */
case class DotProductF(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product_f"
  // NULL on length mismatch (below), regardless of child nullability
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    // length mismatch -> NULL, mirroring the oracle's list_zip padding
    // (zip pads with NULL, NULL poisons the fold) — not a silent
    // truncated dot product
    if (y.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // every local freshName'd: several kernel instances can share one
      // generated function (cosine = three DotProductF in one projection),
      // and fixed names are a janino "Redefinition of local variable" error
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductF =
    copy(left = newLeft, right = newRight)
}

/** MinHash signature over an array of 32-bit hash values:
  * sig[i] = min over v of ((2i+1)*v + (2654435761*(i+1)) mod P) mod P,
  * P = 4294967311. Identical to [[graft.ext.Portable.sqlMinhashSig]].
  */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "minhash_sig"

  private val P = 4294967311L

  override def nullSafeEval(input: Any): Any = {
    val hv = input.asInstanceOf[ArrayData]
    val n = hv.numElements()
    val out = new Array[Any](k)
    var i = 0
    while (i < k) {
      val a = 2L * i + 1L
      val b = (2654435761L * (i + 1L)) % P
      var m = Long.MaxValue
      var j = 0
      while (j < n) {
        val h = (a * hv.getLong(j) + b) % P
        if (h < m) m = h
        j += 1
      }
      out(i) = if (n == 0) null else m
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, hv => {
      val arrCls = classOf[GenericArrayData].getName
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val a = ctx.freshName("a")
      val b = ctx.freshName("b")
      val m = ctx.freshName("m")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      s"""
         |int $n = $hv.numElements();
         |Object[] $out = new Object[$k];
         |for (int $i = 0; $i < $k; $i++) {
         |  long $a = 2L * $i + 1L;
         |  long $b = (2654435761L * ($i + 1L)) % ${P}L;
         |  long $m = Long.MAX_VALUE;
         |  for (int $j = 0; $j < $n; $j++) {
         |    long $h = ($a * $hv.getLong($j) + $b) % ${P}L;
         |    if ($h < $m) $m = $h;
         |  }
         |  $out[$i] = ($n == 0) ? null : (Object) $m;
         |}
         |${ev.value} = new $arrCls($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** 32-bit SimHash over an array of 32-bit token hash values (multiset —
  * occurrences weight). bit_j set iff sum over tokens of
  * (bit_j(v)*2 - 1) >= 0. Identical to
  * [[graft.ext.Portable.sqlSimhash32]].
  */
case class SimHash32(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash32"

  override def nullSafeEval(input: Any): Any = {
    val th = input.asInstanceOf[ArrayData]
    val n = th.numElements()
    // empty multiset -> 0, matching the oracle (DuckDB list_sum over an
    // empty list is NULL, so every bit's CASE lands in ELSE 0); without
    // this the s=0 >= 0 rule would set all 32 bits
    if (n == 0) return 0L
    var sig = 0L
    var j = 0
    while (j < 32) {
      var s = 0L
      var i = 0
      while (i < n) {
        s += ((th.getLong(i) >> j) & 1L) * 2L - 1L
        i += 1
      }
      if (s >= 0) sig += (1L << j)
      j += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, th => {
      val n = ctx.freshName("n")
      val sig = ctx.freshName("sig")
      val j = ctx.freshName("j")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |int $n = $th.numElements();
         |long $sig = 0L;
         |if ($n > 0) {
         |  for (int $j = 0; $j < 32; $j++) {
         |    long $s = 0L;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $s += ((($th.getLong($i)) >> $j) & 1L) * 2L - 1L;
         |    }
         |    if ($s >= 0) $sig += (1L << $j);
         |  }
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash32 =
    copy(child = newChild)
}

/** Per-subspace nearest-codeword indices of a float vector against a
  * FIXED codebook — the one codeword-assignment kernel of the engine
  * (PQ coding, coarse IVF assignment on both codebook arms, and every
  * Lloyd k-means assignment).
  *
  * For each of `subspaces` equal slices it returns the index of the
  * codeword whose same-position slice minimizes squared distance
  * d2 = (v·v − 2·v·c) + c·c — or, with `cosine`, maximizes the cosine
  * (v·c) / (‖v‖·‖c‖), a cell being skipped (SQL NULL) when either norm
  * is zero. Every dot is a sequential index-ascending double fold —
  * bit-identical to the [[graft.ext.Portable.sqlDot]] oracle arithmetic
  * and to `Portable.dot`/`Portable.cosine` — and the extremum follows
  * `least()`/`greatest()` exactly (Spark's double ordering, first
  * attaining index wins), which equals the (d2, cl) / (cos DESC, cl)
  * tie-break when the codebook rows are cl-ascending. `subspaces = 1` is
  * whole-vector assignment (the IVF coarse quantizer); `subspaces = M` is
  * PQ coding. With `withScore` each element is a struct (idx, score)
  * carrying the attained minimum d2 (or maximum cosine).
  *
  * The result is NULL when the vector's length differs from the
  * codewords' (the dotF length-mismatch convention) and, in cosine mode,
  * when every cosine is NULL (greatest() of all-NULL inputs).
  *
  * The codebook is double-typed (Lloyd centroids); callers widen float32
  * codebooks, which is exact, so those score as they would in floats.
  *
  * The codebook rides as a REFERENCED OBJECT (k·d doubles — 2 MB at the
  * 4096-codeword cap), not as unrolled literal terms: a 448-codeword
  * expression-tree argmin measured a 233 MB task binary and heartbeat
  * RPC timeouts at data/sf10, and the 10-codeword label-arm unrolling
  * spent over a second per e10 invocation in driver planning — the
  * kernel's task cost is one array reference plus a tight k·d loop.
  */
case class NearestCodewords(child: Expression, codebook: Array[Array[Double]],
    subspaces: Int, cosine: Boolean = false, withScore: Boolean = false)
    extends UnaryExpression {

  require(codebook.nonEmpty && subspaces >= 1)
  require(!cosine || subspaces == 1, "cosine assignment is whole-vector")

  override def dataType: DataType =
    if (!withScore) ArrayType(IntegerType, containsNull = false)
    else ArrayType(StructType(Seq(
      StructField("idx", IntegerType, nullable = false),
      StructField("score", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "nearest_codewords"
  override def nullable: Boolean = true

  private def dims: Int = codebook(0).length
  private def subDim: Int = dims / subspaces

  /** Per (codeword, subspace): c·c for d2, ‖c‖ for cosine — row-
    * independent, so folded once per expression instance. */
  @transient private lazy val cwTerm: Array[Double] =
    Array.tabulate(codebook.length * subspaces) { jm =>
      val c = codebook(jm / subspaces)
      val from = (jm % subspaces) * subDim
      var cc = 0.0
      var i = 0
      while (i < subDim) { val y = c(from + i); cc += y * y; i += 1 }
      if (cosine) math.sqrt(cc) else cc
    }

  /** Shared by interpreted eval and the generated code (called through a
    * referenced object, the [[WinnowSelK]] pattern). */
  def compute(v: ArrayData): ArrayData = {
    if (v.numElements() != dims) return null
    val sub = subDim
    val k = codebook.length
    val term = cwTerm
    val idx = new Array[Int](subspaces)
    val score = new Array[Double](subspaces)
    var m = 0
    while (m < subspaces) {
      val from = m * sub
      var vv = 0.0
      var i = 0
      while (i < sub) { val x = v.getFloat(from + i).toDouble; vv += x * x; i += 1 }
      val nv = math.sqrt(vv)
      var best = 0.0
      var bestJ = -1
      var j = 0
      while (j < k) {
        val c = codebook(j)
        var vc = 0.0
        i = 0
        while (i < sub) {
          vc += v.getFloat(from + i).toDouble * c(from + i); i += 1
        }
        val t = term(j * subspaces + m)
        if (!cosine) {
          val d2 = (vv - 2.0 * vc) + t
          if (bestJ < 0 || SQLOrderingUtil.compareDoubles(d2, best) < 0) {
            best = d2; bestJ = j
          }
        } else if (nv != 0.0 && t != 0.0) {
          val cos = vc / (nv * t)
          if (bestJ < 0 || SQLOrderingUtil.compareDoubles(cos, best) > 0) {
            best = cos; bestJ = j
          }
        }
        j += 1
      }
      if (bestJ < 0) return null
      idx(m) = bestJ
      score(m) = best
      m += 1
    }
    if (!withScore) UnsafeArrayData.fromPrimitiveArray(idx)
    else new GenericArrayData(Array.tabulate[Any](subspaces)(m =>
      InternalRow(idx(m), score(m))))
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val self = ctx.addReferenceObj("nearest", this,
        classOf[NearestCodewords].getName)
      s"""${ev.value} = $self.compute($v);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NearestCodewords =
    copy(child = newChild)
}

/** Winnowing fingerprint selection (Schleimer et al. / MOSS) over a token
  * array: positional 3-gram hashes — sha256 of the space-joined gram,
  * first 8 hex chars as a long, byte-identical to
  * [[graft.ext.Portable.hash32]] of the same gram string — then per-
  * `w`-window minima, first-occurrence distinct. Consumers are order-
  * insensitive (explode → join, size), matching the oracle's
  * `list_distinct` set semantics.
  *
  * Exists because the HOF form (nested `transform` with a sha2 lambda)
  * evaluates interpreted AND gets inlined into filter predicates —
  * measured at data/sf100 it turned every winnow-tier dedup query into a
  * ~40-minute corpus pass (round-15 full-run kill, stack-sampled); this
  * kernel digests each gram exactly once in a tight loop. One digest per
  * gram is the cost floor — the digest instance is reused across the
  * row's grams.
  */
case class WinnowSelK(child: Expression, w: Int) extends UnaryExpression {

  require(w >= 1)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_sel"

  /** Shared by interpreted eval and the generated code (called through a
    * referenced object — keeps the surrounding WholeStageCodegen span
    * intact with one virtual call per row). */
  def compute(toks: ArrayData): Array[Long] = {
    val n = toks.numElements()
    val nGrams = n - 2
    if (n < 3 || nGrams < w) return Array.emptyLongArray
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val hs = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      md.reset()
      md.update(toks.getUTF8String(i).getBytes)
      md.update(' '.toByte)
      md.update(toks.getUTF8String(i + 1).getBytes)
      md.update(' '.toByte)
      md.update(toks.getUTF8String(i + 2).getBytes)
      val d = md.digest()
      // first 8 hex chars of the sha256 = first 4 bytes, big-endian
      // unsigned — exactly conv(substring(sha2(s, 256), 1, 8), 16, 10)
      hs(i) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      i += 1
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val nWin = nGrams - w + 1
    var j = 0
    while (j < nWin) {
      var m = hs(j)
      var k = 1
      while (k < w) { val v = hs(j + k); if (v < m) m = v; k += 1 }
      seen.add(m)
      j += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    out
  }

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(compute(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      val self = ctx.addReferenceObj("winnowSel", this,
        classOf[WinnowSelK].getName)
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  $self.compute($t));""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): WinnowSelK =
    copy(child = newChild)
}

object ArrayOps {
  def shingles3(toks: Column): Column =
    Interop.column(Shingles3K(Interop.expression(toks)))
  def nearestCodewords(vec: Column, codebook: Array[Array[Double]],
      subspaces: Int, cosine: Boolean = false, withScore: Boolean = false): Column =
    Interop.column(NearestCodewords(Interop.expression(vec), codebook, subspaces,
      cosine, withScore))
  def winnowSel(toks: Column, w: Int): Column =
    Interop.column(WinnowSelK(Interop.expression(toks), w))
  def polyHash(c: Column): Column =
    Interop.column(PolyHash(Interop.expression(c)))
  def dotF(a: Column, b: Column): Column =
    Interop.column(DotProductF(Interop.expression(a), Interop.expression(b)))
  def minhashSig(hashes: Column, k: Int): Column =
    Interop.column(MinHashSig(Interop.expression(hashes), k))
  def simhash32(hashes: Column): Column =
    Interop.column(SimHash32(Interop.expression(hashes)))
  def topCount(xs: Column): Column =
    Interop.column(TopCount(Interop.expression(xs)))
  def bpeEncodeAll(sym: Column, merges: Seq[(String, String)]): Column = {
    // same boundary guard as Lm.bpeApplyAll: an empty merge symbol would
    // diverge the HOF (substitutes "" past the end) from this kernel
    // (guards i+1 < n) — reject rather than carry the latent split
    require(merges.forall { case (a, b) => a.nonEmpty && b.nonEmpty },
      "BPE merge pairs must be non-empty symbols")
    Interop.column(BpeEncodeAllK(Interop.expression(sym), merges))
  }
  /** The greedy-heap equivalence precondition (see [[BpeEncodeGreedyK]]):
    * no merge pair may reference a symbol string that a LATER merge
    * produces — otherwise a late merge can create an occurrence of an
    * earlier-rank pair, which the heap would merge and a K-pass replay
    * would not. O(K) driver-side check over the K-row table.
    */
  def greedySafe(merges: Seq[(String, String)]): Boolean = {
    val later = new java.util.HashSet[String]()
    var ok = true
    merges.indices.reverse.foreach { i =>
      val (a, b) = merges(i)
      if (later.contains(a) || later.contains(b)) ok = false
      later.add(merges(i)._1 + "_" + merges(i)._2)
    }
    ok
  }

  def bpeEncodeGreedy(sym: Column, merges: Seq[(String, String)]): Column = {
    require(merges.forall { case (a, b) => a.nonEmpty && b.nonEmpty },
      "BPE merge pairs must be non-empty symbols")
    require(greedySafe(merges),
      "merge table aliases a later merge output; greedy-heap encode would " +
        "diverge from the K-pass semantics — use bpeEncodeAuto or bpeEncodeAll")
    Interop.column(BpeEncodeGreedyK(Interop.expression(sym), merges))
  }

  /** Serve-path dispatch: the O(n log n) greedy-heap kernel whenever the
    * trained table satisfies its equivalence precondition (every real
    * table does unless corpus tokens alias merge outputs through '_'),
    * the K-pass kernel otherwise. Both arms are bit-identical where both
    * apply (BpeSpec pins it), so the dispatch is invisible to oracles. */
  def bpeEncodeAuto(sym: Column, merges: Seq[(String, String)]): Column =
    if (greedySafe(merges)) bpeEncodeGreedy(sym, merges)
    else bpeEncodeAll(sym, merges)

  def hashedFeatureScore(toks: Column, weights: Array[Long], buckets: Int): Column =
    Interop.column(HashedFeatureScoreK(Interop.expression(toks),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(weights), buckets))
  def hashedFeatureBuckets(toks: Column, buckets: Int): Column =
    Interop.column(HashedFeatureBucketsK(Interop.expression(toks), buckets))
}

/** Shared SHA-256 feature-bucket arithmetic of the two classifier
  * kernels: one reused per-thread digest, bucket = the unsigned 32-bit
  * value of the digest's first 4 bytes (what
  * `conv(substring(sha2(x, 256), 1, 8), 16, 10)` parses) mod the
  * feature-space size. */
private[functions] object FeatureHash {
  val mdTl: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("SHA-256"))
  val underscore: Array[Byte] = Array[Byte]('_'.toByte)

  def bucketOf(md: java.security.MessageDigest, buckets: Int): Int = {
    val d = md.digest()
    val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    (h % buckets).toInt
  }
}

/** The classifier's hashed uni+bigram scoring fold in one compiled
  * pass — kernel form of
  * `aggregate(features(toks), 0L, acc + w[hash32(f) % B + 1])`
  * ([[graft.ext.Classifier]]). The HOF form materializes every bigram
  * STRING, then per feature evaluates the interpreted
  * sha2→substring→conv→cast chain — the sf100 serve measured 103 s of
  * mostly lambda dispatch and string churn. This kernel walks the
  * token array once: per feature it streams the exact same UTF-8 bytes
  * through one reused SHA-256 digest (bigrams as aBytes ++ '_' ++
  * bBytes — byte-identical to `concat_ws("_", a, b)` since tokens are
  * UTF-8 already), takes the digest's first 4 bytes as the unsigned
  * 32-bit value `conv(substr(hex, 1, 8), 16, 10)` parses, and folds
  * `weights(h % buckets)` in exact integer math. Output
  * struct(n_features, score) — bit-identical to the HOF/oracle pair
  * (ClassifierSpec pins kernel ≡ HOF on unicode/single-token/repeat
  * docs; the DuckDB gate adjudicates end-to-end).
  * CodegenFallback per the Shingles3K convention.
  */
case class HashedFeatureScoreK(child: Expression, weights: IndexedSeq[Long], buckets: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  // weights is a Seq (not Array) so case-class equals/hashCode compare
  // CONTENTS: two score expressions built from separate weightsFromFile
  // reads canonicalize equal, keeping CSE / plan-cache reuse eligible
  // (array fields compare by reference and silently disable both). The
  // hot eval path reads a flat primitive array rebuilt once per
  // deserialized instance — Seq#apply on Long boxes per lookup.
  @transient private lazy val w: Array[Long] = weights.toArray

  override def dataType: DataType = StructType(Seq(
    StructField("n_features", LongType, nullable = false),
    StructField("score", LongType, nullable = false)))
  override def prettyName: String = "hashed_feature_score"

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val md = FeatureHash.mdTl.get()
    var score = 0L
    var i = 0
    while (i < n) { // unigrams
      md.reset()
      md.update(toks.getUTF8String(i).getBytes)
      score += w(FeatureHash.bucketOf(md, buckets))
      i += 1
    }
    i = 0
    while (i < n - 1) { // bigrams a_b
      md.reset()
      md.update(toks.getUTF8String(i).getBytes)
      md.update(FeatureHash.underscore)
      md.update(toks.getUTF8String(i + 1).getBytes)
      score += w(FeatureHash.bucketOf(md, buckets))
      i += 1
    }
    val nFeatures = if (n >= 2) 2L * n - 1L else n.toLong
    InternalRow(nFeatures, score)
  }

  override protected def withNewChildInternal(newChild: Expression): HashedFeatureScoreK =
    copy(child = newChild)
}

/** The feature-bucket ARRAY of a token array (unigrams then bigrams,
  * the `features` order) — kernel form of
  * `transform(features(toks), f => hash32(f) % B)`, the trainer's
  * one-time corpus pass ([[graft.ext.Classifier]]'s lrLoop). Same
  * digest arithmetic as [[HashedFeatureScoreK]]; emitted as a plain
  * long array so the per-round scoring folds and the misclassified-set
  * explode read it unchanged. */
case class HashedFeatureBucketsK(child: Expression, buckets: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hashed_feature_buckets"

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val md = FeatureHash.mdTl.get()
    val m = if (n >= 2) 2 * n - 1 else n
    val out = new Array[Any](m)
    var i = 0
    while (i < n) {
      md.reset()
      md.update(toks.getUTF8String(i).getBytes)
      out(i) = FeatureHash.bucketOf(md, buckets).toLong
      i += 1
    }
    i = 0
    while (i < n - 1) {
      md.reset()
      md.update(toks.getUTF8String(i).getBytes)
      md.update(FeatureHash.underscore)
      md.update(toks.getUTF8String(i + 1).getBytes)
      out(n + i) = FeatureHash.bucketOf(md, buckets).toLong
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): HashedFeatureBucketsK =
    copy(child = newChild)
}

/** The whole trained BPE merge table applied to one symbol array —
  * kernel form of [[graft.ext.Lm.bpeApplyAll]]'s nested `aggregate`
  * fold. Semantics are IDENTICAL (K greedy left-to-right passes in
  * merge order, a matched position consuming its right neighbor;
  * BpeSpec pins kernel ≡ HOF ≡ K-pass): the HOF form allocates a fresh
  * accumulator array per SYMBOL per pass (O(len²) element copies per
  * doc-pass) and evaluates every step through interpreted lambda
  * dispatch — measured ~13 µs per doc-pass at sf10, which put the
  * sf100 served encode at ~290 s of pure fold overhead. This kernel
  * reads the token array once and runs K tight JVM passes over
  * UTF8String slots — same output bits, one corpus scan, no per-element
  * Catalyst eval. Codegen dispatches to the compiled loop
  * (`CodegenFallback`, the Shingles3K convention): only the dispatch is
  * uncompiled, surrounding stages keep whole-stage codegen.
  */
case class BpeEncodeAllK(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_encode_all"

  // merge table pre-lowered to UTF8String once per expression instance
  // (K rows — the model-header budget), not per evaluated row
  @transient private lazy val mA = merges.map(m =>
    org.apache.spark.unsafe.types.UTF8String.fromString(m._1)).toArray
  @transient private lazy val mB = merges.map(m =>
    org.apache.spark.unsafe.types.UTF8String.fromString(m._2)).toArray
  @transient private lazy val mM = merges.map(m =>
    org.apache.spark.unsafe.types.UTF8String.fromString(m._1 + "_" + m._2)).toArray

  override def nullSafeEval(input: Any): Any = {
    val in = input.asInstanceOf[ArrayData]
    var n = in.numElements()
    var cur = new Array[org.apache.spark.unsafe.types.UTF8String](n)
    var i = 0
    while (i < n) { cur(i) = in.getUTF8String(i); i += 1 }
    var k = 0
    while (k < mA.length) {
      val a = mA(k); val b = mB(k); val m = mM(k)
      val out = new Array[org.apache.spark.unsafe.types.UTF8String](n)
      var w = 0
      i = 0
      while (i < n) {
        if (i + 1 < n && cur(i).equals(a) && cur(i + 1).equals(b)) {
          out(w) = m; w += 1; i += 2 // greedy: the match consumes its right neighbor
        } else {
          out(w) = cur(i); w += 1; i += 1
        }
      }
      cur = out; n = w
      k += 1
    }
    val res = new Array[Any](n)
    i = 0
    while (i < n) { res(i) = cur(i); i += 1 }
    new GenericArrayData(res)
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncodeAllK =
    copy(child = newChild)
}

/** Rank-greedy single-pass BPE encode — the production-K successor to
  * [[BpeEncodeAllK]] (round-13 verdict: K passes scale with the merge
  * table, so a 50k-merge production table costs 50k corpus passes per
  * doc; this kernel is one heap walk, O(n log n) per doc INDEPENDENT
  * of K). Algorithm: linked list over the symbol array + a min-heap of
  * (rank, position) candidates; repeatedly merge the lowest-rank,
  * leftmost occurrence, pushing the two adjacencies the merge creates.
  * Stale heap entries (a side was consumed or re-merged since push)
  * are discarded by re-checking the pair's CURRENT rank on pop.
  *
  * EQUIVALENCE CONTRACT: output is bit-identical to the K sequential
  * greedy passes ([[BpeEncodeAllK]], which is what the DuckDB oracle
  * replays) PROVIDED no merge pair references a symbol string that a
  * LATER merge also produces (the [[ArrayOps.greedySafe]] check).
  * Under that precondition a merge of rank r can never create an
  * occurrence of a pair with rank < r — the operand would have to BE
  * r's output, which post-dates the earlier pair's training — so
  * "lowest rank first" visits ranks in exactly the K-pass order, and
  * the leftmost tie-break inside a rank reproduces the pass's greedy
  * left-to-right consumption. Trained tables satisfy the precondition
  * by construction unless raw corpus tokens contain '_' in a way that
  * aliases a merge output; [[ArrayOps.bpeEncodeAuto]] checks and falls
  * back to the K-pass kernel when they do.
  */
case class BpeEncodeGreedyK(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_encode_greedy"

  // rank lookup + merged-output table, built once per instance (K rows
  // — the model-header budget). Keys are java Strings (' ' joint:
  // cannot occur inside a symbol, so keys never collide).
  @transient private lazy val rankOf: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      // first (lowest) rank wins if a table ever repeats a pair
      m.putIfAbsent(a + " " + b, i)
    }
    m
  }
  @transient private lazy val mOut: Array[org.apache.spark.unsafe.types.UTF8String] =
    merges.map(m => org.apache.spark.unsafe.types.UTF8String
      .fromString(m._1 + "_" + m._2)).toArray
  @transient private lazy val mOutStr: Array[String] =
    merges.map(m => m._1 + "_" + m._2).toArray

  override def nullSafeEval(input: Any): Any = {
    val in = input.asInstanceOf[ArrayData]
    val n = in.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val sym = new Array[org.apache.spark.unsafe.types.UTF8String](n)
    val str = new Array[String](n)
    val next = new Array[Int](n)
    val prev = new Array[Int](n)
    val alive = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      sym(i) = in.getUTF8String(i)
      str(i) = sym(i).toString
      next(i) = if (i + 1 < n) i + 1 else -1
      prev(i) = i - 1
      alive(i) = true
      i += 1
    }
    // heap entries encode (rank, leftPos) in one long: natural long
    // order = rank asc, then position asc (leftmost-first within rank)
    val heap = new java.util.PriorityQueue[java.lang.Long](math.max(4, n))
    def push(p: Int): Unit = {
      val q = next(p)
      if (q >= 0) {
        val r = rankOf.get(str(p) + " " + str(q))
        if (r != null) heap.add((r.longValue << 32) | p.toLong)
      }
    }
    i = 0
    while (i < n - 1) { push(i); i += 1 }
    var live = n
    while (!heap.isEmpty) {
      val v = heap.poll()
      val r = (v >>> 32).toInt
      val p = (v & 0xffffffffL).toInt
      if (alive(p)) {
        val q = next(p)
        if (q >= 0) {
          // stale unless the CURRENT pair at (p, q) still has rank r
          val cur = rankOf.get(str(p) + " " + str(q))
          if (cur != null && cur.intValue == r) {
            sym(p) = mOut(r)
            str(p) = mOutStr(r)
            val qn = next(q)
            next(p) = qn
            if (qn >= 0) prev(qn) = p
            alive(q) = false
            live -= 1
            val l = prev(p)
            if (l >= 0) push(l)
            push(p)
          }
        }
      }
    }
    val res = new Array[Any](live)
    var w = 0
    i = 0
    while (i < n) { if (alive(i)) { res(w) = sym(i); w += 1 }; i += 1 }
    new GenericArrayData(res)
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncodeGreedyK =
    copy(child = newChild)
}

/** Distinct 3-word shingles of a token array (first-occurrence order).
  * The HOF form re-evaluates the tokenisation inside every per-shingle
  * lambda iteration (`slice(toks, i, 3)` re-splits the full text per
  * index); this kernel reads the token array once. Codegen dispatches to
  * the interpreted loop (`CodegenFallback`) — the loop body is plain JVM
  * code, so only the dispatch is uncompiled and surrounding stages keep
  * whole-stage codegen.
  */
case class Shingles3K(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingles3"

  private val space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    if (n < 3) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
    var i = 0
    while (i <= n - 3) {
      seen.add(org.apache.spark.unsafe.types.UTF8String.concatWs(space,
        toks.getUTF8String(i), toks.getUTF8String(i + 1), toks.getUTF8String(i + 2)))
      i += 1
    }
    new GenericArrayData(seen.toArray[AnyRef](Array.empty[AnyRef]))
  }

  override protected def withNewChildInternal(newChild: Expression): Shingles3K =
    copy(child = newChild)
}

/** Polynomial rolling hash over a string's codepoints, mod 1e9+7 —
  * kernel form of [[graft.ext.Portable.sqlFingerprint]] (the per-position
  * `substr` HOF copies O(len) bytes per character, O(len^2) per row).
  */
case class PolyHash(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "poly_hash"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31L + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    h
  }

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

/** Max element frequency of a string array (0 for empty OR NULL input;
  * null elements skipped) — kernel form of the repetition filters'
  * top-count, which as a HOF is O(distinct * n) lambda evaluations per row
  * (`array_max(transform(array_distinct(xs), t -> size(filter(xs, ...)))`);
  * this is one O(n) hashmap pass. Equals DuckDB
  * `coalesce(list_max(list_transform(list_distinct(xs), t -> len(list_filter(xs, x -> x = t)))), 0)`
  * INCLUDING on NULL input (both sides give 0) — exact integer counts, no
  * float drift possible. Never-null output keeps the count usable in
  * downstream ratio filters without a second coalesce.
  */
case class TopCount(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "top_count"
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0 else nullSafeEval(v)
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val m = new java.util.HashMap[Any, Integer]()
    var best = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val c = m.get(s)
        val v = if (c == null) 1 else c.intValue() + 1
        m.put(s, Integer.valueOf(v))
        if (v > best) best = v
      }
      i += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // hand-rolled (not nullSafeCodeGen): output is non-nullable — a NULL
    // input array yields 0, matching the DuckDB coalesce(...) twin — so
    // the loop must be GUARDED on the child's null bit while ev.value
    // still initializes to the 0 default.
    val childGen = child.genCode(ctx)
    val a = childGen.value
    // every local freshName'd (janino redefinition hazard when several
    // kernel instances share one generated function)
    val n = ctx.freshName("n")
    val m = ctx.freshName("m")
    val i = ctx.freshName("i")
    val s = ctx.freshName("s")
    val c = ctx.freshName("c")
    val v = ctx.freshName("v")
    val loop =
      s"""
         |int $n = $a.numElements();
         |java.util.HashMap $m = new java.util.HashMap();
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    UTF8String $s = $a.getUTF8String($i);
         |    Integer $c = (Integer) $m.get($s);
         |    int $v = ($c == null) ? 1 : $c.intValue() + 1;
         |    $m.put($s, Integer.valueOf($v));
         |    if ($v > ${ev.value}) ${ev.value} = $v;
         |  }
         |}
       """.stripMargin
    val guarded =
      if (child.nullable) s"if (!${childGen.isNull}) {\n$loop\n}" else loop
    ev.copy(
      code = childGen.code + code"""
           |int ${ev.value} = 0;
           |$guarded
         """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): TopCount =
    copy(child = newChild)
}
