package graft

import graft.ext.Portable
import graft.functions.ArrayOps
import org.apache.spark.sql.functions._

/** Proves the ArrayOps kernels actually COMPILE under codegen — not just
  * that they produce right answers interpreted. Round-1 bench ran every
  * dedup/similarity query interpreted because two kernel instances in one generated
  * function redefined fixed local names (janino "Redefinition of local
  * variable"); with `spark.sql.codegen.fallback=false` and
  * `factoryMode=CODEGEN_ONLY` any such compile failure throws here
  * instead of silently degrading.
  */
class KernelCodegenSpec extends SparkTestBase {

  private def withCodegenOnly[A](body: => A): A = {
    val conf = spark.conf
    val prevFallback = conf.getOption("spark.sql.codegen.fallback")
    val prevFactory = conf.getOption("spark.sql.codegen.factoryMode")
    conf.set("spark.sql.codegen.fallback", "false")
    conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try body
    finally {
      prevFallback.fold(conf.unset("spark.sql.codegen.fallback"))(v =>
        conf.set("spark.sql.codegen.fallback", v))
      prevFactory.fold(conf.unset("spark.sql.codegen.factoryMode"))(v =>
        conf.set("spark.sql.codegen.factoryMode", v))
    }
  }

  test("cosine (3 DotProductF in one projection) compiles and is exact") {
    withCodegenOnly {
      val s = spark
      import s.implicits._
      val df = Seq(
        (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
        (Array(0.5f, -1.5f, 2.25f), Array(-2.0f, 0.0f, 1.0f)),
        (Array(0.0f, 0.0f, 0.0f), Array(1.0f, 1.0f, 1.0f)) // zero norm -> NULL
      ).toDF("a", "b")
      // two cosines in ONE select = six DotProductF instances sharing a
      // generated function — the exact shape that used to fail janino
      val rows = df.select(
        Portable.cosine(col("a"), col("b")).as("c1"),
        Portable.cosine(col("b"), col("a")).as("c2")
      ).collect()

      def cos(a: Array[Float], b: Array[Float]): Option[Double] = {
        def d(x: Array[Float], y: Array[Float]) =
          x.indices.foldLeft(0.0)((acc, i) => acc + x(i).toDouble * y(i).toDouble)
        val na = math.sqrt(d(a, a)); val nb = math.sqrt(d(b, b))
        if (na == 0.0 || nb == 0.0) None else Some(d(a, b) / (na * nb))
      }
      val exp = Seq(
        cos(Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
        cos(Array(0.5f, -1.5f, 2.25f), Array(-2.0f, 0.0f, 1.0f)),
        None)
      rows.zip(exp).foreach { case (r, e) =>
        e match {
          case Some(v) =>
            assert(!r.isNullAt(0) && r.getDouble(0) == v, s"c1 $r vs $e")
            assert(!r.isNullAt(1) && r.getDouble(1) == v)
          case None =>
            assert(r.isNullAt(0) && r.isNullAt(1))
        }
      }
    }
  }

  test("two TopCount instances co-compiled in one projection are exact") {
    withCodegenOnly {
      val s = spark
      import s.implicits._
      val df = Seq(
        (Seq("a", "b", "a", "c", "a"), Seq("x y", "x y")),
        (Seq("solo"), Seq.empty[String]),
        (Seq.empty[String], Seq.empty[String])
      ).toDF("toks", "bg")
      val rows = df.select(
        ArrayOps.topCount(col("toks")).as("t"),
        ArrayOps.topCount(col("bg")).as("b")
      ).collect().map(r => (r.getInt(0), r.getInt(1)))
      assert(rows.toSeq == Seq((3, 2), (1, 0), (0, 0)))
    }
  }

  test("TopCount on NULL array returns 0 (matches DuckDB coalesce twin), codegen + interp") {
    val s = spark
    import s.implicits._
    // null array, null elements inside an array, and a plain case
    val df = Seq(
      (1, Option(Seq(Option("a"), None, Option("a")))),
      (2, None: Option[Seq[Option[String]]]),
      (3, Option(Seq.empty[Option[String]]))
    ).toDF("id", "toks")
    def run(): Seq[(Int, Int)] = df
      .select(col("id"), ArrayOps.topCount(col("toks")).as("t"))
      .orderBy("id")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    val expected = Seq((1, 2), (2, 0), (3, 0))
    withCodegenOnly { assert(run() == expected) }
    // interpreted path (eval override) must agree
    val conf = spark.conf
    val prev = conf.getOption("spark.sql.codegen.factoryMode")
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run() == expected)
    finally prev.fold(conf.unset("spark.sql.codegen.factoryMode"))(v =>
      conf.set("spark.sql.codegen.factoryMode", v))
  }

  test("minhash + simhash kernels co-compiled in one projection are exact") {
    withCodegenOnly {
      val s = spark
      import s.implicits._
      val df = Seq(
        Tuple1(Array(7L, 99L, 4096L, 123456789L)),
        Tuple1(Array(0L)),
        Tuple1(Array.empty[Long]) // empty multiset edge
      ).toDF("h")
      val rows = df.select(
        ArrayOps.minhashSig(col("h"), 8).as("sig"),
        ArrayOps.simhash32(col("h")).as("sh"),
        // second instance of each kernel in the same generated function
        ArrayOps.minhashSig(col("h"), 4).as("sig2"),
        ArrayOps.simhash32(col("h")).as("sh2")
      ).collect()

      val P = 4294967311L
      def mh(hv: Array[Long], k: Int): Seq[Option[Long]] =
        (0 until k).map { i =>
          if (hv.isEmpty) None
          else {
            val a = 2L * i + 1L
            val b = (2654435761L * (i + 1L)) % P
            Some(hv.map(v => (a * v + b) % P).min)
          }
        }
      def sh32(hv: Array[Long]): Long = {
        if (hv.isEmpty) return 0L // empty multiset pinned to oracle's ELSE-0
        var sig = 0L
        for (j <- 0 until 32) {
          val sum = hv.map(v => ((v >> j) & 1L) * 2L - 1L).sum
          if (sum >= 0) sig += (1L << j)
        }
        sig
      }
      val inputs = Seq(Array(7L, 99L, 4096L, 123456789L), Array(0L), Array.empty[Long])
      rows.zip(inputs).foreach { case (r, in) =>
        val sig = r.getSeq[Any](0).map(Option(_).map(_.asInstanceOf[Long]))
        assert(sig == mh(in, 8), s"minhash k=8 for ${in.toSeq}")
        val sig2 = r.getSeq[Any](2).map(Option(_).map(_.asInstanceOf[Long]))
        assert(sig2 == mh(in, 4), s"minhash k=4 for ${in.toSeq}")
        assert(r.getLong(1) == sh32(in), s"simhash for ${in.toSeq}")
        assert(r.getLong(3) == sh32(in))
      }
    }
  }

  /** NearestCodewords three ways, as (index, raw score bits) per subspace
    * or None for a NULL result: generated code over an RDD-backed frame (a
    * local Seq frame would be folded by ConvertToLocalRelation, i.e.
    * evaluated interpreted), interpreted `eval`, and plain Scala folds —
    * `least()`/`greatest()` + first match over the sequential double
    * dots, NULL cosines skipped. The generated projection carries both
    * output shapes, so two kernel instances share one generated class. */
  private def nearestThreeWays(vecs: Seq[Array[Float]], cb: Array[Array[Double]],
      m: Int, cosine: Boolean) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    type Out = Option[Seq[(Int, Long)]]
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    val s = spark
    import s.implicits._
    val (codegen, codegenIdx) = withCodegenOnly {
      val rows = s.sparkContext.parallelize(vecs, 2).toDF("v")
        .select(
          ArrayOps.nearestCodewords(col("v"), cb, m, cosine, withScore = true),
          ArrayOps.nearestCodewords(col("v"), cb, m, cosine))
        .collect()
      (rows.map(r => Option(r.getSeq[Row](0))
          .map(_.map(x => (x.getInt(0), bits(x.getDouble(1)))))).toSeq: Seq[Out],
        rows.map(r => Option(r.getSeq[Int](1))).toSeq)
    }
    val expr = graft.functions.NearestCodewords(
      BoundReference(0, ArrayType(FloatType, containsNull = false), nullable = true),
      cb, m, cosine, withScore = true)
    val interp: Seq[Out] = vecs.map(v =>
      Option(expr.eval(InternalRow(ArrayData.toArrayData(v)))).map { a =>
        val ad = a.asInstanceOf[ArrayData]
        (0 until ad.numElements()).map { i =>
          val st = ad.getStruct(i, 2); (st.getInt(0), bits(st.getDouble(1)))
        }
      })
    val ref: Seq[Out] = vecs.map { v =>
      val sub = v.length / m
      val per = (0 until m).map { sm =>
        val from = sm * sub
        def fold(a: Int => Double, b: Int => Double): Double = {
          var acc = 0.0; var i = 0
          while (i < sub) { acc += a(from + i) * b(from + i); i += 1 }
          acc
        }
        val x: Int => Double = v(_).toDouble
        val vv = fold(x, x)
        val scored = cb.indices.flatMap { j =>
          val c: Int => Double = cb(j)(_)
          if (!cosine) Some(((vv - 2.0 * fold(x, c)) + fold(c, c), j))
          else {
            val nv = math.sqrt(vv); val nc = math.sqrt(fold(c, c))
            if (nv == 0.0 || nc == 0.0) None else Some((fold(x, c) / (nv * nc), j))
          }
        }
        scored.reduceLeftOption((a, b) =>
          if (if (cosine) b._1 > a._1 else b._1 < a._1) b else a)
      }
      if (per.exists(_.isEmpty)) None
      else Some(per.flatten.map { case (d, j) => (j, bits(d)) })
    }
    assert(codegen == interp, s"m=$m cosine=$cosine: codegen diverged from interpreted")
    assert(codegen == ref, s"m=$m cosine=$cosine: kernel diverged from reference folds")
    assert(codegenIdx == codegen.map(_.map(_.map(_._1))),
      s"m=$m cosine=$cosine: index-only output diverged from the scored output")
    codegen
  }

  /** Codebook fixtures: random float32 codewords (widened, as every
    * float codebook reaches the kernel) plus an exact duplicate of
    * codeword `dupOf` at the end (ties must resolve to `dupOf`, the first
    * minimum) and an all-zero codeword at `zero`; vectors are random plus
    * a copy of `dupOf`, a scaled copy of it and the zero vector. */
  private def nearestFixture(k: Int, dupOf: Int, zero: Int, nRandom: Int,
      seed: Int): (Array[Array[Double]], Seq[Array[Float]]) = {
    val rnd = new scala.util.Random(seed)
    val dims = 16
    val cb = Array.fill(k)(Array.fill(dims)(rnd.nextFloat() * 2 - 1))
    cb(k - 1) = cb(dupOf).clone()
    cb(zero) = new Array[Float](dims)
    val vecs = Seq.fill(nRandom)(Array.fill(dims)(rnd.nextFloat() * 2 - 1)) ++
      Seq(cb(dupOf).clone(), cb(dupOf).map(_ * 2), new Array[Float](dims))
    (cb.map(_.map(_.toDouble)), vecs)
  }

  test("NearestCodewords: codegen ≡ interpreted ≡ reference folds, first-min tie-break") {
    // 6 codewords, and 1 025 — one past where the former unrolled argmin
    // split into shards; the duplicate of codeword 2 / 3 is an exact tie
    // every vector nearest to it must resolve to the lower index (the
    // oracle's (d2, cl) tie-break), including the zero vector / zero
    // codeword pair (d2 = 0, no NULL in this mode)
    Seq((6, 2, 4, 50, 7), (1025, 3, 700, 20, 9)).foreach {
      case (k, dupOf, zero, n, seed) =>
        val (cb, vecs) = nearestFixture(k, dupOf, zero, n, seed)
        Seq(1, 4).foreach { m =>
          val got = nearestThreeWays(vecs, cb, m, cosine = false)
          assert(got(n).get.forall(_._1 == dupOf), s"k=$k m=$m: tie not first-min")
          assert(got(n).get.forall(_._2 == 0L), s"k=$k m=$m: self-distance not +0.0")
          if (m == 1) assert(got(n + 2).get.head._1 == zero,
            s"k=$k: the zero vector must land on the zero codeword")
        }
    }
  }

  test("NearestCodewords cosine mode: codegen ≡ interpreted ≡ greatest() first-match, NULL cells skipped") {
    Seq((6, 2, 4, 50, 7), (1025, 3, 700, 20, 9)).foreach {
      case (k, dupOf, zero, n, seed) =>
        val (cb, vecs) = nearestFixture(k, dupOf, zero, n, seed)
        val got = nearestThreeWays(vecs, cb, 1, cosine = true)
        // the copy and the scaled copy tie between dupOf and its
        // duplicate: first maximum wins
        assert(got(n).get.head._1 == dupOf && got(n + 1).get.head._1 == dupOf,
          s"k=$k: cosine tie not first-max")
        // zero-norm codeword: its NULL cosine is never chosen
        assert(got.flatten.forall(_.head._1 != zero), s"k=$k: NULL cosine cell chosen")
        // zero-norm vector: every cosine is NULL, so the cell is NULL
        assert(got(n + 2).isEmpty, s"k=$k: all-NULL cosines must give NULL")
    }
  }

  test("NearestCodewords double codebook: codegen ≡ interpreted ≡ reference folds, not a float cast") {
    // Lloyd centroids are doubles no float can hold (0.1 steps, 1e-9
    // offsets): codeword 3 duplicates codeword 1 (a first-extremum tie the
    // float copy of codeword 1 must resolve to index 1), and the vectors
    // are float copies of codewords 0–2, random floats and the zero vector
    val dims = 8
    val rnd = new scala.util.Random(13)
    val cb = Array(
      Array.tabulate(dims)(i => 0.1 * (i + 1)),
      Array.tabulate(dims)(i => 0.3 + 1e-9 * (i + 1)),
      Array.tabulate(dims)(i => -0.2 - 1e-9 * i),
      null,
      Array.fill(dims)(rnd.nextDouble() * 2 - 1))
    cb(3) = cb(1).clone()
    val vecs = cb.toSeq.take(3).map(_.map(_.toFloat)) ++
      Seq.fill(20)(Array.fill(dims)(rnd.nextFloat() * 2 - 1)) :+ new Array[Float](dims)
    Seq((1, false), (2, false), (1, true)).foreach { case (m, cosine) =>
      val got = nearestThreeWays(vecs, cb, m, cosine)
      assert(got(1).get.forall(_._1 == 1), s"m=$m cosine=$cosine: tie not first-extremum")
      // the same codebook rounded to float32 must move some score: a
      // kernel that narrowed its codebook could not pass the checks above
      val narrowed = nearestThreeWays(vecs, cb.map(_.map(_.toFloat.toDouble)), m, cosine)
      assert(got != narrowed, s"m=$m cosine=$cosine: float-rounded codebook scores identically")
    }
  }

  test("WinnowSelK ≡ the HOF winnow expression (sha-per-gram, window minima, distinct)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    val docs = Seq.tabulate(40)(i =>
      Seq.fill(3 + rnd.nextInt(40))(words(rnd.nextInt(words.size))).mkString(" ")) ++
      Seq("a b", "one two three", "") // short-doc edges (empty selections)
    val w = 9
    val df = docs.toDF("text")
    val toks = split(col("text"), " ")
    val emptyL = typedLit(Seq.empty[Long])
    val hs = when(size(toks) >= 3,
      transform(sequence(lit(0), size(toks) - 3),
        i => Portable.hash32(array_join(slice(toks, i + 1, lit(3)), " "))))
      .otherwise(emptyL)
    val hofSel = when(size(col("hs")) >= w,
      array_distinct(transform(sequence(lit(0), size(col("hs")) - w),
        j => array_min(slice(col("hs"), j + 1, lit(w))))))
      .otherwise(emptyL)
    val hof = df.select(col("text"), hs.as("hs"))
      .select(col("text"), hofSel.as("sel"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSet).toMap
    val kern = withCodegenOnly {
      df.select(col("text"),
          ArrayOps.winnowSel(split(col("text"), " "), w).as("sel"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSet).toMap
    }
    // set equality (consumers are order-insensitive; the oracle's
    // list_distinct order is unspecified too)
    docs.distinct.foreach { d =>
      assert(kern(d) == hof(d), s"winnow diverged for '$d'")
    }
    // the pre-filter equivalence the plan relies on: sel empty iff
    // size(toks) < w + 2
    docs.distinct.foreach { d =>
      val nToks = if (d.isEmpty) 1 else d.split(" ", -1).length
      assert(kern(d).isEmpty == (nToks < w + 2), s"emptiness precondition for '$d'")
    }
  }
}
