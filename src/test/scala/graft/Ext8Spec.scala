package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Round-8 wave: properties of the full PageRank solver
  * (ops/Basket.pagerankConverged) and the adaptive e1 dispatch that the
  * DuckDB hash oracle can't see — convergence behavior, mass
  * conservation, and tier agreement.
  */
class Ext8Spec extends SparkTestBase {

  private val S = 1000000000000L

  import spark.implicits._

  test("pagerankConverged: a regular graph hits the exact integer fixpoint in one round") {
    // directed 4-cycle: every vertex in/out-degree 1, n divides S, so the
    // uniform start vector IS the fixpoint — the convergence probe must
    // detect delta == 0 after the first round and stop paying supersteps
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("u", "v")
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("pk")
    val (rank, iters) = ops.Basket.pagerankConverged(edges, nodes, maxIters = 10)
    assert(iters == 1, s"expected early exit at round 1, ran $iters")
    val rows = rank.orderBy("pk").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq(1L, 2L, 3L, 4L).map(pk => (pk, S / 4)))
  }

  test("pagerankConverged: dangling mass is redistributed, total mass conserved") {
    // u -> v with v a sink: without redistribution v's share leaks every
    // round (the documented x_pagerank_step simplification); with it the
    // total stays within n floor-units of S
    val edges = Seq((1L, 2L)).toDF("u", "v")
    val nodes = Seq(1L, 2L).toDF("pk")
    val (rank, iters) = ops.Basket.pagerankConverged(edges, nodes, maxIters = 3)
    assert(iters == 3) // no fixpoint this fast — the cap is what stops it
    val total = rank.agg(sum("r")).head().getLong(0)
    assert(total > S - 2 * 3 && total <= S,
      s"mass not conserved: $total vs $S (allow n floor-units per round)")
    // round-1 hand computation: r1(u) = 15e12/200 + 85*(0 + 5e11/2)/100,
    // r1(v) = 15e12/200 + 85*(5e11 + 5e11/2)/100 — checked once by hand,
    // the assertion here is the ordering (the sink accumulates more rank)
    val m = rank.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(2L) > m(1L), s"sink should out-rank its source: $m")
  }

  test("pagerankConverged: early exit reproduces the fixed-iteration vector") {
    // the oracle-safety property: if the loop exits at round j < K on
    // delta == 0, running K rounds yields the SAME vector (integer
    // fixpoint) — this is what makes the convergence probe safe against
    // the fixed-K oracle chain at any SF
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("u", "v")
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("pk")
    val (early, it1) = ops.Basket.pagerankConverged(edges, nodes, maxIters = 2)
    val (late, it2) = ops.Basket.pagerankConverged(edges, nodes, maxIters = 8)
    assert(it1 == 1 && it2 == 1)
    val a = early.orderBy("pk").collect().map(_.getLong(1)).toSeq
    val b = late.orderBy("pk").collect().map(_.getLong(1)).toSeq
    assert(a == b)
  }

  test("x_pagerank_full: sinks exist in the directed co-purchase graph (non-vacuous redistribution)") {
    // the round-6 lesson (vacuous triangle oracle): assert the semantics
    // under test actually fire on the gate data — the u<v orientation
    // guarantees every component's max part id is a sink
    val basket = sources.Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val edges = basket.as("a")
      .join(basket.as("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
    val nodes = basket.select("pk").distinct()
    val sinks = nodes.join(edges.select("u").distinct(),
      nodes("pk") === col("u"), "left_anti").count()
    assert(sinks > 0, "no dangling vertices — the redistribution term would be vacuous")
  }

  /** The former label-arm coder, kept here as the test-only reference:
    * per subspace, one literal squared-distance term per codeword reduced
    * by least() + first match; the coarse cell by greatest() of the
    * literal cosines + first match. Emits (vec_id, cl, code0, err0, …). */
  private def unrolledCodes(e: DataFrame, cb: Array[(Any, Array[Float])]): DataFrame = {
    import ext.Embeddings.{PqM, SubDim}
    def firstMatch(ds: Seq[(Any, Column)], best: Column): Column =
      ds.tail.foldLeft(when(ds.head._2 === best, lit(ds.head._1))) {
        case (acc, (cl, d)) => acc.when(d === best, lit(cl))
      }
    val v = col("embedding")
    val codes = (0 until PqM).flatMap { m =>
      val vm = slice(v, m * SubDim + 1, SubDim)
      val vv = ext.Portable.dot(vm, vm)
      val ds = cb.toSeq.map { case (cl, ce) =>
        val cm = ce.slice(m * SubDim, (m + 1) * SubDim)
        val cc = cm.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble)
        (cl, (vv - lit(2.0) * ext.Portable.dot(vm, typedlit(cm))) + lit(cc))
      }
      val dmin = least(ds.map(_._2): _*)
      Seq(firstMatch(ds, dmin).as(s"code$m"), dmin.as(s"err$m"))
    }
    val cs = cb.toSeq.map { case (cl, ce) => (cl, ext.Portable.cosine(v, typedlit(ce))) }
    e.select(col("vec_id") +: firstMatch(cs, greatest(cs.map(_._2): _*)).as("cl") +: codes: _*)
  }

  test("codesPass: the NearestCodewords coding pass equals the unrolled-literal form") {
    // 30 rows over 10 label codewords, every component on a 17-step
    // grid (rows i and i + 17 carry the same vector), so distances
    // collide — every (cl, code, err) cell must agree bit for bit,
    // including the (dist2, cl)/(cos DESC, cl) first-match tie-breaks and
    // the int32 label type of cl and code
    val dims = ext.Embeddings.Dims
    val rows = (0 until 30).map { i =>
      val emb = Array.tabulate(dims)(d => (((i * 31 + d * 7) % 17) - 8) / 8.0f)
      (i.toLong, i % 10, emb)
    }
    val e = rows.toDF("vec_id", "label", "embedding")
    val cb = ext.Embeddings.codebook(e)
    def cells(df: DataFrame) = df.orderBy("vec_id").collect().map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case x => x
    }).toSeq
    val kernel = ext.Embeddings.codesPass(e, cb, Some(cb), cosine = true, withErr = true)
    val flat = kernel.select(col("vec_id") +: col("cl") +:
      (0 until ext.Embeddings.PqM).flatMap { m =>
        val x = element_at(col("codes"), m + 1)
        Seq(x("code").as(s"code$m"), x("err2").as(s"err$m"))
      }: _*)
    val ref = unrolledCodes(e, cb)
    assert(flat.schema.map(_.dataType) == ref.schema.map(_.dataType))
    assert(cells(flat) == cells(ref), "kernel coding pass diverges from the unrolled form")
  }

  test("adcTopK: broadcast-batched query slices reproduce e10 exactly") {
    // 5 queries at batchSize 2 → 3 batches; query independence means the
    // union of per-batch scoring joins must equal e10's single-broadcast
    // result row-for-row (same exact-integer distances, same ranks)
    val e = ext.Portable.spread(sources.Tables.embeddings(spark, sf), "vec_id")
    val queries = e.where(col("vec_id") < ext.Similarity.NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val batched = ext.Embeddings.adcTopK(e, queries, ext.Similarity.K, batchSize = 2)
      .orderBy("query_id", "rk").collect().map(_.toSeq).toSeq
    val single = SparkEntry.queries("e10_adc")(spark, sf)
      .orderBy("query_id", "rk").collect().map(_.toSeq).toSeq
    assert(batched == single)
  }

  test("e1 adaptive dispatch: banded tier is a subset of the exact tier at gate scale") {
    // below E1ExactMaxN the headline runs the exact grid join; the (8,2)
    // banded tier it switches to at scale must emit only true pairs
    // (precision 1 — recall is the documented trade)
    val exact = ext.Similarity.gridNearDup(spark, sf)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = ext.Similarity.srpNearDup(spark, sf, bandRows = 8, nBands = 2)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded.subsetOf(exact),
      s"banded tier emitted non-pairs: ${banded -- exact}")
  }
}
