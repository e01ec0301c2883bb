package graft

import graft.ext.Embeddings
import graft.ext.Portable
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** e12_kmeans_full solver properties: the convergence probe's early exit
  * must be an exact fixpoint (the bit-safety contract against the
  * fixed-round oracle), and assignment must be a partition of the corpus.
  */
class Ext9Spec extends SparkTestBase {

  test("kmeans solver: early exit is an exact integer fixpoint; assignment partitions the corpus") {
    val e = Portable.spread(Tables.embeddings(spark, sf), "vec_id")
    val nVecs = e.count()
    val (g, iters, converged) = Embeddings.kmeansConverged(e, maxIters = 12)
    assert(iters >= 1 && iters <= 12)

    // every dimension's cluster counts sum to the corpus size — the
    // assignment is a partition (no dropped or duplicated vectors)
    val perPos = g.groupBy("pos").agg(sum("n").as("tot")).select("tot").distinct().collect()
    assert(perPos.length == 1 && perPos.head.getLong(0) == nVecs,
      s"assignment is not a partition: ${perPos.mkString(",")} vs $nVecs")

    if (converged) {
      // fixpoint: one MORE Lloyd round reproduces the statistics verbatim
      // (this is exactly the property that makes the early exit bit-safe
      // against the oracle's fixed round count)
      val (g2, it2, conv2) = Embeddings.kmeansConverged(e, maxIters = iters + 1)
      assert(conv2 && it2 == iters, s"re-run diverged: converged=$conv2, $it2 vs $iters")
      val prev = g.select(col("cl"), col("pos"), col("n").as("pn"), col("qsum").as("pq"))
      val mism = g2.join(prev, Seq("cl", "pos"), "full_outer")
        .agg(count(when(!(col("n") <=> col("pn")) || !(col("qsum") <=> col("pq")), 1)))
        .first().getLong(0)
      assert(mism == 0, s"$mism stat rows changed after convergence")
    }
  }

  /** Test-only reference for one Lloyd round from the per-label means:
    * the former cross-join assignment — every vector against every
    * centroid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) —
    * then the (cl, pos, n, qsum) re-estimate, all as DataFrame ops. */
  private def crossJoinRound(e: DataFrame): DataFrame = {
    def stats(df: DataFrame, key: String) =
      df.select(col(key).as("cl"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("cl"), col("pos").cast("long").as("pos"),
          round(col("v").cast("double") * 1e6, 0).cast("long").as("qv"))
        .groupBy("cl", "pos")
        .agg(count(lit(1)).as("n"), sum(col("qv")).cast("double").as("qsum"))
    def dot(a: Column, b: Column) =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    val cent = stats(e, "label")
      .select(col("cl"), struct(col("pos"), (col("qsum") / (lit(1e6) * col("n"))).as("c")).as("pc"))
      .groupBy("cl").agg(transform(array_sort(collect_list(col("pc"))), p => p.getField("c")).as("ce"))
    val d2 = (dot(col("embedding"), col("embedding")) -
      lit(2.0) * dot(col("embedding"), col("ce"))) + dot(col("ce"), col("ce"))
    val asg = e.crossJoin(cent)
      .withColumn("rn", row_number().over(Window.partitionBy("vec_id").orderBy(d2, col("cl"))))
      .where(col("rn") === 1)
    stats(asg, "cl")
  }

  test("kmeans Lloyd round on the NearestCodewords kernel ≡ the cross-join + row_number assignment") {
    def cells(df: DataFrame) = df.orderBy("cl", "pos").collect().map(r =>
      (r.get(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSeq
    def check(e: DataFrame, what: String) = {
      val (got, iters, _) = Embeddings.kmeansConverged(e, maxIters = 1)
      val want = crossJoinRound(e)
      assert(iters == 1)
      assert(got.schema.map(_.dataType) == want.schema.map(_.dataType), s"$what: schema")
      assert(cells(got) == cells(want), s"$what: Lloyd round diverges from the cross-join form")
      cells(want)
    }
    check(Portable.spread(Tables.embeddings(spark, sf), "vec_id"), "gate corpus")

    // tie-heavy: labels 0 and 1 hold the same two vectors, so their
    // centroids are identical and every vector nearest to them ties —
    // the lower cl must win; rows 4 and 5 are duplicate vectors
    val s = spark
    import s.implicits._
    def grid(a: Int, b: Int) = Array.tabulate(Embeddings.Dims)(d => (((d * a + b) % 5) - 2) / 4.0f)
    val (va, vb, vc, vd) = (grid(7, 1), grid(3, 2), grid(2, 0), grid(4, 3))
    val ties = Seq((0L, 0, va), (1L, 0, vb), (2L, 1, va), (3L, 1, vb),
      (4L, 2, vc), (5L, 2, vc), (6L, 2, vd), (7L, 3, vd)).toDF("vec_id", "label", "embedding")
    val want = check(ties, "tie frame")
    val cls = want.map(_._1.asInstanceOf[Int]).toSet
    assert(cls.contains(0) && !cls.contains(1), s"tie frame is vacuous: clusters $cls")
  }

  test("kcore solver: converged core has min degree >= K; pruning is monotone; adversarial graphs") {
    import spark.implicits._
    def undirected(pairs: Seq[(Long, Long)]) =
      (pairs ++ pairs.map(p => (p._2, p._1))).toDF("u", "v")

    // triangle + pendant chain: the 2-core is exactly the triangle (the
    // chain cascades away one vertex per round — the deep-cascade case)
    val chain = undirected(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L)))
    val (core, iters, conv) = graft.ops.Basket.kcoreConverged(chain, k = 2, maxRounds = 10)
    assert(conv, "chain graph must converge within 10 rounds")
    assert(iters >= 3, s"pendant chain should cascade over rounds, converged in $iters")
    val deg = core.groupBy("u").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(deg.keySet == Set(1L, 2L, 3L), s"2-core should be the triangle, got ${deg.keySet}")
    assert(deg.values.forall(_ >= 2))

    // clique minus nothing: a K4 is its own 3-core, fixpoint in round 1
    val k4 = undirected(for {
      a <- 0L to 3L; b <- 0L to 3L if a < b
    } yield (a, b))
    val (c4, it4, conv4) = graft.ops.Basket.kcoreConverged(k4, k = 3, maxRounds = 10)
    assert(conv4 && it4 == 1 && c4.count() == 12)

    // K above the max degree: everything prunes, empty core
    val (c0, _, conv0) = graft.ops.Basket.kcoreConverged(k4, k = 10, maxRounds = 10)
    assert(conv0 && c0.count() == 0)
  }

  test("curation pipeline: survivors satisfy every gate and carry the cleaned text") {
    import graft.ext.{Boilerplate, Dedup}
    val out = SparkEntry.queries("x_curation_pipeline")(spark, sf).collect()
    assert(out.nonEmpty, "curation pipeline kept nothing — gates are vacuous")
    // every survivor passes the integer gates its frame claims
    out.foreach { r =>
      assert(r.getLong(1) >= Dedup.CurationMinTokens, s"short doc survived: $r")
      assert(r.getLong(2) <= Dedup.CurationNllCeiling, s"OOD doc survived: $r")
    }
    // no survivor is a near-dup loser
    val losers = Dedup.nearDupLosers(spark, sf).collect().map(_.getLong(0)).toSet
    val kept = out.map(_.getLong(0)).toSet
    assert(kept.intersect(losers).isEmpty, "a near-dup loser survived")
    assert(losers.nonEmpty, "loser gate is vacuous on the gate corpus")
    // cleaned_text matches the standalone substring-dedup pass per doc
    val cleaned = Boilerplate.substrCleaned(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    out.foreach(r => assert(r.getString(4) == cleaned(r.getLong(0)),
      s"cleaned text diverged for doc ${r.getLong(0)}"))
    // and at least one survivor actually had spans removed (non-vacuous)
    assert(out.exists(_.getLong(3) > 0), "span removal vacuous among survivors")
  }
}
