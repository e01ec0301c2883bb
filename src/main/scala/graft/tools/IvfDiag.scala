package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ext.{Embeddings, Portable, Similarity}
import graft.sources.Tables

/** IVF-PQ failure attribution on a large corpus: for every (query, true
  * top-K neighbor) pair from the brute-force ground truth, reports
  * whether the miss is the COARSE PROBE (the neighbor's list is not
  * probed) or the ADC SHORTLIST (probed, but the compressed-domain rank
  * falls outside the re-rank window) — the two dials (CoarseKDiv /
  * RerankPerList) fix different failures, so the split decides which to
  * turn.
  *
  * Run: `SPARK_GRAFT_SF_DIR=data/sf10 sbt "runMain graft.tools.IvfDiag"`.
  */
object IvfDiag {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "data/sf10")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val e = Portable.spread(Tables.embeddings(spark, dir), "vec_id")
    val n = e.count()
    require(Embeddings.useTrainedArm(n), s"corpus too small for the trained arm: $n")
    val (ccb, pcb, _) = Embeddings.codebooks(e, n)
    println(s"[diag] n=$n coarseK=${ccb.length} pq=${pcb.length}")

    val codes = Embeddings.codesPass(e, pcb, Some(ccb)).cache()
    val qRows = e.where(col("vec_id") < Similarity.NQueries)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)

    // ground truth: exact top-K cosine per query
    val brute = graft.SparkEntry.queries("e2_knn_brute")(spark, dir)
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))

    Seq(2, 4, 6).foreach { np =>
      val probes = Embeddings.probeTrained(qRows, ccb, np)
        .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
      // neighbor assignments
      val nbrCl = codes.where(col("vec_id").isin(brute.map(_._2).distinct: _*))
        .select(col("vec_id"), col("cl"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val (inProbe, outProbe) = brute.partition { case (q, nb) =>
        probes(q).contains(nbrCl(nb)) }
      // ADC rank of each in-probe neighbor among its query's probed candidates
      val luts = qRows.map { case (qid, qv) => qid -> Embeddings.lutDriver(qv, pcb) }.toMap
      val qps = probes.toSeq.flatMap { case (q, cls) => cls.map(cl => (q, cl, luts(q))) }
        .toDF("qid", "ccl", "lut")
      val scored = codes.join(broadcast(qps),
          col("cl") === col("ccl") && col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          (0 until Embeddings.PqM).map(m =>
            element_at(col("lut"), concat_ws("_", lit(m),
              element_at(col("codes"), m + 1)))).reduce(_ + _).as("ad"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("ad"), col("vec_id"))
      val ranks = scored.withColumn("rk", row_number().over(w))
        .where(col("vec_id").isin(brute.map(_._2).distinct: _*))
        .select(col("qid"), col("vec_id"), col("rk"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
      val shortlist = Embeddings.rerankShortlist(np)
      val inShort = inProbe.count { case (q, nb) => ranks.get((q, nb)).exists(_ <= shortlist) }
      val rkList = inProbe.flatMap { case (q, nb) => ranks.get((q, nb)) }.sorted
      println(s"[diag] nprobe=$np shortlist=$shortlist " +
        s"coarse_hit=${inProbe.size}/${brute.length} " +
        s"adc_in_shortlist=$inShort/${inProbe.size} " +
        s"adc_ranks=${rkList.mkString(",")}")
    }
    spark.stop()
  }
}
