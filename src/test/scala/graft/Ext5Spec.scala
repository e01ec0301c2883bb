package graft

import org.apache.spark.sql.functions._

/** Round-5 surface: PII redaction, gap-fill resample, PQ ADC. */
class Ext5Spec extends SparkTestBase {

  private def run(name: String) =
    SparkEntry.queries(name)(spark, sf)

  test("x_pii: every injected PII class is detected and redacted") {
    val out = run("x_pii").cache()
    val total = out.count()
    // doc_id % 5 = 0..3 inject exactly one email/phone/ip/ssn each
    val hits = out.agg(sum("n_email"), sum("n_phone"), sum("n_ssn"), sum("n_ip")).head()
    val perClass = (0 until 4).map(k =>
      spark.read.parquet(s"$sf/documents.parquet")
        .where(pmod(col("doc_id"), lit(5)) === k).count())
    assert(hits.getLong(0) == perClass(0), "email count")
    assert(hits.getLong(1) == perClass(1), "phone count")
    assert(hits.getLong(2) == perClass(3), "ssn count")   // class 3 injects SSNs
    assert(hits.getLong(3) == perClass(2), "ip count")    // class 2 injects IPs
    // a doc never carries PII of a class it wasn't injected with
    assert(out.where(col("n_email") + col("n_phone") + col("n_ssn") + col("n_ip") > 1)
      .count() == 0)
    // redaction really replaced the spans: no '@' or digit-dash-digit
    // survives in any tail, masks do appear
    assert(out.where(col("tail").rlike("@|\\d-\\d")).count() == 0)
    assert(out.where(col("tail").contains("<EMAIL>")).count() == perClass(0))
    assert(total == spark.read.parquet(s"$sf/documents.parquet").count())
    out.unpersist()
  }

  test("a14_gapfill: continuous minute grid, LOCF correct, volume conserved") {
    val out = run("a14_gapfill").cache()
    val bars = graft.sources.Bars(spark, sf).cache()
    // grid is exactly span minutes per symbol
    val spans = bars.groupBy("symbol")
      .agg(((max(col("datetime").cast("long")) - min(col("datetime").cast("long"))) / 60 + 1)
        .cast("long").as("mins"))
    val gridRows = out.groupBy("symbol").agg(count(lit(1)).as("n"))
      .join(spans, "symbol").where(col("n") =!= col("mins")).count()
    assert(gridRows == 0)
    // no gaps at real bars; close_ff equals the bar close there
    val atBars = out.where(col("is_gap") === 0)
      .join(bars.withColumnRenamed("datetime", "minute_ts"), Seq("symbol", "minute_ts"))
    assert(atBars.where(col("close_ff") =!= graft.Q.r6(col("close"))).count() == 0)
    // volume is conserved: gap rows add zero
    val vOut = out.agg(sum("volume")).head().getLong(0)
    val vIn = bars.agg(sum("volume")).head().getLong(0)
    assert(vOut == vIn)
    // forward fill: no nulls after each symbol's first bar (grid starts
    // AT the first bar, so no nulls at all)
    assert(out.where(col("close_ff").isNull).count() == 0)
    bars.unpersist(); out.unpersist()
  }

  test("e10_adc: ADC ranking is a faithful LUT sum over e8 codes") {
    val adc = run("e10_adc").cache()
    // shape: K rows per query, ranks 1..K, no self-neighbors
    val k = graft.ext.Similarity.K
    val counts = adc.groupBy("query_id").agg(count(lit(1)).as("n"),
      min("rk").as("lo"), max("rk").as("hi"))
    assert(counts.where(col("n") =!= k || col("lo") =!= 1 || col("hi") =!= k).count() == 0)
    assert(adc.where(col("query_id") === col("neighbor_id")).count() == 0)
    // adist is a sum of PqM non-negative LUT entries => never negative
    assert(adc.where(col("adist2_e6") < 0).count() == 0)

    // The real correctness property of ADC: it is EXACT with respect to
    // its own quantization. Rebuild codes, LUT, and the full ranking
    // driver-side with the same sequential-fold arithmetic and compare
    // every (query, rank, neighbor, distance) cell.
    import graft.ext.Embeddings.{PqM, SubDim}
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
      .sortBy(_._1)
    val cw: Map[Int, Array[Float]] =
      vecs.groupBy(_._3).map { case (l, vs) => l -> vs.minBy(_._1)._2 }
    def dotSlice(a: Array[Float], b: Array[Float], m: Int): Double =
      (m * SubDim until (m + 1) * SubDim)
        .foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
    def d2(v: Array[Float], c: Array[Float], m: Int): Double =
      (dotSlice(v, v, m) - 2.0 * dotSlice(v, c, m)) + dotSlice(c, c, m)
    val codes: Map[Long, Array[Int]] = vecs.map { case (id, v, _) =>
      id -> Array.tabulate(PqM) { m =>
        cw.toSeq.map { case (cl, c) => (d2(v, c, m), cl) }.min._2
      }
    }.toMap
    val nq = graft.ext.Similarity.NQueries
    val expected = vecs.filter(_._1 < nq).flatMap { case (qid, qv, _) =>
      val lut: Map[Int, Array[Long]] =
        cw.map { case (cl, c) => cl -> Array.tabulate(PqM)(m => math.round(d2(qv, c, m) * 1e6)) }
      vecs.filter(_._1 != qid).map { case (vid, _, _) =>
        val a = (0 until PqM).map(m => lut(codes(vid)(m))(m)).sum
        (qid, vid, a)
      }.sortBy(t => (t._3, t._2)).take(k).zipWithIndex
        .map { case ((q, v, a), i) => (q, i + 1L) -> (v, a) }
    }.toMap
    val got = adc.collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> (r.getLong(1), r.getLong(3))).toMap
    assert(got == expected)
    adc.unpersist()
  }

  test("PQ codebook guard: accepts 1025 codewords, refuses past the driver bound") {
    import spark.implicits._
    def frame(labels: Int) =
      (0 until labels).map(l => (l.toLong, Array(l.toFloat, 1.0f), l))
        .toDF("vec_id", "embedding", "label")
    // the NearestCodewords kernel carries the codebook as one array (no
    // per-method bytecode budget to outgrow), so 1025 codewords is a
    // working codebook, label-ascending with the min-vec_id
    // representative
    val cb = graft.ext.Embeddings.codebook(frame(1025))
    assert(cb.length == 1025)
    assert(cb.map(_._1.asInstanceOf[Int]).toSeq == (0 until 1025))
    assert(cb(7)._2.head == 7.0f)
    // what remains guarded is the DRIVER collect: a six-figure "codebook"
    // is not a trained PQ codebook, and the failure must be loud and name
    // the remedy (re-train with fewer centroids)
    val e = intercept[IllegalArgumentException] {
      graft.ext.Embeddings.codebook(frame(65537))
    }
    assert(e.getMessage.contains("65537 codewords"))
    assert(e.getMessage.contains("Re-train"))
  }
}
