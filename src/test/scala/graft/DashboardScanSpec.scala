package graft

import graft.ops.{Dashboard, DashboardScan}
import org.apache.spark.sql.Row

/** The scan cascade must compute the same function as the window cascade
  * on every partitioning — including partition counts far above the row
  * count (empty partitions, multi-partition warm-up chains).
  */
class DashboardScanSpec extends SparkTestBase {

  private def rows(df: org.apache.spark.sql.DataFrame): Array[Row] =
    df.orderBy("symbol", "datetime").collect()

  private def assertSame(a: Array[Row], b: Array[Row], ctx: String): Unit = {
    assert(a.length == b.length, s"$ctx: ${a.length} vs ${b.length} rows")
    a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
      (0 until x.length).foreach { j =>
        val (u, v) = (x.get(j), y.get(j))
        (u, v) match {
          case (null, null) => ()
          case (du: Double, dv: Double) =>
            val tol = 1e-9 * math.max(1.0, math.max(math.abs(du), math.abs(dv)))
            assert(math.abs(du - dv) <= tol,
              s"$ctx row $i col $j: $du vs $dv (row: $x / $y)")
          case _ =>
            assert(u == v, s"$ctx row $i col $j: $u vs $v (row: $x / $y)")
        }
      }
    }
  }

  test("scan cascade matches the window cascade (default partitioning)") {
    val w = rows(Dashboard.cascadeWindows(spark, sf))
    val s = rows(DashboardScan.cascade(spark, sf))
    assert(w.nonEmpty)
    assert(w.head.length == s.head.length, "column arity differs")
    assertSame(w, s, "default")
  }

  test("scan cascade is partitioning-invariant (chained multi-partition warm-up)") {
    val w = rows(Dashboard.cascadeWindows(spark, sf))
    // 64 partitions over ~hundreds of rows: every chunk is far below
    // TailLen, so warm-up tails compose across MANY partitions, and some
    // partitions are empty — the adversarial case for the driver fold.
    val s64 = rows(DashboardScan.cascade(spark, sf, numPartitions = 64))
    assertSame(w, s64, "n=64")
    val s2 = rows(DashboardScan.cascade(spark, sf, numPartitions = 2))
    assertSame(w, s2, "n=2")
  }

  test("extrema/stochastic scan columns match their window formulas on every partitioning") {
    // round-12 task 3: the w8/w9/w13 dispatch columns — bounded frames
    // only (<= 20 rows + one lag), so the warm-up makes them EXACT, not
    // just under-rounding like the EMA family
    import graft.ops.{Indicators, Rolling}
    import org.apache.spark.sql.functions.col
    val bars = graft.sources.Bars(spark, sf)
    val win = rows(Indicators.withStochastic(
      bars
        .withColumn("h5", Rolling.rmax(col("high"), 5))
        .withColumn("l5", Rolling.rmin(col("low"), 5))
        .withColumn("c20max", Rolling.rmax(col("close"), 20))
        .withColumn("c20min", Rolling.rmin(col("close"), 20))
        .withColumn("prev_h5", Rolling.lag1(col("h5")))
        .withColumn("prev_l5", Rolling.lag1(col("l5"))))
      .select("symbol", "datetime", "h5", "l5", "c20max", "c20min",
        "prev_h5", "prev_l5", "stoch_k", "stoch_d"))
    for (n <- Seq(0, 2, 64)) {
      val scan = rows(DashboardScan.cascadeScanOnly(spark, sf, numPartitions = n)
        .select("symbol", "datetime", "h5", "l5", "c20max", "c20min",
          "prev_h5", "prev_l5", "stoch_k", "stoch_d"))
      assertSame(win, scan, s"extrema n=$n")
    }
  }

  test("TailLen margin: truncated EMA warm-up sits >=100x under the 6-dp rounding threshold") {
    // The scan tier seeds every EMA TailLen rows early instead of at the
    // key's true start; truncated history contributes at most
    // (1-alpha_min)^(TailLen - 64) relative (alpha_min = 1/14, the ADX
    // family; 64 discounts the bounded frames and chained lags the
    // warm-up must also cover). w1-w6 and the flagship ride this arm at
    // deep history (Indicators.tiered), so the margin IS the w1-w6
    // correctness headroom: at a generous 1e6 value-magnitude bound the
    // absolute error must stay two orders under the 0.5e-6 gate
    // rounding. Shrinking TailLen past this pin turns the documented
    // ~1e-10-per-cell triage note into a live flake mode — fail here
    // first, loudly.
    val alphaMin = 1.0 / 14.0
    val maxAbs = 1e6
    val err = math.pow(1.0 - alphaMin, DashboardScan.TailLen - 64) * maxAbs
    assert(err * 100 <= 0.5e-6,
      f"TailLen=${DashboardScan.TailLen} leaves warm-up error $err%.3e " +
        f"within 100x of the 0.5e-6 rounding threshold")
  }

  /** An events table whose bars pin every flagship global of a key to a
    * different stretch of its history: AAPL (400 one-event minutes) has
    * its first close, min low, max high and last close at minutes 0,
    * 130, 260 and 399, the two closes below almost every other close (a
    * first or last close read from the wrong partition flips its trend);
    * GOOGL's max high is a NaN (Spark's double ordering
    * sorts it largest); MSFT's min low is a -0.0 tied with a later 0.0
    * close (equal in Spark's ordering). One bar per minute, so each
    * minute's value is its open/high/low/close — except GOOGL's minute
    * 5, whose NaN event is followed by a 50.0 (high NaN, low and close
    * 50.0). */
  private def globalsFixture(): String = {
    val dir = java.nio.file.Files.createTempDirectory("dashscan-globals").toString
    val t0 = java.time.Instant.parse("2024-01-02T00:00:00Z")
    val ev = new scala.collection.mutable.ArrayBuffer[(Long, java.sql.Timestamp, Long, String, Double, String)]
    def add(user: Long, minute: Int, sec: Int, v: Double): Unit =
      ev += ((ev.length.toLong, java.sql.Timestamp.from(t0.plusSeconds(minute * 60L + sec)),
        user, "tick", v, "{}"))
    for (i <- 0 until 400)
      add(0, i, 0, i match {
        case 0 => 81.0
        case 130 => 79.0
        case 260 => 121.0
        case 399 => 82.0
        case _ => 100.0 + 20.0 * math.sin(i / 9.0)
      })
    for (i <- 0 until 30) {
      if (i == 5) add(1, i, 0, Double.NaN)
      add(1, i, 10, if (i == 5) 50.0 else 40.0 + i)
    }
    for (i <- 0 until 30)
      add(2, i, 0,
        if (i < 10) 10.0 - i else if (i == 10) -0.0 else if (i == 11) 0.0
        else 3.0 + (29 - i) * 0.1)
    import spark.implicits._
    ev.toSeq.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    dir
  }

  test("per-symbol globals folded across partitions: range_signal/trend match the window tier") {
    import org.apache.spark.sql.functions.{col, spark_partition_id}
    val dir = globalsFixture()
    val cols = Seq("symbol", "datetime", "range_signal", "trend")
    val win = Dashboard.cascadeWindows(spark, dir)
    val w = rows(win.select(cols.map(col): _*))
    assert(w.length == 460)
    // every branch of both signals occurs, so a wrong global shows
    val sig = w.groupBy(r => (r.getString(0), r.getInt(2))).keySet
    assert(Seq(-1, 0, 1).forall(v => sig.contains(("AAPL", v))), sig)
    assert(sig.contains(("GOOGL", 1)) && !sig.contains(("GOOGL", -1)), sig)
    assert(sig.contains(("MSFT", 1)), sig)
    assert(w.map(r => (r.getString(0), r.getString(3))).distinct.toSet ==
      Set(("AAPL", "Uptrend"), ("GOOGL", "Uptrend"), ("MSFT", "Downtrend")))
    for (n <- Seq(1, 3, 7, 64)) {
      val scan = DashboardScan.cascade(spark, dir, numPartitions = n)
      assert(scan.schema.map(f => (f.name, f.dataType)) ==
        win.schema.map(f => (f.name, f.dataType)), s"n=$n schema")
      assert(!scan.schema("range_signal").nullable && !scan.schema("trend").nullable)
      assertSame(w, rows(scan.select(cols.map(col): _*)), s"globals n=$n")
      if (n >= 7) { // AAPL's four global rows sit in four partitions
        val at = DashboardScan.cascadeScanOnly(spark, dir, numPartitions = n)
          .withColumn("pid", spark_partition_id())
          .where(col("symbol") === "AAPL").orderBy("datetime")
          .select("pid").collect().map(_.getInt(0))
        assert(Seq(0, 130, 260, 399).map(at).distinct.length == 4,
          s"n=$n: fixture rows share a partition")
      }
    }
  }

  test("scan cascade write runs at most 5 Spark jobs (one read of events)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = s"dashscan-jobs-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == s"$group-flush" => flushed.countDown()
          case _ =>
        }
    }
    def write(): Unit =
      DashboardScan.cascade(spark, sf).write.format("noop").mode("overwrite").save()
    write() // warm the path's schema memo: count the query's own jobs only
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "scan cascade job count")
      write()
      // the listener bus delivers in order: once the marker job is seen,
      // every job of the write has been counted
      sc.setJobGroup(s"$group-flush", "listener flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    assert(jobs.get >= 1 && jobs.get <= 5, s"${jobs.get} jobs")
  }
}
