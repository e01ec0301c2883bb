package graft.perfbench

import graft.SparkEntry
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.control.NonFatal

object BatchWorkload {
  /** From the reference dashboard's queries (`graft.Bench.CoreSurvey2`):
    * re-barring and the ADX window stack, plus the scan-tier indicator
    * cascade. Sub-second, bound by query building, Catalyst and per-job
    * cost. */
  val Dashboard: Seq[String] = Seq("bars_rebar", "w6_adx", "dashboard_cascade_scan")

  /** Execution-bound queries: a TPC-H join, the k-means solver and the ADC
    * scoring kernel. Their time goes to shuffles, per-superstep jobs and
    * codegen kernels. */
  val Pipeline: Seq[String] = Seq("j9_tpch_q21", "e12_kmeans_full", "e10_adc")

  def queries(workload: String): Seq[String] = workload match {
    case "dashboard" => Dashboard
    case "pipeline" => Pipeline
  }

  /** Nominal length of one round (4 cores, when the benchmark was defined):
    * a run times `seconds / RoundS` whole rounds, so every run of a
    * workload times the same number of executions. */
  val RoundS: Map[String, Double] = Map("dashboard" -> 1.8, "pipeline" -> 3.3)

  def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
      .nextOption().getOrElse("").take(200)
}

/** Closed loop, one client: an untimed check pass that writes every
  * query's output for `run.py` to compare, an untimed warm-up round, then
  * timed rounds in which each query runs once, in an order drawn from the
  * seed, into the `noop` sink.
  * Both passes build the same plans (the determinism sort is off, as in
  * `graft.Bench`; `run.py` compares rows in any order), so the check pass
  * also compiles the generated code the timed rounds then reuse.
  * The number of rounds follows from the run's seconds (see `RoundS`), at
  * least one, and two in a traced run. In a traced run every
  * other execution is traced, which gives the tracing overhead as the
  * traced-minus-untraced difference of the same queries. */
final class BatchWorkload(spark: SparkSession, a: Main.Args, tracer: Option[Tracer]) {
  import BatchWorkload.message

  def run(names: Seq[String]): Map[String, Any] = {
    val preTouchS = graft.Bench.preTouch(a.dataDir)

    graft.Q.determinismSort = false
    val check = names.map { n =>
      val t0 = System.nanoTime()
      val err =
        try {
          SparkEntry.queries(n)(spark, a.dataDir)
            .write.mode("overwrite").parquet(a.runDir.resolve("check").resolve(n).toString)
          None
        } catch { case NonFatal(e) => Some(message(e)) }
      spark.catalog.clearCache()
      Map("query" -> n, "seconds" -> (System.nanoTime() - t0) / 1e9, "error" -> err.orNull)
    }

    // one untimed round: a query's first executions after the check pass
    // still run measurably slower (JIT, caches filled on first use)
    val warmup = names.map(n => once(n, -1, traced = false))

    val execs = mutable.ArrayBuffer[Map[String, Any]]()
    val firstOpUs = Main.nowUs
    val gc0 = Main.gcSeconds
    Main.resetHeapPeak()
    val t0 = System.nanoTime()
    val rounds = math.max(if (tracer.isDefined) 2 else 1,
      (a.seconds / BatchWorkload.RoundS(a.workload)).toInt)
    val roundTimes = (0 until rounds).map { round =>
      val r0 = System.nanoTime()
      val order = new scala.util.Random(a.seed * 1000003L + round).shuffle(names)
      order.zipWithIndex.foreach { case (n, i) =>
        execs += once(n, round, tracer.isDefined && (i + round) % 2 == 0)
      }
      (System.nanoTime() - r0) / 1e9
    }
    val wall = (System.nanoTime() - t0) / 1e9

    Map("workload" -> a.workload, "queries" -> names,
      "first_op_epoch_us" -> firstOpUs, "pretouch_s" -> preTouchS,
      "check" -> check, "warmup" -> warmup, "executions" -> execs.toList, "round_s" -> roundTimes.toList,
      "timed_wall_s" -> wall, "gc_s" -> (Main.gcSeconds - gc0),
      "heap_peak_mb" -> Main.heapPeakMb,
      "oracle_sql" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
  }

  private def once(n: String, round: Int, traced: Boolean): Map[String, Any] = {
    val acc = new Acc
    val span = tracer.map(_.nextId()).getOrElse(0L)
    tracer.foreach { t =>
      ListenerBusDrain(spark.sparkContext)
      t.acc = acc; t.parent = span; t.trace = span; t.writeStartUs = Long.MaxValue
      t.on = traced
    }
    val s0 = Main.nowUs
    val t0 = System.nanoTime()
    var tb = t0
    val err =
      try {
        val df = SparkEntry.queries(n)(spark, a.dataDir)
        tb = System.nanoTime()
        tracer.foreach(t => t.writeStartUs = s0 + (tb - t0) / 1000)
        df.write.format("noop").mode("overwrite").save()
        None
      } catch { case NonFatal(e) => Some(message(e)) }
    val t1 = System.nanoTime()
    if (tb == t0) tb = t1
    val buildS = (tb - t0) / 1e9
    val writeS = (t1 - tb) / 1e9
    val traceCols: Map[String, Any] = tracer.filter(_ => traced).map { t =>
      ListenerBusDrain(spark.sparkContext)
      t.on = false
      val sb = s0 + (tb - t0) / 1000
      val s1 = s0 + (t1 - t0) / 1000
      t.add(Span(span, 0, span, "query", n, s0, s1, Map("round" -> round)))
      t.add(Span(t.nextId(), span, span, "build", "build", s0, sb, Map.empty))
      t.add(Span(t.nextId(), span, span, "exec", "write", sb, s1, Map.empty))
      acc.toMap ++ Map("span" -> span,
        "exec_s" -> math.max(0.0, writeS - acc.writePlanMs / 1e3))
    }.getOrElse(Map.empty)
    spark.catalog.clearCache()
    Map("round" -> round, "query" -> n, "seconds" -> (t1 - t0) / 1e9,
      "build_s" -> buildS, "write_s" -> writeS, "traced" -> traced,
      "error" -> err.orNull) ++ traceCols
  }
}
