package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Per-round benchmark: one JSON line with total + per-query seconds.
  *
  * Methodology (hardened after the round-1 instability finding):
  *   - Queries materialize through the `noop` sink, not `.count()`:
  *     count lets ColumnPruning delete unused Window/project operators
  *     and would time a skeleton of the real plan.
  *   - One warmup pass (bars derivation + a window query) absorbs JVM
  *     JIT, codegen, and parquet-footer costs so per-query numbers are
  *     comparable instead of the first query eating ~10s of warmup.
  *   - Each query runs ITERS times; the reported number is the MEDIAN,
  *     so a one-off GC/JIT storm can't masquerade as a slow operator
  *     (round-1 runs disagreed 4x on individual queries at n=1).
  *   - Generated-code compile failures are COUNTED via a log4j2 appender
  *     on the janino compiler logger and reported as `codegen_errors`.
  *     Round 1 silently ran every kernel query interpreted; a nonzero
  *     count here means the timings measure fallback eval, not the
  *     engine, and must not be trusted as a perf signal.
  */
object Bench {
  /** Median-of-N iterations; SPARK_GRAFT_ITERS overrides (the sf100
    * probe runs the expensive linear tail once — at 1000x data a single
    * pass per query is the honest budget, and the artifact's `iters`
    * field records which discipline produced the numbers). */
  val Iters: Int = {
    val raw = sys.env.get("SPARK_GRAFT_ITERS")
    val n = raw.map { s =>
      try s.toInt
      catch { case _: NumberFormatException =>
        sys.error(s"SPARK_GRAFT_ITERS must be a positive integer, got '$s'")
      }
    }.getOrElse(3)
    require(n >= 1, s"SPARK_GRAFT_ITERS must be >= 1, got $n")
    n
  }

  /** Bench runs with the determinism sort OFF by default (see
    * [[Q.determinismSort]]): the noop sink needs no row order, and the
    * single-reducer sort scaled with egress size — at sf100 it was ~10x
    * the operator cost on 5M-row outputs. `SPARK_GRAFT_DETSORT=on`
    * re-enables it for A/B against pre-round-12 artifacts; the artifact
    * records which discipline ran via `det_sort`. Correctness is
    * unaffected: [[Verify]] never touches the toggle, so the gate dumps
    * stay totally ordered. */
  val DetSort: Boolean = sys.env.get("SPARK_GRAFT_DETSORT").contains("on")

  /** Page-cache state of the input files, recorded in the artifact
    * (round-13 verdict task 5: j2 at sf100 measured 177.8 s cold vs
    * 67.1 s warm — a 2.5× swing invisible in the JSON, so cross-round
    * sf100 deltas were only interpretable by reading prose).
    * `SPARK_GRAFT_PRETOUCH=on` standardizes the state by sequentially
    * reading every input byte before the warmup (the artifact then says
    * "warm" and records the touch cost); `SPARK_GRAFT_CACHE=cold|warm`
    * asserts a state the harness arranged externally (e.g. after
    * `echo 3 > drop_caches`); absent both, "unspecified" — the honest
    * label for whatever the previous run left behind. */
  def preTouch(sfDir: String): Double = {
    val t0 = System.nanoTime()
    val buf = new Array[Byte](1 << 20)
    def walk(f: java.io.File): Unit =
      if (f.isFile) {
        val in = new java.io.FileInputStream(f)
        try { while (in.read(buf) >= 0) () } finally in.close()
      } else Option(f.listFiles).foreach(_.foreach(walk))
    walk(new java.io.File(sfDir))
    (System.nanoTime() - t0) / 1e9
  }

  /** The §2 reference-parity queries (one per SURVEY.md §2 operator row).
    * Everything else in `SparkEntry.queries` — joins (j*), dedup (d*),
    * similarity (e*), text/LLM-pipeline (x_*), fundamentals breadth
    * (f*), multimodal (m*), and the beyond-reference analytics
    * (a5-a12, w10_vwap, t5_backtest, dec_pipeline) — is extension
    * surface reported in `total` but not in `core_survey2_sec`.
    */
  val CoreSurvey2: Set[String] = Set(
    "bars_rebar", "p1_timestamps", "p5_indicator", "p9_color_flag",
    "a1_support_resistance", "a2_symbols", "a3_latest_snapshot", "a4_trend",
    "s11_top100", "s13_last20",
    "w1_ema", "w2_sma20", "w3_rsi14", "w4_tsi", "w5_macd", "w6_adx",
    "w8_rolling_extrema", "w9_shifted_extrema",
    "t1_scalping", "t2_range_trading", "t3_momentum", "t4_breakout",
    "g1_ascending_triangle", "g2_descending_triangle", "g3_rounding_bottom",
    "c1_heikin_ashi", "c2_renko", "c3_raindrop",
    "dashboard_cascade")

  /** JSON value for `core_survey2_sec`: the BASELINE-comparable sum, or
    * "null" when it would not be comparable. Two ways to be incomparable:
    * an allowlist that dropped a core query (the sum would be a partial
    * wearing the full metric's name), or a core query that ERRORED — a
    * failed query still has a near-zero elapsed duration in `results`,
    * and summing it would silently DEFLATE the metric, making a red run
    * look faster than a green one. The failure itself is first-class in
    * the artifact's `errors` field either way.
    */
  def coreSurvey2Json(results: Seq[(String, Double)],
      erroredQueries: Set[String]): String = {
    val comparable = CoreSurvey2.subsetOf(results.map(_._1).toSet) &&
      !erroredQueries.exists(CoreSurvey2)
    if (comparable)
      results.filter { case (k, _) => CoreSurvey2(k) }.map(_._2).sum.toString
    else "null"
  }

  /** SF-scaled shuffle width (round-10 task: replace the sf10
    * SPARK_DRIVER_MEM=96g crutch with the real lever). The 119.6M-edge
    * sf10 graph OOM'd a 16 GB heap at 32 shuffle partitions because 32
    * concurrent reduce tasks each sorted |E|/32 rows; more, smaller
    * reduce tasks shrink the per-task working set while AQE coalesces
    * whatever comes out undersized (shuffle.partitions is only the
    * INITIAL width — AQE cannot split beyond it, so sizing it UP with
    * the data is free, sizing it down is not). Heuristic: one initial
    * partition per 8 MB of source parquet, floored at the core count,
    * capped at 1024; SPARK_GRAFT_SHUFFLE_PARTITIONS overrides for A/B.
    * sf0.1/sf1 stay at 32 (unchanged numbers); sf10 lands ~170.
    */
  private def sizeOf(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(sizeOf).sum).getOrElse(0L)

  def scaledShufflePartitions(sfDir: String, cpus: Int): Int =
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map(_.toInt).getOrElse {
      val dirBytes = sizeOf(new java.io.File(sfDir))
      math.max(cpus.toLong, math.min(1024L, dirBytes / (8L << 20) + 1)).toInt
    }

  /** Corpus-size ceiling for documented-negative queries, and the set of
    * them. `e4w_srp_wide` exists as the measured A/B NEGATIVE for e4's
    * adaptive band geometry (fixed (8,2) bands saturate at corpus scale:
    * 5 203 s at sf100 — 37% of the round-14 full-surface run re-measuring
    * a documented negative, SCALING.md). Above [[LargeSfBytes]] of source
    * data Bench SKIPS these by default (recorded in the artifact's
    * `skipped` field); an explicit SPARK_GRAFT_QUERIES allowlist still
    * runs them, and Verify never skips — the oracle row stays green at
    * every SF. 512 MB keeps sf0.001–sf1 measuring the full surface and
    * gates sf10/sf100 (1.3/14 GB). */
  val LargeSfBytes: Long = graft.sources.Layout.SmallSourceTierBytes
  val LargeSfSkip: Set[String] = Set("e4w_srp_wide")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shufflePartitions = scaledShufflePartitions(sfDir, cpus.toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // NOTE: pairing the scaled width with a smaller AQE advisory size
      // (16 MB) was tried here and REGRESSED: the extra in-flight spill
      // and read-ahead buffers of the finer tasking hard-OOM'd the heap
      // on x_pagerank3 at sf10 (run 2 of the r10 measurement), where the
      // default 64 MB advisory ran green. The defaults stay; the real
      // sf10 memory lever was taking the loop-invariant |E| artifact out
      // of the unified region (DISK_ONLY in pagerankConverged).
      // NOTE on scan splits: a split-count floor
      // (spark.sql.files.minPartitionNum = cpus) was tried here for the
      // single-file testdata and measurably REGRESSED shuffle-heavy
      // queries 3-5x at sf1 (a13 0.7->3.6s, x_tokens 0.5->2.9s, A/B via
      // QueryProbe) while the real fix for the sf1 scan pathology was
      // row-group-sized writes in tools/ScaleUp (one giant row group made
      // single-split events scans 27s; 1 MB row groups restore 1.4s on
      // the SAME single split). Defaults are kept.
      .config("spark.sql.session.timeZone", "UTC")
      // bucketed-scan ordering is a SESSION-CONSTRUCTION setting (round-15
      // advice): a20c's exchange-free as-of plan needs it, and setting it
      // inside one query builder made every LATER bucketed query's plan
      // depend on whether a20c ran first. One file per bucket is still
      // required for Spark to claim the order, so it can never assert an
      // ordering the files don't have.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Q.determinismSort = DetSort
    val codegenErrors = installCodegenErrorCounter()

    // cache-state discipline (see preTouch): touch BEFORE the warmup so
    // the warmup queries run against the state the artifact claims.
    // DEFAULT ON since round 15 (round-14 verdict task 6: the driver's
    // root sf0.1 artifact ran cache-unspecified and swung ±22% on page
    // cache alone, drowning the regression signal); SPARK_GRAFT_PRETOUCH
    // =off restores the old behavior for cold-cache A/B runs.
    val preTouchOn = !sys.env.get("SPARK_GRAFT_PRETOUCH").contains("off")
    val preTouchSec = if (preTouchOn) preTouch(sfDir) else -1.0
    // validated against the known states: the raw env var is interpolated
    // into the machine-read JSON artifact, so an arbitrary string (a
    // quote, a backslash) would corrupt the line
    val cacheState =
      sys.env.getOrElse("SPARK_GRAFT_CACHE", if (preTouchOn) "warm" else "unspecified")
    require(Set("cold", "warm", "unspecified")(cacheState),
      s"SPARK_GRAFT_CACHE must be cold|warm|unspecified, got '$cacheState'")

    // Per-query failures must be FIRST-CLASS in the artifact. The first
    // cut only printed them to stderr and still recorded the elapsed
    // time — so a failing query wore a plausible-looking duration in the
    // committed JSON (the corrupt-sf10 d7/d8 divide-by-zero ran that way
    // for a round before the stderr line was noticed). `errors` in the
    // JSON makes a red run impossible to mistake for a green one.
    val queryErrors = scala.collection.mutable.SortedMap[String, String]()

    def once(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        queryErrors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.take(1).mkString.take(200)
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // queries are independent units: drop any cache a query built so
      // memory pressure doesn't leak into later timings. The explicit GC
      // (outside the timed window) matters on a big-heap single-JVM
      // suite: Spark's ContextCleaner only reclaims shuffle files and
      // broadcasts when driver GC collects their references, and a 100 GB
      // heap may not GC for the whole run — accumulated state made
      // identical queries 5-10x slower late in a full-suite run than in
      // an isolated QueryProbe session (measured at sf1).
      spark.catalog.clearCache()
      System.gc()
      dt
    }

    def median(name: String): Double = {
      val ts = (1 to Iters).map(_ => once(name)).sorted
      ts(ts.length / 2)
    }

    // warmup: bar derivation (shared by the ops surface) + one window query
    Seq("bars_rebar", "w2_sma20", "x_tokens").foreach { n =>
      if (SparkEntry.queries.contains(n)) once(n)
    }

    // Optional allowlist (comma-separated names) for targeted rungs —
    // the sf10 scale table measures the expensive tail of the surface
    // without paying 3 iterations of all 127 queries at 100x data. The
    // artifact records which subset ran via the `queries` keys and the
    // unchanged `sf` field; `total` is then the subset's total.
    val allow = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    allow.foreach { a =>
      val unknown = a -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        System.err.println(s"[bench] allowlist names not in SparkEntry.queries (ignored): ${unknown.toSeq.sorted.mkString(",")}")
    }
    // documented-negative gating (see LargeSfSkip): default-skip above
    // LargeSfBytes; an explicit allowlist overrides
    val skipped: Set[String] =
      if (allow.isEmpty && sizeOf(new java.io.File(sfDir)) > LargeSfBytes)
        LargeSfSkip.filter(SparkEntry.queries.contains)
      else Set.empty
    skipped.foreach(n => System.err.println(
      s"[bench] $n skipped at large SF (documented A/B negative; " +
        "allowlist it via SPARK_GRAFT_QUERIES to force)"))
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => allow.forall(_.contains(n)) && !skipped(n))
    val results = names.map(n => n -> median(n))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // SURVEY.md §2 reference-parity set (BASELINE.md's <60s envelope was
    // authored for this set) as an EXPLICIT whitelist — prefix filters
    // silently absorbed new beyond-reference queries (a9-a12, w10, t5,
    // m2-m4) into the core metric and skewed the BASELINE comparison.
    // With an allowlist that drops any core query, the sum would be a
    // partial (often zero) number still wearing the BASELINE-comparable
    // field name — emit null instead, and record the allowlist so the
    // artifact says which subset ran.
    val core = coreSurvey2Json(results, queryErrors.keySet.toSet)
    val allowJson = allow
      .map(_.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]"))
      .getOrElse("null")
    // 1-min load average (this box has noisy neighbors; round-1 runs
    // disagreed 4x — a high loadavg in the artifact explains a slow run)
    val loadavg = try {
      scala.io.Source.fromFile("/proc/loadavg").getLines().next().split(" ")(0)
    } catch { case NonFatal(_) => "-1" }
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => " "
        case c => c.toString
      } + "\""
    val errJson = queryErrors
      .map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    val skippedJson =
      skipped.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","core_survey2_sec":$core,"iters":$Iters,"det_sort":$DetSort,"cache":"$cacheState","pretouch_sec":$preTouchSec,"codegen_errors":${codegenErrors.get()},"n_query_errors":${queryErrors.size},"errors":$errJson,"loadavg_1m":$loadavg,"shuffle_partitions":$shufflePartitions,"allowlist":$allowJson,"skipped":$skippedJson,"queries":$qs,"sf":"$sfDir"}"""
    // The FULL line prints first — a failed file write (unwritable
    // path, cross-filesystem atomic move) can never lose the stdout
    // artifact of a possibly hours-long run.
    println(json)
    // Harness hardening (round-6 advice: a snapshot committed 0-byte
    // artifacts, and the driver's tail-window capture head-truncated the
    // one printed line).
    // The driver's capture keeps only a bounded TAIL window of stdout,
    // and the full line (136 queries, ~8 KB) overflows it HEAD-first —
    // three rounds of committed BENCH_r*.json had "parsed": null because
    // no complete JSON line survived the window. A compact trailer with
    // just the headline fields (~250 bytes) always fits at the very end
    // of the window, so total/core/error counts parse even when the full
    // line is truncated. The full line stays FIRST and unchanged for
    // consumers that read complete stdout; the trailer is marked
    // "trailer":true so the two are distinguishable.
    val trailer = s"""{"metric":"total","value":$total,"unit":"sec","core_survey2_sec":$core,"iters":$Iters,"det_sort":$DetSort,"cache":"$cacheState","codegen_errors":${codegenErrors.get()},"n_query_errors":${queryErrors.size},"loadavg_1m":$loadavg,"shuffle_partitions":$shufflePartitions,"n_queries":${results.size},"trailer":true,"sf":"$sfDir"}"""
    println(trailer)
    // The full artifact is ALSO written by Bench ITSELF — to
    // SPARK_GRAFT_BENCH_OUT when set, defaulting to .bench/last.json —
    // temp file + atomic move, so a crashed or truncated outer redirect
    // can never leave a half/empty file that looks like a result. Falls
    // back to a plain copy where ATOMIC_MOVE is unsupported
    // (cross-filesystem rename); any failure is a stderr note, never an
    // abort.
    Some(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", ".bench/last.json")).foreach { out =>
      try {
        val dst = java.nio.file.Paths.get(out)
        Option(dst.getParent).foreach(java.nio.file.Files.createDirectories(_))
        val tmp = java.nio.file.Paths.get(out + ".tmp")
        java.nio.file.Files.write(tmp, (json + "\n").getBytes("UTF-8"))
        try java.nio.file.Files.move(tmp, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
          java.nio.file.Files.move(tmp, dst,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] failed to write $out: $e")
      }
    }
    spark.stop()
  }

  /** Counts ERROR events on Spark's generated-code compiler logger.
    * Spark logs the janino CompileException at ERROR there right before
    * falling back to interpreted eval — the exact signature that made
    * round-1 numbers meaningless.
    */
  private def installCodegenErrorCounter(): java.util.concurrent.atomic.AtomicLong = {
    val count = new java.util.concurrent.atomic.AtomicLong(0)
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val app = new AbstractAppender("graft-codegen-errors", null, null, true,
        Array.empty[org.apache.logging.log4j.core.config.Property]) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.ERROR) &&
            e.getLoggerName.contains("codegen")) count.incrementAndGet()
    }
    app.start()
    cfg.addAppender(app)
    // root logger sees every codegen ERROR via additivity; the appender
    // filters on the codegen package so task-level errors don't count
    cfg.getRootLogger.addAppender(app, Level.ERROR, null)
    ctx.updateLoggers()
    count
  }
}
