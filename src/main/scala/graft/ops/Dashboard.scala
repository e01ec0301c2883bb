package graft.ops

import graft.Q
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The dashboard's full analytical cascade as ONE query (SURVEY.md §3.2):
  * scan -> bars -> indicator -> EMA5/15, SMA, RSI, TSI, MACD, ADX -> four
  * strategy signals -> three pattern flags -> colour flag -> trend label —
  * the entire per-tick recomputation of reference
  * `streamlit_app/streamlit_app.py:340-487` as a single Spark plan.
  *
  * Scale design — this is the query that proves the cascade architecture:
  * every window shares `partitionBy(symbol)`, so Catalyst plans the whole
  * thing as ONE Exchange(hashpartitioning(symbol)) + ONE Sort, followed by
  * consecutive Window operators and a final Project. Adding an indicator
  * column costs zero additional shuffles; at 100 TB the cascade reads the
  * source once and shuffles once.
  */
object Dashboard {
  import Rolling._

  /** The fused cascade, computed in explicit dependency layers so every
    * same-depth window expression lands in one `select` and
    * ExtractWindowExpressions emits ONE Window operator per layer (4
    * total) instead of the ~20 a `withColumn` chain produces (interposed
    * Projects defeat CollapseWindow). Formulas are identical to the
    * composable single-operator builders in [[Indicators]], [[Strategies]],
    * [[Patterns]], [[Charts]] — the oracle below checks both describe the
    * same function.
    */
  def cascade(spark: SparkSession, dir: String): DataFrame = {
    // History-depth-adaptive tier dispatch (the e1 pattern). The window
    // tier's parallelism is #symbols; the scan tier's is #partitions.
    // With the fixed 3-symbol universe, events-bytes-per-symbol tracks
    // the per-key history depth. The statistic is DRIVER-SIDE FILESYSTEM
    // METADATA (a `count()` job measured ~0.7 s of dispatch overhead at
    // sf0.1 — a third of the query itself; the FS probe is sub-ms and
    // launches nothing). Both tiers answer to the SAME oracle
    // (dashboard_cascade_scan keeps the scan arm gate-checked at every
    // SF), so the dispatch cannot change semantics, only the plan. Both
    // read `events` once: the window tier takes the per-symbol globals
    // from unbounded windows over its one exchange, the scan tier folds
    // them into its first pass (see [[DashboardScan]]).
    // Measured crossover: the scan wins from sf0.1 up (1.6 s vs 2.4 s;
    // sf10 13.2 s vs 61.6 s, measured when the scan still re-read
    // `events` for the globals; SCALING.md has the single-read numbers).
    //
    // KNOWN ACCEPTED RISK (r8 advice, documented rather than "fixed"):
    // the scan tier's chunked EMA replay truncates warm-up terms below
    // ~1e-16 relative weight (DashboardScan.TailLen rows), so its doubles
    // can differ from the window tier's by ~4e-17 relative. The gate
    // compares 6-dp-ROUNDED cells, so a divergence only shows if a true
    // value lands within ~1e-15 of a x.xxxxxx5 rounding boundary — a
    // per-cell probability of ~1e-10, ~1e-4 per sf10-sized run. If
    // dashboard_cascade/_scan ever hash-mismatch on a SINGLE cell while
    // neighbors agree, triage as warm-up rounding (recompute the cell
    // with DashboardScan.TailLen raised), not as a regression.
    if (deepHistory(spark, dir)) DashboardScan.cascade(spark, dir)
    else cascadeWindows(spark, dir)
  }

  /** The tier decision, shared by the flagship and the standalone window
    * indicators (w1-w6, w17 — round-11 task 1): deep per-key history →
    * the key-count-independent scan tier; shallow (the many-symbols
    * regime and the tiny gate SFs' window-arm coverage) → the one-
    * exchange window cascade. Driver-side filesystem metadata only. */
  def deepHistory(spark: SparkSession, dir: String): Boolean = {
    val bytesPerKey = eventsBytes(spark, dir) /
      math.max(1, graft.sources.Bars.symbols.size.toLong)
    bytesPerKey >= DeepHistoryMinBytesPerKey
  }

  /** Scan-tier threshold: ~600 KB of events parquet (≈30k events, ≈10k
    * bars) per key. Below it (the gate SFs and the many-symbols regime)
    * the single-exchange window cascade wins; at and above it the
    * per-key sort serializes and the chunked replay wins. */
  val DeepHistoryMinBytesPerKey = 600L * 1024

  /** Total bytes of the events source — pure filesystem metadata
    * (handles both a single parquet file and a partitioned directory
    * tree, the 100 TB layout). */
  private def eventsBytes(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.getContentSummary(p).getLength
  }

  /** The window-tier cascade (one exchange, four Window operators). */
  def cascadeWindows(spark: SparkSession, dir: String): DataFrame = {
    val Seq(_, _, l3) = layers(spark, dir)
    finalSelect(l3)
  }

  /** The three intermediate window layers, exposed for plan probing. */
  def layers(spark: SparkSession, dir: String): Seq[DataFrame] = {
    import graft.functions.Ewma
    val P = Seq(col("symbol"))
    val O = Seq(col("datetime"))
    def ema(c: Column, span: Int) = Ewma.span(c, span, P, O)
    def emaA(c: Column, a: Double) = Ewma.alpha(c, a, P, O)
    val whole = W.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

    val scored = Core.scored(spark, dir)

    // L1: depth-0 windows (over scan columns only)
    val l1 = scored.select(col("*"),
      ema(col("close"), 5).as("ema5"), ema(col("close"), 15).as("ema15"),
      mean(col("close"), 20).as("sma"),
      (col("close") - lag1(col("close"))).as("delta"),
      lag1(col("close")).as("pc"),
      (col("high") - lag1(col("high"))).as("hd"),
      (col("low") - lag1(col("low"))).as("ld"),
      diff(col("close"), 5).as("mom"),
      rmax(col("high"), 5).as("h5"), rmin(col("low"), 5).as("l5"),
      rmax(col("close"), 5).as("c5max"), rmin(col("close"), 5).as("c5min"),
      rmax(col("close"), 20).as("c20max"), rmin(col("close"), 20).as("c20min"),
      ema(col("close"), 12).as("e12"), ema(col("close"), 26).as("e26"),
      min(col("low")).over(whole).as("support"),
      max(col("high")).over(whole).as("resistance"),
      first(col("close")).over(whole).as("firstc"),
      last(col("close")).over(whole).as("lastc"))

    // L2: windows over L1-derived row expressions
    val gain = when(col("delta") > 0, col("delta")).otherwise(0.0)
    val loss = when(col("delta") < 0, -col("delta")).otherwise(0.0)
    val pdm = when(col("hd") > col("ld") && col("hd") > 0, col("hd")).otherwise(0.0)
    val mdm = when(col("ld") > col("hd") && col("ld") > 0, col("ld")).otherwise(0.0)
    val tr = when(col("pc").isNull, col("high") - col("low"))
      .otherwise(greatest(col("high") - col("low"),
        abs(col("high") - col("pc")), abs(col("low") - col("pc"))))
    val l2 = l1.select(col("*"),
      ema(col("delta"), 25).as("te1"), ema(abs(col("delta")), 25).as("ta1"),
      (col("e12") - col("e26")).as("macd"),
      emaA(pdm, 1.0 / 14).as("epdm"), emaA(mdm, 1.0 / 14).as("emdm"),
      mean(gain, 14).as("ag"), mean(loss, 14).as("al"),
      mean(tr, 14).as("atr"),
      lag1(col("h5")).as("prev_h5"), lag1(col("l5")).as("prev_l5"),
      lag1(col("c20max")).as("prev_c20max"), lag1(col("c20min")).as("prev_c20min"),
      (col("sma") - lag1(col("sma"))).as("rm_slope"))

    // L3: third window depth (incl. macd_signal: ewma over macd)
    val pdi = when(col("atr") === 0, lit(null))
      .otherwise(lit(100.0) * (col("epdm") / col("atr")))
    val mdi = when(col("atr") === 0, lit(null))
      .otherwise(lit(100.0) * (col("emdm") / col("atr")))
    val dxin = when(pdi + mdi === 0, lit(null))
      .otherwise(lit(100.0) * abs(pdi - mdi) / (pdi + mdi))
    val l3 = l2.select(col("*"),
      ema(col("te1"), 13).as("te2"), ema(col("ta1"), 13).as("ta2"),
      ema(col("macd"), 9).as("macd_signal"),
      mean(dxin, 14).as("dx"),
      mean(col("rm_slope"), 5).as("bottom"))
    Seq(l1, l2, l3)
  }

  // L4: final window depth + all row-level outputs
  private def finalSelect(l3: DataFrame): DataFrame = {
    import graft.functions.Ewma
    def emaA(c: Column, a: Double) =
      Ewma.alpha(c, a, Seq(col("symbol")), Seq(col("datetime")))
    l3.select(col("*"), emaA(col("dx"), 1.0 / 14).as("adx"))
      .select(col("symbol"), col("datetime"), col("open"), col("high"),
        col("low"), col("close"), col("volume"), col("indicator"),
        col("ema5"), col("ema15"), col("sma"),
        when(col("al") === 0 && col("ag") === 0, lit(null))
          .when(col("al") === 0, 100.0)
          .otherwise(lit(100.0) - lit(100.0) / (lit(1.0) + col("ag") / col("al")))
          .as("rsi"),
        when(col("ta2") === 0, lit(null))
          .otherwise(lit(100.0) * (col("te2") / col("ta2"))).as("tsi"),
        col("macd"), col("macd_signal"), col("adx"),
        when(col("close") < col("c5min"), 1)
          .when(col("close") > col("c5max"), -1).otherwise(0).as("scalping_signal"),
        when(col("close") >= col("resistance") * 0.95, -1)
          .when(col("close") <= col("support") * 1.05, 1).otherwise(0).as("range_signal"),
        when(col("mom") > 0, 1).when(col("mom") < 0, -1).otherwise(0).as("momentum_signal"),
        when(col("close") > col("prev_c20max"), 1)
          .when(col("close") < col("prev_c20min"), -1).otherwise(0).as("breakout_signal"),
        coalesce(col("prev_h5") < col("h5") && col("prev_l5") > col("l5"), lit(false))
          .as("ascending_triangle"),
        coalesce(col("prev_h5") > col("h5") && col("prev_l5") < col("l5"), lit(false))
          .as("descending_triangle"),
        coalesce(col("bottom") > 0, lit(false)).as("rounding_bottom"),
        when(col("delta") > 0, "green").otherwise("red").as("color"),
        when(col("lastc") > col("firstc"), "Uptrend").otherwise("Downtrend").as("trend"))
  }

  // one CTE stage per dependency depth; each stage SELECT *-extends the
  // previous so the chain mirrors the Spark column cascade exactly.
  // Shared with [[DashboardScan]]: both implementations answer to the
  // SAME SQL, so the gate pins them to one semantics.
  private[ops] val oracle: String = {
    val ctes =
      s"""c1 AS (SELECT *,
         |  ${Sql.ewmaSpan("close", 5)} AS ema5, ${Sql.ewmaSpan("close", 15)} AS ema15,
         |  ${Sql.rollMean("close", 20)} AS sma,
         |  ${Sql.diff("close")} AS delta, ${Sql.lag("close")} AS pc,
         |  ${Sql.diff("high")} AS hd, ${Sql.diff("low")} AS ld,
         |  ${Sql.diffK("close", 5)} AS mom,
         |  ${Sql.rollMax("high", 5)} AS h5, ${Sql.rollMin("low", 5)} AS l5,
         |  ${Sql.rollMax("close", 5)} AS c5max, ${Sql.rollMin("close", 5)} AS c5min,
         |  ${Sql.rollMax("close", 20)} AS c20max, ${Sql.rollMin("close", 20)} AS c20min,
         |  ${Sql.ewmaSpan("close", 12)} AS e12, ${Sql.ewmaSpan("close", 26)} AS e26,
         |  min(low) OVER (PARTITION BY symbol) AS support,
         |  max(high) OVER (PARTITION BY symbol) AS resistance,
         |  first(close) OVER (PARTITION BY symbol ORDER BY datetime
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS firstc,
         |  last(close) OVER (PARTITION BY symbol ORDER BY datetime
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lastc
         |  FROM scored),
         |c2 AS (SELECT *,
         |  CASE WHEN delta > 0 THEN delta ELSE 0.0 END AS gain,
         |  CASE WHEN delta < 0 THEN -delta ELSE 0.0 END AS loss,
         |  ${Sql.ewmaSpan("delta", 25)} AS te1, ${Sql.ewmaSpan("abs(delta)", 25)} AS ta1,
         |  (e12 - e26) AS macd,
         |  CASE WHEN hd > ld AND hd > 0 THEN hd ELSE 0.0 END AS pdm,
         |  CASE WHEN ld > hd AND ld > 0 THEN ld ELSE 0.0 END AS mdm,
         |  CASE WHEN pc IS NULL THEN high - low
         |       ELSE greatest(high - low, abs(high - pc), abs(low - pc)) END AS tr,
         |  ${Sql.lag("h5")} AS prev_h5, ${Sql.lag("l5")} AS prev_l5,
         |  ${Sql.lag("c20max")} AS prev_c20max, ${Sql.lag("c20min")} AS prev_c20min,
         |  (sma - ${Sql.lag("sma")}) AS rm_slope
         |  FROM c1),
         |c3 AS (SELECT *,
         |  ${Sql.rollMean("gain", 14)} AS ag, ${Sql.rollMean("loss", 14)} AS al,
         |  ${Sql.ewmaSpan("te1", 13)} AS te2, ${Sql.ewmaSpan("ta1", 13)} AS ta2,
         |  ${Sql.ewmaSpan("macd", 9)} AS macd_signal,
         |  ${Sql.ewma("pdm", "1.0/14.0")} AS epdm, ${Sql.ewma("mdm", "1.0/14.0")} AS emdm,
         |  ${Sql.rollMean("tr", 14)} AS atr,
         |  ${Sql.rollMean("rm_slope", 5)} AS bottom
         |  FROM c2),
         |c4 AS (SELECT *,
         |  CASE WHEN al = 0 AND ag = 0 THEN NULL WHEN al = 0 THEN 100.0
         |       ELSE 100.0 - 100.0 / (1.0 + ag / al) END AS rsi,
         |  CASE WHEN ta2 = 0 THEN NULL ELSE 100.0 * (te2 / ta2) END AS tsi,
         |  CASE WHEN atr = 0 THEN NULL ELSE 100.0 * (epdm / atr) END AS pdi,
         |  CASE WHEN atr = 0 THEN NULL ELSE 100.0 * (emdm / atr) END AS mdi
         |  FROM c3),
         |c5 AS (SELECT *, CASE WHEN pdi + mdi = 0 THEN NULL
         |       ELSE 100.0 * abs(pdi - mdi) / (pdi + mdi) END AS dxin FROM c4),
         |c6 AS (SELECT *, ${Sql.rollMean("dxin", 14)} AS dx FROM c5),
         |c7 AS (SELECT *, ${Sql.ewma("dx", "1.0/14.0")} AS adx FROM c6)""".stripMargin
    val select =
      """SELECT symbol, datetime,
        |  round(open, 6) AS open, round(high, 6) AS high, round(low, 6) AS low,
        |  round(close, 6) AS close, volume, indicator,
        |  round(ema5, 6) AS ema5, round(ema15, 6) AS ema15, round(sma, 6) AS sma,
        |  round(rsi, 6) AS rsi, round(tsi, 6) AS tsi,
        |  round(macd, 6) AS macd, round(macd_signal, 6) AS macd_signal,
        |  round(adx, 6) AS adx,
        |  CASE WHEN close < c5min THEN 1 WHEN close > c5max THEN -1 ELSE 0 END AS scalping_signal,
        |  CASE WHEN close >= resistance * 0.95 THEN -1
        |       WHEN close <= support * 1.05 THEN 1 ELSE 0 END AS range_signal,
        |  CASE WHEN mom > 0 THEN 1 WHEN mom < 0 THEN -1 ELSE 0 END AS momentum_signal,
        |  CASE WHEN close > prev_c20max THEN 1 WHEN close < prev_c20min THEN -1 ELSE 0 END AS breakout_signal,
        |  coalesce(prev_h5 < h5 AND prev_l5 > l5, false) AS ascending_triangle,
        |  coalesce(prev_h5 > h5 AND prev_l5 < l5, false) AS descending_triangle,
        |  coalesce(bottom > 0, false) AS rounding_bottom,
        |  CASE WHEN delta > 0 THEN 'green' ELSE 'red' END AS color,
        |  CASE WHEN lastc > firstc THEN 'Uptrend' ELSE 'Downtrend' END AS trend
        |FROM c7 ORDER BY symbol, datetime""".stripMargin
    s"WITH ${graft.sources.Bars.cte}, ${Core.scoredCte}, $ctes\n$select"
  }

  def queries: Seq[Q] = Seq(
    Q("dashboard_cascade", oracle) { (s, dir) =>
      Q.norm(cascade(s, dir).select(
        col("symbol"), col("datetime"), col("open"), col("high"), col("low"),
        col("close"), col("volume"), col("indicator"),
        col("ema5"), col("ema15"), col("sma"), col("rsi"), col("tsi"),
        col("macd"), col("macd_signal"), col("adx"),
        col("scalping_signal"), col("range_signal"), col("momentum_signal"),
        col("breakout_signal"), col("ascending_triangle"),
        col("descending_triangle"), col("rounding_bottom"), col("color"),
        col("trend")), "symbol", "datetime")
    },

    // The same cascade on the key-count-independent two-phase scan path
    // (see [[DashboardScan]]) — oracle-checked against the identical SQL,
    // so the gate proves both tiers compute the same function.
    Q("dashboard_cascade_scan", oracle) { (s, dir) =>
      Q.norm(DashboardScan.cascade(s, dir), "symbol", "datetime")
    })
}
