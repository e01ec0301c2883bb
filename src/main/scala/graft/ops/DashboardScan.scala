package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** The dashboard cascade as a KEY-COUNT-INDEPENDENT two-phase scan — the
  * 100 TB path for the flagship when the symbol universe is small.
  *
  * [[Dashboard.cascade]] is the right plan for many-symbols/modest-history:
  * one hash exchange on `symbol`, four Window operators, whole-stage
  * codegen throughout. But every window partitions by `symbol`, so with 3
  * hot symbols (the reference's universe, reference
  * `kafka_producer/yahoo_finance_producer.py:8-11`) the sort + all four
  * WindowExecs run on 3 tasks no matter how many executors exist — the
  * same single-key serialization [[graft.functions.EwmaScan]] solves for
  * W1, here for the WHOLE 25-column cascade.
  *
  * Design (the EwmaScan pattern, generalized):
  *   1. `repartitionByRange(n, symbol, datetime)` splits each symbol's
  *      history into n contiguous chunks — parallelism is n, not #symbols.
  *   2. Pass 1 collects each partition's trailing `TailLen` raw rows
  *      (key, close, high, low) — O(n · TailLen) driver bytes, same
  *      bounded-collect budget as EwmaScan's summaries — and, for every
  *      key it holds, that key's (min low, max high, first close, last
  *      close) over the partition's rows.
  *   3. The driver composes, per partition, the incoming warm-up tail for
  *      its FIRST key (walking earlier partitions while the key matches —
  *      range partitioning guarantees any non-first key starts fresh
  *      inside its partition, so only the boundary key needs history).
  *      It also folds the per-key summaries in partition order into the
  *      per-symbol globals (support/resistance/first/last): a key's rows
  *      are contiguous and chronological across partitions, so that fold
  *      is the whole-key fold. O(#keys + n) state, broadcast with the
  *      tails.
  *   4. Pass 2 replays the full indicator state machine per partition:
  *      warm-up rows seed the state (outputs discarded), then every owned
  *      row emits all cascade columns in one sequential O(1)-state step,
  *      `range_signal` and `trend` read off the broadcast globals.
  *
  * Exactness: every BOUNDED window (rolling mean/min/max ≤ 20 rows, lags,
  * diffs) is bit-exact — the warm-up tail is longer than any frame and
  * the rolling means fold chronologically, the same order WindowExec's
  * sliding-frame re-evaluation uses. The EMA family is seeded `TailLen`
  * rows early instead of at the key's true start; the smallest alpha in
  * the cascade is 1/14, so the truncated history contributes
  * (13/14)^512 ≈ 4e-17 relative — below double ulp, ~10 orders under the
  * 6-dp oracle rounding (tighter than EwmaScan's documented 1e-12
  * reassociation). `DashboardScanSpec` checks equality against the window
  * cascade at 1e-9 across adversarial partitionings.
  *
  * Scale: one read of `events` and two passes over the range-exchanged
  * rows (the shuffle map stage is reused by both jobs), O(n·TailLen +
  * #keys) driver state, no per-symbol serialization anywhere. Growth
  * sf1→sf10 is the pass cost, flat in key count.
  */
object DashboardScan {

  /** Warm-up rows per partition boundary. (13/14)^(512-26) ≈ 4e-16:
    * beyond every bounded frame, below rounding for every EMA chain. */
  val TailLen = 512

  /** pandas `ewm(adjust=False)` scalar state — the same recurrence
    * [[graft.functions.Ewma]] evaluates per window row: NULL carries,
    * first non-NULL seeds. */
  private final class Ema(alpha: Double) {
    var has = false
    var v = 0.0
    def update(x: Double): Unit =
      if (!has) { v = x; has = true } else v = alpha * x + (1 - alpha) * v
    def updateOpt(x: java.lang.Double): Unit = if (x != null) update(x.doubleValue)
    def valueOrNull: java.lang.Double = if (has) v else null
  }

  /** Rolling frame over a derived series with pandas
    * `min_periods = cap` semantics (NULL until the frame holds `cap`
    * non-NULL rows). Mean folds oldest→newest — the order WindowExec's
    * sliding-frame recomputation folds, so sums match bit-for-bit. */
  private final class NullableRing(cap: Int) {
    private val buf = new Array[java.lang.Double](cap)
    private var pos = 0
    private var size = 0
    def push(x: java.lang.Double): Unit = {
      buf(pos) = x; pos = (pos + 1) % cap; if (size < cap) size += 1
    }
    def fullMean: java.lang.Double = {
      if (size < cap) return null
      var s = 0.0
      var k = 0
      while (k < cap) { // pos is the oldest slot once the ring is full
        val x = buf((pos + k) % cap)
        if (x == null) return null
        s += x.doubleValue; k += 1
      }
      s / cap
    }
  }

  /** Last-21-rows raw ring: covers the 20-row frames and `diff(close, 5)`. */
  private final class RawRing {
    private val Cap = 21
    private val cs = new Array[Double](Cap)
    private val hs = new Array[Double](Cap)
    private val ls = new Array[Double](Cap)
    private var pos = 0
    var size = 0
    def push(c: Double, h: Double, l: Double): Unit = {
      cs(pos) = c; hs(pos) = h; ls(pos) = l
      pos = (pos + 1) % Cap; if (size < Cap) size += 1
    }
    // value k rows before the newest pushed row (k = 0 → newest)
    private def idx(k: Int) = (pos - 1 - k + 2 * Cap) % Cap
    def closeAgo(k: Int): Double = cs(idx(k))
    def highAgo(k: Int): Double = hs(idx(k))
    def lowAgo(k: Int): Double = ls(idx(k))
    def meanClose(n: Int): Double = { // oldest→newest, WindowExec's fold order
      var s = 0.0; var k = n - 1
      while (k >= 0) { s += closeAgo(k); k -= 1 }
      s / n
    }
    def maxClose(n: Int): Double = { var m = closeAgo(0); var k = 1; while (k < n) { val v = closeAgo(k); if (v > m) m = v; k += 1 }; m }
    def minClose(n: Int): Double = { var m = closeAgo(0); var k = 1; while (k < n) { val v = closeAgo(k); if (v < m) m = v; k += 1 }; m }
    def maxHigh(n: Int): Double = { var m = highAgo(0); var k = 1; while (k < n) { val v = highAgo(k); if (v > m) m = v; k += 1 }; m }
    def minLow(n: Int): Double = { var m = lowAgo(0); var k = 1; while (k < n) { val v = lowAgo(k); if (v < m) m = v; k += 1 }; m }
  }

  /** Full per-key cascade state: one O(1) step per row computes every
    * L1-L4 column of [[Dashboard.cascade]] (formulas mirrored 1:1; the
    * oracle is shared, so both implementations are pinned to the same
    * SQL). */
  private final class CascadeState {
    private val raw = new RawRing
    private var n = 0 // rows consumed so far (excluding the current step)
    private val ema5 = new Ema(2.0 / 6); private val ema15 = new Ema(2.0 / 16)
    private val e12 = new Ema(2.0 / 13); private val e26 = new Ema(2.0 / 27)
    private val te1 = new Ema(2.0 / 26); private val ta1 = new Ema(2.0 / 26)
    private val epdm = new Ema(1.0 / 14); private val emdm = new Ema(1.0 / 14)
    private val macdSig = new Ema(2.0 / 10)
    private val te2 = new Ema(2.0 / 14); private val ta2 = new Ema(2.0 / 14)
    private val adxE = new Ema(1.0 / 14)
    private val gain14 = new NullableRing(14)
    private val loss14 = new NullableRing(14)
    private val tr14 = new NullableRing(14)
    private val dxin14 = new NullableRing(14)
    private val slope5 = new NullableRing(5)
    private val stochD3 = new NullableRing(3)
    private var lagH5, lagL5, lagC20max, lagC20min, lagSma: java.lang.Double = null

    /** Advance one bar; returns the 23 computed cascade columns
      * (ema5, ema15, sma, rsi, tsi, macd, macd_signal, adx, scalping,
      * momentum, breakout, asc, desc, rounding_bottom, color, h5, l5,
      * c20max, c20min, prev_h5, prev_l5, stoch_k, stoch_d) or null when
      * warming up. */
    def step(h: Double, l: Double, c: Double, emit: Boolean): Array[Any] = {
      // previous-row raw lags BEFORE pushing the current bar
      val seeded = n >= 1
      val pc: Double = if (seeded) raw.closeAgo(0) else 0.0
      val ph: Double = if (seeded) raw.highAgo(0) else 0.0
      val pl: Double = if (seeded) raw.lowAgo(0) else 0.0
      val c5ago: java.lang.Double = if (n >= 5) raw.closeAgo(4) else null
      raw.push(c, h, l)
      val cnt = n + 1

      // L1
      ema5.update(c); ema15.update(c); e12.update(c); e26.update(c)
      val sma: java.lang.Double = if (cnt >= 20) raw.meanClose(20) else null
      val delta: java.lang.Double = if (seeded) c - pc else null
      val mom: java.lang.Double = if (c5ago != null) c - c5ago.doubleValue else null
      val h5: java.lang.Double = if (cnt >= 5) raw.maxHigh(5) else null
      val l5: java.lang.Double = if (cnt >= 5) raw.minLow(5) else null
      val c5max: java.lang.Double = if (cnt >= 5) raw.maxClose(5) else null
      val c5min: java.lang.Double = if (cnt >= 5) raw.minClose(5) else null
      val c20max: java.lang.Double = if (cnt >= 20) raw.maxClose(20) else null
      val c20min: java.lang.Double = if (cnt >= 20) raw.minClose(20) else null

      // L2 row expressions (CASE-on-NULL mirrors: null conditions fall
      // through to the 0.0 otherwise-branch, exactly as in Dashboard)
      val gain: Double = if (delta != null && delta.doubleValue > 0) delta.doubleValue else 0.0
      val loss: Double = if (delta != null && delta.doubleValue < 0) -delta.doubleValue else 0.0
      var pdm = 0.0
      var mdm = 0.0
      if (seeded) {
        val hd = h - ph; val ld = l - pl
        if (hd > ld && hd > 0) pdm = hd
        if (ld > hd && ld > 0) mdm = ld
      }
      val tr: Double =
        if (!seeded) h - l
        else math.max(h - l, math.max(math.abs(h - pc), math.abs(l - pc)))
      te1.updateOpt(delta)
      ta1.updateOpt(if (delta == null) null else math.abs(delta.doubleValue))
      epdm.update(pdm); emdm.update(mdm)
      gain14.push(gain); loss14.push(loss); tr14.push(tr)
      val ag = gain14.fullMean; val al = loss14.fullMean; val atr = tr14.fullMean
      val prevH5 = lagH5; val prevL5 = lagL5
      val prevC20max = lagC20max; val prevC20min = lagC20min
      val rmSlope: java.lang.Double =
        if (sma != null && lagSma != null) sma.doubleValue - lagSma.doubleValue else null
      val macd = e12.v - e26.v
      macdSig.update(macd)

      // L3
      te2.updateOpt(te1.valueOrNull); ta2.updateOpt(ta1.valueOrNull)
      val pdi: java.lang.Double =
        if (atr == null || atr.doubleValue == 0.0) null else 100.0 * (epdm.v / atr.doubleValue)
      val mdi: java.lang.Double =
        if (atr == null || atr.doubleValue == 0.0) null else 100.0 * (emdm.v / atr.doubleValue)
      val dxin: java.lang.Double =
        if (pdi == null || mdi == null) null
        else {
          val s = pdi.doubleValue + mdi.doubleValue
          if (s == 0.0) null else 100.0 * math.abs(pdi.doubleValue - mdi.doubleValue) / s
        }
      dxin14.push(dxin)
      val dx = dxin14.fullMean
      adxE.updateOpt(dx)
      slope5.push(rmSlope)
      val bottom = slope5.fullMean
      // w13 stochastic %K/%D: a 14-frame view of the same raw ring (the
      // same IEEE expression order as Indicators.withStochastic), %D as
      // the 3-mean over the nullable %K series (the dxin14 mirror)
      val ll14: java.lang.Double = if (cnt >= 14) raw.minLow(14) else null
      val hh14: java.lang.Double = if (cnt >= 14) raw.maxHigh(14) else null
      val stochK: java.lang.Double =
        if (ll14 == null || hh14 == null) null
        else if (hh14.doubleValue == ll14.doubleValue) null
        else 100.0 * (c - ll14.doubleValue) / (hh14.doubleValue - ll14.doubleValue)
      stochD3.push(stochK)
      val stochD = stochD3.fullMean

      // L4 / outputs
      val out: Array[Any] = if (!emit) null else {
        val rsi: java.lang.Double =
          if (ag == null || al == null) null
          else if (al.doubleValue == 0.0 && ag.doubleValue == 0.0) null
          else if (al.doubleValue == 0.0) 100.0
          else 100.0 - 100.0 / (1.0 + ag.doubleValue / al.doubleValue)
        val tsi: java.lang.Double =
          if (ta2.valueOrNull == null || ta2.v == 0.0) null else 100.0 * (te2.v / ta2.v)
        val scalping: Int =
          if (c5min != null && c < c5min.doubleValue) 1
          else if (c5max != null && c > c5max.doubleValue) -1 else 0
        val momentum: Int =
          if (mom != null && mom.doubleValue > 0) 1
          else if (mom != null && mom.doubleValue < 0) -1 else 0
        val breakout: Int =
          if (prevC20max != null && c > prevC20max.doubleValue) 1
          else if (prevC20min != null && c < prevC20min.doubleValue) -1 else 0
        val asc = prevH5 != null && h5 != null && prevL5 != null && l5 != null &&
          prevH5.doubleValue < h5.doubleValue && prevL5.doubleValue > l5.doubleValue
        val desc = prevH5 != null && h5 != null && prevL5 != null && l5 != null &&
          prevH5.doubleValue > h5.doubleValue && prevL5.doubleValue < l5.doubleValue
        val rb = bottom != null && bottom.doubleValue > 0.0
        val color = if (delta != null && delta.doubleValue > 0) "green" else "red"
        Array[Any](ema5.v, ema15.v, sma, rsi, tsi, macd, macdSig.v,
          adxE.valueOrNull, scalping, momentum, breakout,
          Boolean.box(asc), Boolean.box(desc), Boolean.box(rb), color,
          h5, l5, c20max, c20min, prevH5, prevL5, stochK, stochD)
      }

      lagH5 = h5; lagL5 = l5; lagC20max = c20max; lagC20min = c20min; lagSma = sma
      n += 1
      out
    }
  }

  /** One flagship global set per symbol: support = min(low), resistance
    * = max(high), first/last close by datetime. Extrema compare in
    * Spark's double ordering (NaN largest, -0.0 = 0.0) like the `min`/
    * `max` aggregates, and the closes skip NULL-datetime rows like
    * `min_by`/`max_by`. Pass 1 folds each key's rows in order; the driver
    * folds a key's per-partition summaries in partition order. */
  private final class Globals(var support: Double, var resistance: Double)
      extends Serializable {
    var firstc: java.lang.Double = null
    var lastc: java.lang.Double = null
    def add(h: Double, l: Double, c: Double, hasDatetime: Boolean): Unit = {
      if (compareDoubles(l, support) < 0) support = l
      if (compareDoubles(h, resistance) > 0) resistance = h
      if (hasDatetime) { if (firstc == null) firstc = c; lastc = c }
    }
    /** Fold in the same key's summary from a LATER partition. */
    def merge(later: Globals): Unit = {
      if (compareDoubles(later.support, support) < 0) support = later.support
      if (compareDoubles(later.resistance, resistance) > 0) resistance = later.resistance
      if (firstc == null) firstc = later.firstc
      if (later.lastc != null) lastc = later.lastc
    }
    def rangeSignal(c: Double): Int =
      if (compareDoubles(c, resistance * 0.95) >= 0) -1
      else if (compareDoubles(c, support * 1.05) <= 0) 1 else 0
    def trend: String =
      if (firstc != null && lastc != null &&
        compareDoubles(lastc.doubleValue, firstc.doubleValue) > 0) "Uptrend"
      else "Downtrend"
  }

  /** Pass 1's summary of one non-empty partition: its trailing raw rows
    * (chronological) for boundary warm-up composition, and the globals
    * of every key it holds, in row order (so `globals.head` is its first
    * key). */
  private final case class Part(
      keys: Array[String],
      cs: Array[Double], hs: Array[Double], ls: Array[Double],
      globals: Array[(String, Globals)])

  // input projection indices (see `input` below)
  private val SYM = 0; private val DT = 1
  private val HIGH = 3; private val LOW = 4; private val CLOSE = 5

  private val scanSchema = StructType(Seq(
    StructField("symbol", StringType), StructField("datetime", TimestampType),
    StructField("open", DoubleType), StructField("high", DoubleType),
    StructField("low", DoubleType), StructField("close", DoubleType),
    StructField("volume", LongType), StructField("indicator", StringType),
    StructField("ema5", DoubleType), StructField("ema15", DoubleType),
    StructField("sma", DoubleType), StructField("rsi", DoubleType),
    StructField("tsi", DoubleType), StructField("macd", DoubleType),
    StructField("macd_signal", DoubleType), StructField("adx", DoubleType),
    StructField("scalping_signal", IntegerType),
    StructField("momentum_signal", IntegerType),
    StructField("breakout_signal", IntegerType),
    StructField("ascending_triangle", BooleanType, nullable = false),
    StructField("descending_triangle", BooleanType, nullable = false),
    StructField("rounding_bottom", BooleanType, nullable = false),
    StructField("color", StringType),
    // round-12 task 3: the remaining standalone window families (w8/w9
    // rolling/shifted extrema, w13 stochastic) dispatch onto this tier
    // at deep history — their columns are the state the cascade already
    // tracks (or a 14-frame view of the same raw ring), exposed here.
    // The flagship schema below drops them, so dashboard_cascade's
    // oracle schema is unchanged.
    StructField("h5", DoubleType), StructField("l5", DoubleType),
    StructField("c20max", DoubleType), StructField("c20min", DoubleType),
    StructField("prev_h5", DoubleType), StructField("prev_l5", DoubleType),
    StructField("stoch_k", DoubleType), StructField("stoch_d", DoubleType)))

  /** The flagship's 25 columns: the cascade plus the two global-derived
    * signals, in [[Dashboard.cascade]]'s order. */
  private val flagshipSchema = StructType(
    scanSchema.fields.slice(0, 17) ++
      Seq(StructField("range_signal", IntegerType, nullable = false)) ++
      scanSchema.fields.slice(17, 23) ++
      Seq(StructField("trend", StringType, nullable = false)))

  /** The scan without the two global-derived columns, exposing the
    * replayed extrema/stochastic state instead — the tier the standalone
    * indicator queries (w1-w6, and since round 12 the
    * extrema/pattern/strategy families w8/w9/w13/g1-g3/t4) dispatch
    * onto: they project only replayed-state columns. */
  def cascadeScanOnly(spark: SparkSession, dir: String,
      numPartitions: Int = 0): DataFrame =
    cascade(spark, dir, numPartitions, withGlobals = false)

  def cascade(spark: SparkSession, dir: String, numPartitions: Int = 0,
      withGlobals: Boolean = true): DataFrame = {
    val n = if (numPartitions > 0) numPartitions
      else spark.sparkContext.defaultParallelism
    val input = Core.scored(spark, dir).select(
      col("symbol"), col("datetime"), col("open"), col("high"), col("low"),
      col("close"), col("volume"), col("indicator"))
    val sorted = input.repartitionByRange(n, col("symbol"), col("datetime"))
      .sortWithinPartitions("symbol", "datetime")
    val rdd = sorted.rdd // shared lineage: the range-shuffle map stage runs once

    // pass 1: per-partition trailing TailLen raw rows + per-key globals
    val parts: Map[Int, Part] = rdd.mapPartitionsWithIndex { (pid, it) =>
      val keys = new Array[String](TailLen)
      val cs = new Array[Double](TailLen)
      val hs = new Array[Double](TailLen)
      val ls = new Array[Double](TailLen)
      val globals = new ArrayBuffer[(String, Globals)]
      var pos = 0; var size = 0
      var g: Globals = null
      it.foreach { r =>
        val k = r.getString(SYM)
        val c = r.getDouble(CLOSE); val h = r.getDouble(HIGH); val l = r.getDouble(LOW)
        if (globals.isEmpty || globals.last._1 != k) {
          g = new Globals(l, h); globals += (k -> g)
        }
        g.add(h, l, c, !r.isNullAt(DT))
        keys(pos) = k; cs(pos) = c; hs(pos) = h; ls(pos) = l
        pos = (pos + 1) % TailLen; if (size < TailLen) size += 1
      }
      if (globals.isEmpty) Iterator.empty
      else { // unroll the ring chronologically
        val ord = (0 until size).map(k => (pos - size + k + 2 * TailLen) % TailLen)
        Iterator((pid, Part(
          ord.map(keys).toArray, ord.map(cs).toArray,
          ord.map(hs).toArray, ord.map(ls).toArray, globals.toArray)))
      }
    }.collect().toMap

    // driver composition: incoming warm-up rows per partition's first key.
    // Range partitioning puts a key's entire earlier history in earlier
    // partitions, so walk back while the trailing rows still carry it.
    val incoming: Array[Array[(Double, Double, Double)]] =
      Array.tabulate(n) { p =>
        parts.get(p).map(_.globals.head._1) match {
          case None => Array.empty[(Double, Double, Double)]
          case Some(fk) =>
            val acc = new ArrayBuffer[(Double, Double, Double)]
            var q = p - 1
            var continue = true
            while (continue && q >= 0 && acc.length < TailLen) {
              parts.get(q) match {
                case None => // empty partition: keep walking
                case Some(t) =>
                  var i = t.keys.length - 1
                  val run = new ArrayBuffer[(Double, Double, Double)]
                  while (i >= 0 && t.keys(i) == fk) {
                    run.prepend((t.cs(i), t.hs(i), t.ls(i))); i -= 1
                  }
                  acc.prependAll(run)
                  // stop once this tail held a different key, or held a
                  // full TailLen of fk (enough history either way)
                  if (run.length < t.keys.length || t.keys.length == TailLen)
                    continue = false
              }
              q -= 1
            }
            acc.takeRight(TailLen).toArray
        }
      }
    // per-symbol globals: a key's rows are contiguous and in datetime
    // order across partitions, so folding the summaries in partition
    // order is the whole-key fold. O(#keys + #partitions) driver state.
    val globals = mutable.HashMap.empty[String, Globals]
    for (p <- 0 until n; t <- parts.get(p); (k, g) <- t.globals)
      globals.get(k) match {
        case Some(acc) => acc.merge(g)
        case None => globals(k) = g
      }
    val bc: Broadcast[(Array[Array[(Double, Double, Double)]], Map[String, Globals])] =
      spark.sparkContext.broadcast((incoming, globals.toMap))

    // pass 2: sequential replay per partition, warm-up first
    val outRdd = rdd.mapPartitionsWithIndex { (pid, it) =>
      var curKey: String = null
      var st: CascadeState = null
      var g: Globals = null
      it.map { r =>
        val k = r.getString(SYM)
        if (k != curKey) {
          st = new CascadeState
          if (curKey == null) // partition's first key: replay the warm-up tail
            bc.value._1(pid).foreach { case (c, h, l) => st.step(h, l, c, emit = false) }
          curKey = k
          g = bc.value._2(k)
        }
        val o = st.step(r.getDouble(HIGH), r.getDouble(LOW), r.getDouble(CLOSE), emit = true)
        if (withGlobals)
          Row(r.get(0), r.get(1), r.get(2), r.get(3), r.get(4), r.get(5),
            r.get(6), r.get(7),
            o(0), o(1), o(2), o(3), o(4), o(5), o(6), o(7), o(8),
            g.rangeSignal(r.getDouble(CLOSE)), o(9), o(10),
            o(11), o(12), o(13), o(14), g.trend)
        else
          Row(r.get(0), r.get(1), r.get(2), r.get(3), r.get(4), r.get(5),
            r.get(6), r.get(7),
            o(0), o(1), o(2), o(3), o(4), o(5), o(6), o(7), o(8), o(9), o(10),
            o(11), o(12), o(13), o(14), o(15), o(16), o(17), o(18), o(19),
            o(20), o(21), o(22))
      }
    }
    spark.createDataFrame(outRdd, if (withGlobals) flagshipSchema else scanSchema)
  }
}
