package graft.perfbench

import graft.streaming.Pipeline
import graft.streaming.Pipeline.{Bar, CascRow}
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{col, collect_list, count, lit, struct, when}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import java.io.{BufferedWriter, OutputStreamWriter, Writer}
import java.net.{InetAddress, ServerSocket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.jdk.CollectionConverters._

object StreamWorkload {
  /** Fixed key set; every chunk carries one tick for each of `ChunkTicks`
    * consecutive keys, rotating through the set. */
  val Keys = 2400
  val ChunkTicks = 48
  /** One chunk is due every `PeriodMs`: the offered rate is
    * ChunkTicks * 1000 / PeriodMs = 6 000 ticks/s, about 40 % of the drain
    * rate (14 000–16 000 rows/s on 4 cores) measured at the commit that
    * defined this benchmark. */
  val PeriodMs = 8
  /** Keys whose every output row is kept and compared with the batch twin. */
  val Sampled: Set[String] = (0 until Keys by Keys / 16).map(key).toSet
  /** The open loop runs this long before its timed part starts: the first
    * seconds of micro-batches after the state-creating batch are still
    * warming up. */
  val LeadInMs = 4000
  /** Backlogs drained after the open loop, and their size. */
  val Drains = 2
  val DrainTicks = 24000
  /** Traced runs alternate traced and untraced slices of this many chunks. */
  val SliceChunks = 50

  def key(k: Int): String = f"S$k%05d"
}

/** Open loop, then a closed-loop drain, through the reference wire path:
  * JSON ticks on a localhost socket (Spark's text-socket source) ->
  * `Pipeline.decode` -> `Pipeline.score` ->
  * `Pipeline.indicatorCascade` (transformWithState on RocksDB) ->
  * a `foreachBatch` sink owned by the benchmark.
  *
  * One generator thread emits a chunk every `PeriodMs` whether or not the
  * engine keeps up, and a chunk's latency runs from its due time to the
  * moment the sink has collected its rows. (A socket, not `MemoryStream`:
  * the memory source unions one relation per append into each batch, so
  * appending a chunk every few milliseconds measures that union instead.)
  * Every chunk has its own event second, so the sink can tell which chunks a
  * micro-batch held. After the open loop, `Drains` backlogs of `DrainTicks`
  * ticks are each preloaded and drained. Every chunk's row count is checked, and the
  * sampled keys' rows are compared with `Pipeline.indicatorCascadeBatch`
  * over the same ticks.
  */
final class StreamWorkload(spark: SparkSession, a: Main.Args, tracer: Option[Tracer]) {
  import StreamWorkload._
  import spark.implicits._

  private val rng = new java.util.Random(a.seed)
  private val cents = Array.fill(Keys)(5000L + rng.nextInt(10000))
  private var nextChunk = 0
  /** JSON lines of the sampled keys, in emission order. */
  private val sampledLines = mutable.ArrayBuffer[String]()
  private val chunkRows = mutable.ArrayBuffer[Int]()

  private def px(c: Long): String = f"${c / 100}%d.${c % 100}%02d"

  /** Next chunk of `n` ticks, one per key, all stamped with the chunk's second. */
  private def chunk(n: Int): Seq[String] = {
    val c = nextChunk
    nextChunk += 1
    chunkRows += n
    val ts = java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusSeconds(c)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    (0 until n).map { j =>
      val k = ((c.toLong * n + j) % Keys).toInt
      val open = cents(k)
      val close = math.max(100L, open + rng.nextInt(201) - 100)
      cents(k) = close
      val high = math.max(open, close) + rng.nextInt(50)
      val low = math.max(1L, math.min(open, close) - rng.nextInt(50))
      val line = s"""{"symbol":"${key(k)}","Datetime":"$ts","Open":${px(open)},""" +
        s""""High":${px(high)},"Low":${px(low)},"Close":${px(close)},""" +
        s""""Volume":${1 + rng.nextInt(10000)},"Dividends":0.0,"Stock_Splits":0.0}"""
      if (Sampled(key(k))) sampledLines += line
      line
    }
  }

  private def chunkOf(ts: java.sql.Timestamp): Int =
    ((ts.getTime - java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime) / 1000).toInt

  // sink state: chunk -> (rows committed, commit nanoTime)
  private val committed = new ConcurrentHashMap[Int, (Long, Long)]()
  private val sampledOut = mutable.ArrayBuffer[Row]()
  private val sinkMs = mutable.ArrayBuffer[Double]()
  private val emittedRows = new AtomicLong(0)
  private val committedRows = new AtomicLong(0)
  @volatile private var backlogMax = 0L
  @volatile private var openLoop = false
  /** Rows seen by the single-partition baseline query, which records nothing else. */
  private val baselineRows = new AtomicLong(0)

  private def sink(ds: Dataset[CascRow], batchId: Long, record: Boolean): Unit = {
    val s0 = Main.nowUs
    val t0 = System.nanoTime()
    if (openLoop) backlogMax = math.max(backlogMax, emittedRows.get - committedRows.get)
    val fields = ds.columns.map(col)
    val groups = ds.toDF().groupBy("datetime").agg(count(lit(1)).as("n"),
      collect_list(when(col("symbol").isin(Sampled.toSeq: _*), struct(fields: _*))).as("s"))
      .collect()
    val t1 = System.nanoTime()
    if (!record) { baselineRows.addAndGet(groups.map(_.getLong(1)).sum); return }
    groups.foreach { g =>
      val c = chunkOf(g.getAs[java.sql.Timestamp]("datetime"))
      committed.merge(c, (g.getLong(1), t1), (x, y) => (x._1 + y._1, y._2))
      committedRows.addAndGet(g.getLong(1))
      sampledOut.synchronized { sampledOut ++= g.getSeq[Row](2) }
    }
    if (openLoop) sinkMs.synchronized { sinkMs += (t1 - t0) / 1e6 }
    tracer.filter(_.on).foreach { t =>
      t.add(Span(t.nextId(), Tracer.batchSpan(batchId), t.trace, "sink", "foreachBatch",
        s0, s0 + (t1 - t0) / 1000, Map("batch" -> batchId, "rows" -> groups.map(_.getLong(1)).sum)))
    }
  }

  private def start(feed: Feed, name: String, record: Boolean): StreamingQuery = {
    val raw = spark.readStream.format("socket")
      .option("host", feed.host).option("port", feed.port).load()
    val bars = Pipeline.score(Pipeline.decode(raw)).as[Bar]
    Pipeline.indicatorCascade(bars).writeStream
      .queryName(name)
      .option("checkpointLocation", a.runDir.resolve(s"checkpoint-$name").toString)
      .foreachBatch((ds: Dataset[CascRow], id: Long) => sink(ds, id, record))
      .start()
  }

  /** Blocks until `counter` reaches `target` rows, or a minute has passed. */
  private def await(counter: AtomicLong, target: Long, q: StreamingQuery): Unit = {
    val limit = System.nanoTime() + 60000000000L
    while (counter.get < target && System.nanoTime() < limit) {
      q.exception.foreach(e => throw e)
      LockSupport.parkNanos(200000)
    }
  }

  def run(): Map[String, Any] = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    val progress = new ProgressLog(tracer)
    if (tracer.isDefined) spark.streams.addListener(progress)

    // inputs, generated in the order they are sent (each chunk's second
    // follows the last) before anything is timed
    val warm = (0 until Keys / ChunkTicks).flatMap(_ => chunk(ChunkTicks))
    val openFirst = nextChunk
    val nLead = LeadInMs / PeriodMs
    val nOpen = (a.seconds * 1000 / PeriodMs).toInt
    val nAll = nLead + nOpen
    val open = Array.fill(nAll)(chunk(ChunkTicks))
    // each backlog follows a one-chunk pilot, and lands while the pilot's
    // batch runs, so the next batch holds the whole backlog
    val drains = Seq.fill(Drains) {
      val pilot = (nextChunk, chunk(ChunkTicks))
      (pilot, (nextChunk until nextChunk + DrainTicks / Keys),
        (0 until DrainTicks / Keys).flatMap(_ => chunk(Keys)))
    }

    val feed = new Feed
    val q = start(feed, "cascade", record = true)
    // the first batch creates every key's state
    val w0 = System.nanoTime()
    feed.send(warm)
    var sent = warm.size.toLong
    await(committedRows, sent, q)
    val warmS = (System.nanoTime() - w0) / 1e9

    // open loop: lead-in, then the timed chunks nLead until nAll
    val late = new Array[Long](nAll)
    val due = new Array[Long](nAll)
    val gc0 = Main.gcSeconds
    Main.resetHeapPeak()
    val startUs = Main.nowUs
    val t0 = System.nanoTime()
    val firstOpUs = startUs + nLead * PeriodMs * 1000L
    val openSpan = tracer.map(_.nextId()).getOrElse(0L)
    tracer.foreach { t => t.trace = openSpan; t.parent = openSpan }
    progress.phase = "open"
    openLoop = true
    val gen = new Thread(() => {
      var i = 0
      while (i < nAll) {
        due(i) = t0 + i * PeriodMs * 1000000L
        tracer.foreach(_.on = (i / SliceChunks) % 2 == 0)
        var now = System.nanoTime()
        while (now < due(i)) { LockSupport.parkNanos(due(i) - now); now = System.nanoTime() }
        feed.send(open(i))
        emittedRows.addAndGet(open(i).size)
        late(i) = System.nanoTime() - due(i)
        i += 1
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    sent += open.map(_.size).sum
    await(committedRows, sent, q)
    openLoop = false
    tracer.foreach(_.on = false)
    val openEndUs = Main.nowUs
    val gcOpen = Main.gcSeconds - gc0
    val heapPeak = Main.heapPeakMb

    // closed-loop drain of preloaded backlogs
    progress.phase = "drain"
    val drainRowsPerS = drains.map { case ((pilotId, pilot), ids, backlog) =>
      feed.send(pilot)
      LockSupport.parkNanos(100000000L)
      feed.send(backlog)
      sent += pilot.size + backlog.size
      await(committedRows, sent, q)
      val start = committed.get(pilotId)._2
      backlog.size / ((ids.map(committed.get(_)._2).max - start) / 1e9)
    }
    q.stop()
    feed.close()
    progress.phase = "done"

    // traced runs: the same drain with all state in one partition (one task)
    val local1 = tracer.map { _ =>
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      val f1 = new Feed
      val q1 = start(f1, "cascade-local1", record = false)
      f1.send(warm)
      await(baselineRows, warm.size, q1)
      val d = drains.head._3
      val d0 = System.nanoTime()
      f1.send(d)
      await(baselineRows, warm.size + d.size, q1)
      val r = d.size / ((System.nanoTime() - d0) / 1e9)
      q1.stop()
      f1.close()
      r
    }
    if (tracer.isDefined) spark.streams.removeListener(progress)

    val timed = nLead until nAll
    val openLat = timed.map { i =>
      Option(committed.get(openFirst + i)).map(c => (c._2 - due(i)) / 1e6).getOrElse(-1.0)
    }
    val chunkLat = tracer.map { t =>
      timed.foreach { i =>
        Option(committed.get(openFirst + i)).foreach { c =>
          val s = startUs + (due(i) - t0) / 1000
          t.add(Span(t.nextId(), openSpan, openSpan, "chunk", s"chunk ${openFirst + i}",
            s, s + (c._2 - due(i)) / 1000, Map("traced" -> ((i / SliceChunks) % 2 == 0))))
        }
      }
      t.add(Span(openSpan, 0, openSpan, "stream", "open loop", firstOpUs, openEndUs, Map.empty))
      timed.zip(openLat).map { case (i, l) =>
        Map("latency_ms" -> l, "traced" -> ((i / SliceChunks) % 2 == 0))
      }
    }

    // correctness: every chunk committed with all its rows, and the sampled
    // keys' rows equal to the batch twin over the same ticks
    val badChunks = chunkRows.indices.filter { c =>
      Option(committed.get(c)).forall(_._1 != chunkRows(c))
    }
    val mismatched = compareSampled()

    Map("workload" -> "stream", "first_op_epoch_us" -> firstOpUs, "warm_s" -> warmS,
      "chunks" -> chunkRows.size, "bad_chunks" -> badChunks.take(20),
      "n_bad_chunks" -> badChunks.size, "sampled_rows" -> sampledOut.size,
      "sampled_mismatches" -> mismatched, "open_latency_ms" -> openLat,
      "open_chunks" -> nOpen, "offered_ticks_per_s" -> ChunkTicks * 1000.0 / PeriodMs,
      "generator_late_ms" -> timed.map(late(_) / 1e6),
      "drain_rows_per_s" -> drainRowsPerS, "drain_rows_per_s_local1" -> local1.orNull,
      "sink_write_ms" -> sinkMs.toList, "backlog_rows_max" -> backlogMax,
      "gc_s" -> gcOpen, "heap_peak_mb" -> heapPeak,
      "progress" -> progress.rows, "traced_chunks" -> chunkLat.orNull,
      "traced_batches" -> tracer.map(_.batches.size).getOrElse(0),
      "trace_acc" -> tracer.map(_.acc.toMap).orNull,
      "config" -> Map("keys" -> Keys, "chunk_ticks" -> ChunkTicks, "period_ms" -> PeriodMs,
        "drains" -> Drains, "drain_ticks" -> DrainTicks, "sampled_keys" -> Sampled.size))
  }

  /** Rows of the sampled keys that differ from the batch twin (either side
    * missing counts too). */
  private def compareSampled(): Int = {
    val bars = Pipeline.score(Pipeline.decode(sampledLines.toSeq.toDF("value")))
    val batch = Pipeline.indicatorCascadeBatch(
        bars.select("symbol", "datetime", "high", "low", "close", "volume"))
      .collect()
    def key(r: Row) = (r.getAs[String]("symbol"), r.getAs[java.sql.Timestamp]("datetime"))
    val names = batch.headOption.map(_.schema.fieldNames.toSeq).getOrElse(Nil)
    def vals(r: Row) = names.map(n => r.get(r.fieldIndex(n)))
    val want = batch.map(r => key(r) -> vals(r)).toMap
    val got = sampledOut.map(r => key(r) -> vals(r)).toMap
    (want.keySet ++ got.keySet).count(k => want.get(k) != got.get(k)) +
      (sampledOut.size - got.size)
  }
}

/** A localhost socket that Spark's text-socket source connects to; the
  * benchmark writes JSON lines into it. */
final class Feed {
  private val server = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
  val host: String = InetAddress.getLoopbackAddress.getHostAddress
  val port: Int = server.getLocalPort
  @volatile private var out: Writer = _
  private val acceptor = new Thread(() => {
    val s = server.accept()
    s.setTcpNoDelay(true)
    out = new BufferedWriter(new OutputStreamWriter(s.getOutputStream, UTF_8), 1 << 16)
  }, "perfbench-feed")
  acceptor.setDaemon(true)
  acceptor.start()

  def send(lines: Seq[String]): Unit = {
    if (out == null) acceptor.join()
    lines.foreach { l => out.write(l); out.write('\n') }
    out.flush()
  }

  def close(): Unit = {
    Option(out).foreach(_.close())
    server.close()
  }
}

/** Keeps every micro-batch's progress (engine phase durations, state store
  * and RocksDB metrics) and, when tracing, turns each into a batch span with
  * its phases laid end to end in the engine's order. */
final class ProgressLog(tracer: Option[Tracer]) extends StreamingQueryListener {
  @volatile var phase = "warmup"
  private val buf = mutable.ArrayBuffer[Map[String, Any]]()
  def rows: Seq[Map[String, Any]] = buf.synchronized(buf.toList)

  private val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows == 0) return
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val so = p.stateOperators.headOption
    val custom = so.map(_.customMetrics.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      .getOrElse(Map.empty)
    buf.synchronized {
      buf += Map("phase" -> phase, "query" -> p.name, "batch" -> p.batchId,
        "rows" -> p.numInputRows, "duration_ms" -> d,
        "state_rows_total" -> so.map(_.numRowsTotal).getOrElse(0L),
        "state_rows_updated" -> so.map(_.numRowsUpdated).getOrElse(0L),
        "state_memory_bytes" -> so.map(_.memoryUsedBytes).getOrElse(0L),
        "state_commit_ms" -> so.map(_.commitTimeMs).getOrElse(0L),
        "rocksdb" -> custom)
    }
    tracer.filter(_ => phase == "open").foreach { t =>
      val start = java.time.Instant.parse(p.timestamp)
      val s0 = start.getEpochSecond * 1000000L + start.getNano / 1000
      val id = Tracer.batchSpan(p.batchId)
      t.add(Span(id, t.trace, t.trace, "batch", s"batch ${p.batchId}", s0,
        s0 + d.getOrElse("triggerExecution", 0L) * 1000, Map("rows" -> p.numInputRows)))
      var at = s0
      order.filter(d.contains).foreach { k =>
        t.add(Span(t.nextId(), id, t.trace, "batch_phase", k, at, at + d(k) * 1000, Map.empty))
        at += d(k) * 1000
      }
    }
  }
}
