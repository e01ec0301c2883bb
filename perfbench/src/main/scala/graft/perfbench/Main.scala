package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** JVM side of the benchmark: runs one workload for one seed and writes
  * `result.json` (and, when traced, `spans.json`) into the run directory.
  * `perfbench/run.py` builds the classpath, makes the inputs, launches this
  * main, checks the outputs and prints the metrics.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <runDir> <dataDir> <cpus>
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, runDir: Path, dataDir: String, cpus: Int)

  def main(argv: Array[String]): Unit = {
    require(argv.length == 7,
      "usage: Main <workload> <seed> <seconds> <trace 0|1> <runDir> <dataDir> <cpus>")
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      Paths.get(argv(4)), argv(5), argv(6).toInt)
    try run(a)
    catch {
      case NonFatal(e) =>
        e.printStackTrace()
        sys.exit(2)
      case e: Throwable =>
        // fatal (OOM, linkage): no result; halt so Spark's threads can't hang the exit
        e.printStackTrace()
        Runtime.getRuntime.halt(3)
    }
    sys.exit(0)
  }

  private def run(a: Args): Unit = {
    val spark = session(a)
    val codegenErrors = CodegenErrors.install()
    val tracer = if (a.trace) Some(new Tracer) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t.sparkListener)
      spark.listenerManager.register(t.queryListener)
    }
    val result: Map[String, Any] = a.workload match {
      case "dashboard" | "pipeline" =>
        new BatchWorkload(spark, a, tracer).run(BatchWorkload.queries(a.workload))
      case "stream" =>
        new StreamWorkload(spark, a, tracer).run()
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    val env = Map(
      "seed" -> a.seed, "cpus" -> a.cpus,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark" -> spark.version, "data_dir" -> a.dataDir)
    val status = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    val hwmKb = status.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    writeJson(a.runDir.resolve("result.json"), result ++ Map(
      "env" -> env, "codegen_errors" -> codegenErrors.get(),
      "peak_rss_mb" -> hwmKb / 1024.0))
    tracer.foreach(t => writeJson(a.runDir.resolve("spans.json"), t.spans.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "kind" -> s.kind,
        "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs) ++ s.attrs
    }))
    spark.stop()
  }

  /** The session `graft.Bench` builds, at the given core count, with
    * every file the run writes (warehouse artifacts, shuffle and spill files,
    * stream checkpoints) kept under the run directory. */
  private def session(a: Args): SparkSession = {
    val partitions =
      if (a.workload == "stream") a.cpus
      else graft.Bench.scaledShufflePartitions(a.dataDir, a.cpus)
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", a.runDir.resolve("warehouse").toAbsolutePath.toString)
      .config("spark.local.dir", a.runDir.resolve("local").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def writeJson(p: Path, v: Any): Unit = {
    val m = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(p, m.writeValueAsBytes(v))
  }

  def nowUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** Total collection time of every collector, seconds. */
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak use since the last [[resetHeapPeak]], MB. */
  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** Counts ERROR events on Spark's generated-code compiler logger, the
  * signature of a kernel falling back to interpreted evaluation. */
object CodegenErrors {
  def install(): java.util.concurrent.atomic.AtomicLong = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val count = new java.util.concurrent.atomic.AtomicLong(0)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("perfbench-codegen-errors", null, null, true,
        Array.empty[org.apache.logging.log4j.core.config.Property]) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.ERROR) &&
            e.getLoggerName.contains("codegen")) count.incrementAndGet()
    }
    app.start()
    ctx.getConfiguration.addAppender(app)
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.ERROR, null)
    ctx.updateLoggers()
    count
  }
}
