package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd+ args: run only these queries (local iteration speed);
    // the driver always calls with exactly (sfDir, outDir) -> full dump
    val only: Set[String] = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // Egress as int64 µs, NOT the INT96/ns default: the driver reads
      // these files with pyarrow, and int64 NANOS overflows at
      // 2262-04-11 — a 9999-12-31 SCD2 sentinel wraps to 2001-07-31
      // under a ns reader while DuckDB sees 9999-12-31 (round-5 x_scd2
      // red row). µs represents year 9999 exactly on every reader.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
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
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try egress(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries are independent; drop any cache a query built (d2/e3)
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Egress canonicalization for the cross-engine hash: TIMESTAMP (UTC
    * instant) → TIMESTAMP_NTZ. With MICROS physical (see session conf)
    * an instant column carries isAdjustedToUTC=true, which pyarrow and
    * DuckDB surface as tz-aware — formatting with a "+00:00" suffix the
    * naive DuckDB oracle timestamps lack. Session tz is UTC, so the cast
    * preserves the wall clock exactly; the file then reads back as naive
    * timestamp[us] on every reader, year 9999 included.
    */
  private[graft] def egress(df: DataFrame): DataFrame = {
    val hasTs = df.schema.fields.exists(_.dataType == TimestampType)
    if (!hasTs) df
    else df.select(df.schema.fields.map { f =>
      if (f.dataType == TimestampType)
        col(f.name).cast(TimestampNTZType).as(f.name)
      else col(f.name)
    }.toSeq: _*)
  }
}
