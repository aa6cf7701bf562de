package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table access for the engine's query surface.
  *
  * Each query receives `(SparkSession, sfDir)` and must read only from that
  * directory (driver contract, SparkEntry). Scans are plain parquet reads so
  * Catalyst's pushdown/pruning applies; at cluster scale the same call sites
  * would point at partitioned table roots instead of single files.
  */
object Tables {
  /** A query function as declared in SparkEntry.queries. */
  type Q = (SparkSession, String) => DataFrame

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // every query path reads through here, so this is the one place that
    // guarantees the native graft_* function registry (idempotent, a few
    // map inserts) — h60 and the near-dup kernels resolve inside any
    // query, including within higher-order-function lambda bodies
    graft.expressions.GraftFunctions.register(spark)
    if (name == "events") {
      // events.parquet has shipped with ts as either parquet TIMESTAMP(NANOS)
      // (which Spark's reader rejects outright — readable only via
      // spark.sql.legacy.parquet.nanosAsLong=true as a LONG of epoch-nanos)
      // or plain TIMESTAMP(MICROS) (directly readable). Branch on the
      // MATERIALIZED type: when nanos-as-long, rebuild a microsecond
      // TimestampType column with integer division (`div` keeps full
      // precision — `/` would route through double and corrupt epoch-nanos,
      // ~1.7e18 > 2^53); when already a timestamp, pass through untouched.
      // All entry points still set nanosAsLong=true at session build so the
      // nanos variant can't throw at scan time; setting it here as a side
      // effect would leak session-global state and make query construction
      // order load-bearing.
      val raw = spark.read.parquet(s"$sfDir/events.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // normalize to TimestampType (LTZ): every session here pins UTC,
          // so the cast is value-identical to DuckDB's naive reading, and
          // downstream query code sees ONE timestamp type either way
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case _ => raw // already TimestampType
      }
    } else spark.read.parquet(s"$sfDir/$name.parquet")
  }

  /** 60-bit deterministic hash shared with the DuckDB oracles: the top 15
    * hex digits of md5 as a signed bigint, in the native one-pass kernel
    * (registered by [[t]]).
    */
  def h60(c: Column): Column = call_function("graft_h60", c)

  /** DuckDB twin of [[h60]], a format string over one SQL expression. */
  val h60Sql = "('0x'||substr(md5(%s),1,15))::BIGINT"

  /** A pack couples each Spark query with its DuckDB oracle SQL so the two
    * stay reviewable side by side (oracle parity is the correctness gate).
    */
  trait Pack {
    def queries: Map[String, Q]
    def oracles: Map[String, String]
  }
}
