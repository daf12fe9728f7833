package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's synthetic parquet tables (TESTDATA.md).
  *
  * Tables: region nation customer supplier part orders lineitem events
  * documents embeddings — one parquet file each under the sf dir.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.parquet has shipped as both TIMESTAMP(NANOS) and
    // timestamp[us] across testdata generations. Normalize `ts` to ONE
    // contract for every consumer: raw Long nanoseconds since epoch
    // (exact integer math; ns-epoch values exceed a double's 53-bit
    // mantissa, so queries use `div`, never `/`).
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // scale-probe hook (graft.ScaleProbe): inflate ×N in-plan with key
    // remapping; a no-op at the default N=1 — see Inflate's scaladoc
    val inflateN = spark.conf.get("spark.graft.inflate", "1").toInt
    val base = Inflate(if (name != "events") df else df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df // NANOS read raw
      case org.apache.spark.sql.types.TimestampNTZType =>
        // timestampdiff is timezone-independent on NTZ operands —
        // matches DuckDB's epoch_us() on the same naive value exactly
        df.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts) * 1000"))
      case org.apache.spark.sql.types.TimestampType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr(
          "unix_micros(ts) * 1000"))
      case other =>
        throw new IllegalStateException(s"unexpected events.ts type: $other")
    }, name, inflateN)
    base
  }
}
