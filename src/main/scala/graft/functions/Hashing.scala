package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic cross-engine hashing primitives.
  *
  * md5 is the only hash function shared by Spark and DuckDB, so every
  * hash that must be oracle-checkable derives from it. Spark-only paths
  * (xxhash64) stay available for performance-critical internal use.
  */
object Hashing {

  import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
  import org.apache.spark.sql.graftbridge.ColumnBridge
  import org.apache.spark.sql.types.{LongType, StringType}

  /** 60-bit non-negative hash: first 15 hex chars of md5, as a long.
    * Engine-exact: Spark side ≡ DuckDB `CAST('0x'||… AS BIGINT)`.
    *
    * Implemented as a codegen'd StaticInvoke of [[HashOps.md5Long]]
    * (the ShingleOps pattern), NOT as the column composition
    * `conv(substring(md5(c),1,15),16,10).cast("long")` it replaces:
    * that chain materializes a 32-char hex UTF8String, a 15-char
    * substring copy, `conv`'s digit-loop producing a DECIMAL STRING,
    * and a final string→long parse — four string allocations per hash
    * where the value needs none. The scalar digests once and assembles
    * the identical 60-bit value from the first 7.5 digest bytes
    * (hex chars 1..15 ARE bytes 0..6 plus byte 7's high nibble);
    * HashOpsSpec pins column-vs-legacy equality. Hot everywhere: one
    * call per shingle/window/token in the dedup + tokenizer family. */
  def md5Long(c: Column): Column =
    ColumnBridge.column(StaticInvoke(
      Class.forName("graft.functions.HashOps"),
      LongType, "md5Long",
      Seq(ColumnBridge.expression(c)), Seq(StringType),
      returnNullable = false))

  /** Fast 64-bit hash for internal (non-oracle) shuffles and sketches. */
  def fast64(c: Column): Column = xxhash64(c)

  /** Scalar twin of [[md5Long]] — same 60-bit value for the same input
    * (used by tests and driver-side code to predict bucket placement). */
  def md5LongOf(s: String): Long =
    java.lang.Long.parseLong(md5HexOf(s.getBytes("UTF-8")).take(15), 16)

  /** Scalar md5 hex — the ONE implementation behind every scalar hex
    * digest in the repo (dump layouts, WARC digests, signatures). */
  def md5HexOf(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b)
      .map(x => f"$x%02x").mkString
}
