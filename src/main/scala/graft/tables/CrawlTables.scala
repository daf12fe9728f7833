package graft.tables

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SaveMode,
  SparkSession}
import org.apache.spark.sql.types.StructType

import graft.ops.UpdateHostDb.HostRow
import graft.schemas._

/** File helpers of the copy-on-write table writers. */
object Install {

  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).forEach(deleteRecursively(_))
    Files.deleteIfExists(p)
  }
}

/** The generation-pointer + bucket-count bookkeeping shared by the
  * CrawlDb, LinkDb and HostDb stores ([[GenTable]]). A db root holds:
  *
  *   - `GENERATION` — pointer file naming the live generation `g<N>`
  *     (the `current` symlink's role), swapped write-then-atomic-move;
  *   - `g<N>/` — that generation's bucketed parquet (saveAsTable
  *     layout), including a `g<N>/_BUCKETS` sidecar recording the
  *     count the generation was WRITTEN with (underscore-prefixed so
  *     Spark's parquet reader ignores it). Written before the pointer
  *     swap, so it is crash-atomic by the same write-before-pointer
  *     discipline as the data;
  *   - `BUCKETS` — a dir-scoped count that roots written before
  *     per-generation sidecars may carry; read as a fallback, never
  *     written.
  */
private[tables] object GenLayout {

  def generation(dir: String): Long = {
    val f = Paths.get(dir, "GENERATION")
    if (Files.exists(f)) Files.readString(f).trim.toLong else 0L
  }

  private def parseCount(p: Path): Int = {
    val s = Files.readString(p).trim
    val n =
      try s.toInt
      catch {
        case e: NumberFormatException => throw new IllegalStateException(
          s"corrupt bucket-count sidecar $p: '$s' is not an integer — " +
            "rewrite it with the count the generation was bucketBy-written " +
            "with (derivable from the _NNNNN suffix in its part file names)",
          e)
      }
    if (n <= 0) throw new IllegalStateException(
      s"corrupt bucket-count sidecar $p: count must be positive, got $n")
    n
  }

  /** Highest bucket id + 1 from saveAsTable's part-file naming
    * (`part-…_<bucketId 5 digits>.c000…`). Only a LOWER BOUND on the
    * real count — `bucketBy` writes no file for an empty bucket, so a
    * small generation whose top bucket(s) happen to be empty derives
    * low. Never registered directly: [[resolveBuckets]] validates a
    * candidate against the data's own hash placement first. */
  def deriveBuckets(genDir: Path): Option[Int] = {
    if (!Files.isDirectory(genDir)) return None
    val id = raw"_(\d{5})\.".r
    val stream = Files.list(genDir)
    try deriveFrom(stream.iterator(), id)
    finally stream.close()
  }

  private def deriveFrom(files: java.util.Iterator[Path],
      id: scala.util.matching.Regex): Option[Int] = {
    var max = -1
    while (files.hasNext) {
      val name = files.next().getFileName.toString
      if (name.endsWith(".parquet"))
        id.findFirstMatchIn(name).foreach(m =>
          max = math.max(max, m.group(1).toInt))
    }
    if (max >= 0) Some(max + 1) else None
  }

  /** How many candidate counts past the derived lower bound the
    * validation sweep tries before demanding a hand-written sidecar. */
  private val DeriveSearchSpan = 64

  /** Smallest bucket count ≥ the file-name lower bound that the DATA
    * itself is consistent with: Spark's bucket id is
    * `pmod(murmur3(key), N)` (the SQL `hash` function — same
    * expression, same seed — HashPartitioning.partitionIdExpression),
    * so a candidate N is checkable by comparing every row's hash
    * placement against the bucket id in its file name. A consistent N
    * is observationally SAFE to register even if it differs from the
    * count the writer was configured with (the layout genuinely
    * satisfies the declared distribution); an inconsistent N silently
    * corrupts every Exchange-free join, which is why the raw
    * max-id+1 derivation — an undercount whenever the top bucket is
    * empty — must never be trusted unvalidated. One-time cost (a scan
    * of the legacy generation); callers backfill the sidecar so it
    * never re-runs. */
  private def validatedDerive(spark: SparkSession, genDir: Path,
      key: String): Option[Int] =
    deriveBuckets(genDir).flatMap { n0 =>
      import org.apache.spark.sql.functions._
      val placed = spark.read.parquet(genDir.toString)
        .select(hash(col(key)).as("h"),
          regexp_extract(input_file_name(), raw"_(\d{5})\.", 1)
            .cast("int").as("b"))
        .cache()
      try (n0 to n0 + DeriveSearchSpan).find(n =>
        placed.where(pmod(col("h"), lit(n)) =!= col("b")).isEmpty)
      finally placed.unpersist()
    }

  /** The bucket count generation `g` of `dir` was written with.
    * Resolution order: the generation's own `_BUCKETS` sidecar → the
    * legacy dir-scoped `BUCKETS` file → data-VALIDATED derivation from
    * the bucket-id file names ([[validatedDerive]]) — NEVER a guessed
    * or unvalidated constant, because registering the wrong CLUSTERED
    * BY count makes Spark trust a hash distribution the files don't
    * satisfy, and Exchange-free url joins then silently miss
    * matches. */
  def resolveBuckets(spark: SparkSession, dir: String, g: Long,
      key: String): Int = {
    val perGen = Paths.get(dir, s"g$g", "_BUCKETS")
    if (Files.exists(perGen)) parseCount(perGen)
    else {
      val legacy = Paths.get(dir, "BUCKETS")
      if (Files.exists(legacy)) parseCount(legacy)
      else validatedDerive(spark, Paths.get(dir, s"g$g"), key).getOrElse(
        throw new IllegalStateException(
          s"$dir/g$g has no _BUCKETS sidecar, no dir-scoped BUCKETS " +
            "file, and no bucket count derivable from its part files " +
            "(no bucket-suffixed part files present, or no count within " +
            s"$DeriveSearchSpan of the file-name lower bound is " +
            "consistent with the rows' hash placement) — write " +
            "<gen>/_BUCKETS with the count the generation was " +
            "bucketBy-written with"))
    }
  }

  def atomicWrite(target: Path, content: String, nonce: String): Unit = {
    val tmp = target.resolveSibling(s".${target.getFileName}-$nonce")
    Files.writeString(tmp, content)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}

/** The one on-disk layout of the CrawlDb, LinkDb and HostDb: every
  * generation is a bucketed catalog table under `<dir>/g<N>`, with a
  * GENERATION pointer file naming the live one (the reference's
  * `current`, CrawlDb.java:163-181 install/swap). A new generation is
  * fully written (data + its `_BUCKETS` sidecar) before the pointer
  * moves, the previous generation survives one swap for in-flight
  * readers, older ones are dropped — so readers of the previous
  * generation are never disturbed while the next one is written.
  *
  * What the bucketing buys at scale: every key join against the db —
  * the indexing cogroup, dedup merge-back, linkdb-side joins, the
  * hostdb census merge — reads the db side WITHOUT an Exchange (the
  * bucket layout already satisfies the join's required distribution),
  * so the 10^9-row side of the per-round joins never reshuffles; only
  * the small per-round segment side moves.
  *
  * Stores are made only by their companion's `open`
  * ([[GenTable.open]]), the one place a db's bucket count is decided. */
sealed abstract class GenTable[T](spark: SparkSession, dir: String,
    freshBuckets: Int, prefix: String, key: String)(
    implicit enc: Encoder[T]) {

  private val tag =
    prefix + dir.replaceAll("[^A-Za-z0-9]", "_").takeRight(48) +
      "_" + Integer.toHexString(dir.hashCode)
  private def generation: Long = GenLayout.generation(dir)
  private def tableName(g: Long) = s"${tag}_g$g"

  /** The effective bucket count: the on-disk layout's count when a
    * generation exists, else the count a first install will use. */
  def buckets: Int = {
    val g = generation
    if (g > 0L) GenLayout.resolveBuckets(spark, dir, g, key)
    else freshBuckets
  }

  def read(): Dataset[T] = {
    val g = generation
    if (g == 0L) spark.emptyDataset[T](enc)
    else {
      // the GENERATION pointer survives the process but saveAsTable's
      // catalog entry is session-scoped: a NEW session resuming this
      // root re-registers the generation's parquet before reading, so
      // the bucketed layout (and its Exchange-free joins) carries
      // across JVMs. Registration MUST use the count the generation was
      // written with (GenLayout.resolveBuckets) — a mismatch would
      // silently mis-declare the layout and corrupt bucket pruning —
      // and takes the encoder's schema, so re-opening runs no
      // schema-inference job
      if (!spark.catalog.tableExists(tableName(g)))
        Bucketed.register(spark, tableName(g), s"$dir/g$g",
          GenLayout.resolveBuckets(spark, dir, g, key), enc.schema, key)
      spark.table(tableName(g)).as[T](enc)
    }
  }

  /** One-way, idempotent import of a root written before every db had
    * this layout: an existing `<dir>/current` (and no GENERATION
    * pointer) is rewritten as generation 1, then the old `current` and
    * `old` dirs are dropped — same write-before-pointer discipline as
    * [[install]], so a crash mid-import leaves either the untouched old
    * root or a complete generation 1, never a torn state. The only code
    * that knows the old format. */
  private[tables] def migrateFromPlain(): Unit = {
    val cur = Paths.get(dir, "current")
    if (generation == 0L && Files.exists(cur))
      install(spark.read.schema(enc.schema).parquet(cur.toString).as[T](enc),
        "migrate")
    // cleanup is RETRIED on every open, not only the importing one: a
    // crash between the pointer swap above and the deletes below must
    // not leave a stale `current` behind
    if (generation > 0L) {
      if (Files.exists(cur)) Install.deleteRecursively(cur)
      val old = Paths.get(dir, "old")
      if (Files.exists(old)) Install.deleteRecursively(old)
    }
  }

  def install(next: Dataset[T], nonce: String): Unit = {
    val g = generation + 1
    val n = buckets // existing layout's count, or the fresh count
    Files.createDirectories(Paths.get(dir))
    Bucketed.install(next.toDF(), tableName(g), s"$dir/g$g", n, key)
    // per-generation sidecar: records the count this generation was
    // written with, INSIDE the generation dir and BEFORE the pointer
    // swap — so layout re-registration in a new JVM is crash-atomic
    // (a crash here leaves the pointer on g-1, whose own sidecar is
    // already in place). Underscore prefix keeps Spark's reader off it.
    Files.writeString(Paths.get(dir, s"g$g", "_BUCKETS"), n.toString)
    // pointer swap: write-then-atomic-move, never an in-place rewrite a
    // crash could truncate
    GenLayout.atomicWrite(Paths.get(dir, "GENERATION"), g.toString, nonce)
    // keep g-1 for in-flight readers (the `old` generation); drop g-2
    if (g >= 3) {
      spark.sql(s"DROP TABLE IF EXISTS `${tableName(g - 2)}`")
      Install.deleteRecursively(Paths.get(dir, s"g${g - 2}"))
    }
  }
}

object GenTable {

  /** Cap of the bucket count a fresh db gets when none was asked for
    * ([[graft.ops.Width.fromSlots]]: one bucket per task slot, at most
    * this). A 1000-executor deployment would size the layout to its
    * target per-bucket file size with an explicit count instead. */
  val DefaultBuckets = 32

  /** Open the db at `dir`, whoever asks: the conductor, a CLI verb or a
    * REST job. `buckets` sizes a FRESH dir only (default: one bucket
    * per task slot, at most [[DefaultBuckets]]); an existing root keeps
    * the count it was written with, resolved here, so a corrupt or
    * underivable layout fails the open rather than a later read. A
    * root written before every db had this layout (a `<dir>/current`)
    * is imported once as generation 1 — so the first open of such a
    * root writes, even for a read-only verb. */
  private[tables] def open[S <: GenTable[_]](spark: SparkSession,
      buckets: Option[Int])(mk: Int => S): S = {
    val store =
      mk(buckets.getOrElse(graft.ops.Width.fromSlots(spark, DefaultBuckets)))
    store.migrateFromPlain()
    store.buckets // an existing root resolves its count now
    store
  }
}

/** The CrawlDb: url → CrawlDatum (SURVEY §1.1), url-bucketed. */
final class CrawlDbStore private (spark: SparkSession, dir: String,
    buckets: Int)
    extends GenTable[CrawlRow](spark, dir, buckets, "graft_crawldb_",
      "url")(Encoders.product[CrawlRow])

object CrawlDbStore {
  /** See [[GenTable.open]]. */
  def open(spark: SparkSession, dir: String,
      buckets: Option[Int] = None): CrawlDbStore =
    GenTable.open(spark, buckets)(new CrawlDbStore(spark, dir, _))
}

/** The LinkDb: url → bounded inlink list (LinkDb.java, FIXTURES §A5),
  * url-bucketed — the OTHER db-sized relation in the per-round url
  * joins (the indexing cogroup reads CrawlDb ⋈ LinkDb ⋈ segments,
  * IndexerMapReduce.java:309-393; `linkdb.max.inlinks` bounds rows per
  * url, not the url count). Co-bucketed with the CrawlDb, the indexing
  * cogroup's two db-sized sides both read Exchange-free. */
final class LinkDbStore private (spark: SparkSession, dir: String,
    buckets: Int)
    extends GenTable[LinkRow](spark, dir, buckets, "graft_linkdb_",
      "url")(Encoders.product[LinkRow])

object LinkDbStore {
  /** See [[GenTable.open]]. */
  def open(spark: SparkSession, dir: String,
      buckets: Option[Int] = None): LinkDbStore =
    GenTable.open(spark, buckets)(new LinkDbStore(spark, dir, _))
}

/** The HostDb: host → census/failure counters (UpdateHostDbJob),
  * host-bucketed — the per-round hostdb refresh is a full-outer merge
  * ON HOST of the crawldb census into the previous hostdb
  * (UpdateHostDbReducer.java:176-349), so the stored side reads
  * Exchange-free every round. */
final class HostDbStore private (spark: SparkSession, dir: String,
    buckets: Int)
    extends GenTable[HostRow](spark, dir, buckets, "graft_hostdb_",
      "host")(Encoders.product[HostRow])

object HostDbStore {
  /** See [[GenTable.open]]. */
  def open(spark: SparkSession, dir: String,
      buckets: Option[Int] = None): HostDbStore =
    GenTable.open(spark, buckets)(new HostDbStore(spark, dir, _))
}

/** One segment directory with its parquet parts (SURVEY §1.1; segment
  * naming Generator.java:58-63). Every part is a typed table, so it is
  * read with its encoder's schema: Spark then skips the job that would
  * infer the schema from the files on every read. */
final class Segment(spark: SparkSession, val dir: String) {
  import spark.implicits._

  def writeGenerate(ds: Dataset[GenerateEntry]): Unit =
    ds.write.mode(SaveMode.Overwrite).parquet(s"$dir/crawl_generate")
  def writeFetch(ds: Dataset[CrawlRow]): Unit =
    ds.write.mode(SaveMode.Overwrite).parquet(s"$dir/crawl_fetch")
  def writeContent(ds: Dataset[ContentRow]): Unit =
    ds.write.mode(SaveMode.Overwrite).parquet(s"$dir/content")
  def writeCrawlParse(ds: Dataset[CrawlRow]): Unit =
    ds.write.mode(SaveMode.Overwrite).parquet(s"$dir/crawl_parse")
  def writeParseData(ds: Dataset[ParseDataRow]): Unit =
    ds.write.mode(SaveMode.Overwrite).parquet(s"$dir/parse_data")
  def writeParseText(ds: Dataset[ParseTextRow]): Unit =
    ds.write.mode(SaveMode.Overwrite).parquet(s"$dir/parse_text")

  def generate: Dataset[GenerateEntry] = part[GenerateEntry]("crawl_generate")
  def fetch: Dataset[CrawlRow] = part[CrawlRow]("crawl_fetch")
  def content: Dataset[ContentRow] = part[ContentRow]("content")
  def crawlParse: Dataset[CrawlRow] = part[CrawlRow]("crawl_parse")
  def parseData: Dataset[ParseDataRow] = part[ParseDataRow]("parse_data")
  def parseText: Dataset[ParseTextRow] = part[ParseTextRow]("parse_text")

  private def part[T](name: String)(implicit enc: Encoder[T]): Dataset[T] =
    spark.read.schema(enc.schema).parquet(s"$dir/$name").as[T]
}

/** Bucketed catalog tables — the 100 TB co-located-join path.
  * Two tables written with the same bucket count on `url` join with
  * ZERO Exchange on either side (bucket layout satisfies the join's
  * required distribution), which turns the per-round url-keyed joins —
  * dedup merge-back, indexing cogroup, linkdb merge — from
  * both-sides-shuffled into local merges; at 10^9-row CrawlDb scale
  * the avoided shuffle dominates the round's cost. Bucket metadata
  * lives in the session catalog (saveAsTable is how Spark records it);
  * `path` keeps the data external under the caller's table directory,
  * so the copy-on-write discipline carries over by writing a new
  * generation table name and dropping the old one.
  * BucketedSpec asserts the Exchange-free plan against a plain-parquet
  * A/B of the same join. */
object Bucketed {

  def install[T](ds: Dataset[T], tableName: String, path: String,
      buckets: Int, key: String = "url"): Unit = {
    val spark = ds.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    ds.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key)
      .option("path", path).format("parquet")
      .saveAsTable(tableName)
  }

  def read(spark: SparkSession, tableName: String)
      : org.apache.spark.sql.DataFrame =
    spark.table(tableName)

  /** Re-register an EXISTING bucketed parquet directory (written by
    * [[install]] in an earlier session) under `tableName` without
    * rewriting data: the files already carry saveAsTable's bucket-id
    * naming, so a CREATE TABLE with the matching CLUSTERED BY spec
    * restores the bucket metadata a new session's catalog lost.
    * `schema` is the files' schema: a typed store passes its encoder's,
    * so registering runs no job to infer it from the files. */
  def register(spark: SparkSession, tableName: String, path: String,
      buckets: Int, schema: StructType, key: String): Unit = {
    spark.sql(s"""CREATE TABLE IF NOT EXISTS `$tableName` (${schema.toDDL})
      USING parquet OPTIONS (path '$path')
      CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS""")
  }
}

/** A LinkDb row: url → bounded inlink list. */
final case class Inlink(fromUrl: String, anchor: String)
final case class LinkRow(url: String, inlinks: Seq[Inlink])
