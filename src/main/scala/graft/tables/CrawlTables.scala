package graft.tables

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Dataset, Encoder, SaveMode, SparkSession}

import graft.schemas._

/** Parquet-backed crawl tables with the reference's copy-on-write install
  * semantics (CrawlDb.java:163-181 install/swap): every update writes a
  * NEW generation directory, then atomically swaps `current` → `old` →
  * gone. Readers of the previous generation are never disturbed — the
  * same discipline that lets a 1000-executor job read `current` while
  * updatedb writes the next one. */
object Install {

  /** Write-then-swap: `ds` → <table>/.tmp-<nonce>, then
    * current → old (replacing old), tmp → current. */
  def install[T](ds: Dataset[T], tableDir: String, nonce: String): Unit = {
    val dir = Paths.get(tableDir)
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".tmp-$nonce")
    ds.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val current = dir.resolve("current")
    val old = dir.resolve("old")
    if (Files.exists(old)) deleteRecursively(old)
    if (Files.exists(current))
      Files.move(current, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(tmp, current, StandardCopyOption.ATOMIC_MOVE)
  }

  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).forEach(deleteRecursively(_))
    Files.deleteIfExists(p)
  }
}

/** What the conductor needs from a CrawlDb, layout-agnostic: plain
  * generation-swapped parquet ([[CrawlDbTable]]) or the url-bucketed
  * layout ([[BucketedCrawlDbTable]]). */
trait CrawlDbStore {
  def read(): Dataset[CrawlRow]
  def install(next: Dataset[CrawlRow], nonce: String): Unit
}

object CrawlDbStore {
  /** Open a CrawlDb in WHATEVER layout is on disk: a GENERATION
    * pointer means the url-bucketed layout (bucket count resolved by
    * [[GenLayout.resolveBuckets]] — never guessed), otherwise the
    * plain generation-swapped layout. Every single-step entry point
    * (CLI verbs, REST readers) must open through this — a plain
    * CrawlDbTable pointed at a bucketed root silently reads EMPTY,
    * and a plain install would write a `current` the bucketed
    * conductor ignores (split-brain). */
  def open(spark: SparkSession, dir: String): CrawlDbStore =
    if (GenLayout.isBucketed(dir)) new BucketedCrawlDbTable(spark, dir,
      GenLayout.resolveBuckets(spark, dir, GenLayout.generation(dir), "url"))
    else new CrawlDbTable(spark, dir)
}

/** Layout-agnostic handle on a LinkDb: plain ([[LinkDbTable]]) or
  * url-bucketed ([[BucketedLinkDbTable]]) — the LinkDb is the OTHER
  * db-sized relation in the per-round url joins (the indexing cogroup
  * reads CrawlDb ⋈ LinkDb ⋈ segments, IndexerMapReduce.java:309-393;
  * `linkdb.max.inlinks` bounds rows per url, not the url count), so it
  * earns the same Exchange-free layout the CrawlDb got in r9. */
trait LinkDbStore {
  def read(): Dataset[LinkRow]
  def install(next: Dataset[LinkRow], nonce: String): Unit
}

object LinkDbStore {
  /** Layout-detecting open, mirroring [[CrawlDbStore.open]]. */
  def open(spark: SparkSession, dir: String): LinkDbStore =
    if (GenLayout.isBucketed(dir)) new BucketedLinkDbTable(spark, dir,
      GenLayout.resolveBuckets(spark, dir, GenLayout.generation(dir), "url"))
    else new LinkDbTable(spark, dir)
}

/** The CrawlDb: url → CrawlDatum at <dir>/current (SURVEY §1.1). */
final class CrawlDbTable(spark: SparkSession, dir: String)
    extends CrawlDbStore {
  import spark.implicits._

  def exists: Boolean = Files.exists(Paths.get(dir, "current"))

  def read(): Dataset[CrawlRow] =
    if (exists) spark.read.parquet(s"$dir/current").as[CrawlRow]
    else spark.emptyDataset[CrawlRow]

  def install(next: Dataset[CrawlRow], nonce: String): Unit =
    Install.install(next, dir, nonce)
}

/** The generation-pointer + bucket-count bookkeeping shared by the
  * bucketed CrawlDb and LinkDb stores. A bucketed db root holds:
  *
  *   - `GENERATION` — pointer file naming the live generation `g<N>`
  *     (the `current` symlink's role), swapped write-then-atomic-move;
  *   - `g<N>/` — that generation's bucketed parquet (saveAsTable
  *     layout), including a `g<N>/_BUCKETS` sidecar recording the
  *     count the generation was WRITTEN with (underscore-prefixed so
  *     Spark's parquet reader ignores it). Written before the pointer
  *     swap, so it is crash-atomic by the same write-before-pointer
  *     discipline as the data;
  *   - `BUCKETS` — dir-scoped hint kept for pre-r10 roots, updated
  *     atomically; per-generation sidecars take precedence.
  */
private[tables] object GenLayout {

  def isBucketed(dir: String): Boolean =
    Files.exists(Paths.get(dir, "GENERATION"))

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

/** Shared machinery of the bucketed, generation-pointered stores: every
  * generation is a bucketed catalog table under `<dir>/g<N>`, with a
  * GENERATION pointer file playing the role of the `current` symlink.
  * Same copy-on-write discipline as [[Install]] — a new generation is
  * fully written (data + its `_BUCKETS` sidecar) before the pointer
  * moves, the previous generation survives one swap for in-flight
  * readers, older ones are dropped.
  *
  * What it buys at scale: every url-keyed join against the db — the
  * indexing cogroup, dedup merge-back, linkdb-side joins — reads the
  * db side WITHOUT an Exchange (the bucket layout already satisfies
  * the join's required distribution), so the 10^9-row side of the
  * per-round joins never reshuffles; only the small per-round segment
  * side moves.
  *
  * `requestedBuckets` only applies to the FIRST generation of a fresh
  * root; an existing root keeps the count it was written with (so a
  * default run can never silently re-layout a db installed with a
  * different `-buckets`). */
sealed abstract class BucketedGenTable[T](spark: SparkSession, dir: String,
    requestedBuckets: Int, prefix: String, key: String = "url")(
    implicit enc: Encoder[T]) {

  private val tag =
    prefix + dir.replaceAll("[^A-Za-z0-9]", "_").takeRight(48) +
      "_" + Integer.toHexString(dir.hashCode)
  private def generation: Long = GenLayout.generation(dir)
  private def tableName(g: Long) = s"${tag}_g$g"

  /** The effective bucket count: the on-disk layout's count when a
    * generation exists, else the requested count a first install will
    * use. */
  def buckets: Int = {
    val g = generation
    if (g > 0L) GenLayout.resolveBuckets(spark, dir, g, key)
    else requestedBuckets
  }

  def read(): Dataset[T] = {
    val g = generation
    if (g == 0L) spark.emptyDataset[T](enc)
    else {
      // the GENERATION pointer survives the process but saveAsTable's
      // catalog entry is session-scoped: a NEW session resuming this
      // root re-registers the generation's parquet before reading, so
      // the bucketed layout (and its Exchange-free joins) carries
      // across JVMs like the plain layout's <dir>/current does.
      // Registration MUST use the count the generation was written
      // with (GenLayout.resolveBuckets) — a caller-supplied mismatch
      // would silently mis-declare the layout and corrupt bucket
      // pruning
      if (!spark.catalog.tableExists(tableName(g)))
        Bucketed.register(spark, tableName(g), s"$dir/g$g",
          GenLayout.resolveBuckets(spark, dir, g, key), key)
      spark.table(tableName(g)).as[T](enc)
    }
  }

  /** One-way, idempotent migration from the plain generation-swapped
    * layout: an existing `<dir>/current` (and no GENERATION pointer)
    * is rewritten as bucketed generation 1, then the plain dirs are
    * dropped — same write-before-pointer discipline as [[install]], so
    * a crash mid-migration leaves either the untouched plain layout or
    * a complete bucketed one, never a torn state. */
  def migrateFromPlain(): Unit = {
    val cur = Paths.get(dir, "current")
    if (generation == 0L && Files.exists(cur))
      install(spark.read.parquet(cur.toString).as[T](enc), "migrate")
    // cleanup is RETRIED on every call, not only the migrating one: a
    // crash between the pointer swap above and the deletes below must
    // not leave a stale plain `current` that a mis-routed plain reader
    // would serve as live data forever
    if (generation > 0L) {
      if (Files.exists(cur)) Install.deleteRecursively(cur)
      val old = Paths.get(dir, "old")
      if (Files.exists(old)) Install.deleteRecursively(old)
    }
  }

  def install(next: Dataset[T], nonce: String): Unit = {
    val g = generation + 1
    val n = buckets // existing layout's count, or requested on a fresh root
    Files.createDirectories(Paths.get(dir))
    Bucketed.install(next.toDF(), tableName(g), s"$dir/g$g", n, key)
    // per-generation sidecar: records the count this generation was
    // written with, INSIDE the generation dir and BEFORE the pointer
    // swap — so layout re-registration in a new JVM is crash-atomic
    // (a crash here leaves the pointer on g-1, whose own sidecar is
    // already in place). Underscore prefix keeps Spark's reader off it.
    Files.writeString(Paths.get(dir, s"g$g", "_BUCKETS"), n.toString)
    // dir-scoped hint for pre-r10 tooling; atomic so no reader ever
    // sees a torn write, and per-generation sidecars outrank it anyway
    GenLayout.atomicWrite(Paths.get(dir, "BUCKETS"), n.toString, nonce)
    // pointer swap mirrors Install's discipline: write-then-atomic-move,
    // never an in-place rewrite a crash could truncate
    GenLayout.atomicWrite(Paths.get(dir, "GENERATION"), g.toString, nonce)
    // keep g-1 for in-flight readers (the `old` generation); drop g-2
    if (g >= 3) {
      spark.sql(s"DROP TABLE IF EXISTS `${tableName(g - 2)}`")
      Install.deleteRecursively(Paths.get(dir, s"g${g - 2}"))
    }
  }
}

/** The CrawlDb over the url-bucketed layout ([[BucketedGenTable]]). */
final class BucketedCrawlDbTable(spark: SparkSession, dir: String,
    buckets: Int)
    extends BucketedGenTable[CrawlRow](spark, dir, buckets,
      "graft_crawldb_")(
      org.apache.spark.sql.Encoders.product[CrawlRow])
    with CrawlDbStore

/** The LinkDb over the url-bucketed layout ([[BucketedGenTable]]) —
  * co-bucketed with the CrawlDb so the indexing cogroup's TWO db-sized
  * sides both read Exchange-free. */
final class BucketedLinkDbTable(spark: SparkSession, dir: String,
    buckets: Int)
    extends BucketedGenTable[LinkRow](spark, dir, buckets,
      "graft_linkdb_")(
      org.apache.spark.sql.Encoders.product[LinkRow])
    with LinkDbStore

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

/** Opt-in url-bucketed table layout — the 100 TB co-located-join path.
  * Two tables written with the same bucket count on `url` join with
  * ZERO Exchange on either side (bucket layout satisfies the join's
  * required distribution), which turns the per-round url-keyed joins —
  * dedup merge-back, indexing cogroup, linkdb merge — from
  * both-sides-shuffled into local merges; at 10^9-row CrawlDb scale
  * the avoided shuffle dominates the round's cost. Bucket metadata
  * lives in the session catalog (saveAsTable is how Spark records it);
  * `path` keeps the data external under the caller's table directory,
  * so the copy-on-write Install discipline carries over by writing a
  * new generation table name and dropping the old one.
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
    * restores the bucket metadata a new session's catalog lost. */
  def register(spark: SparkSession, tableName: String, path: String,
      buckets: Int, key: String = "url"): Unit = {
    val schema = spark.read.parquet(path).schema.toDDL
    spark.sql(s"""CREATE TABLE IF NOT EXISTS `$tableName` ($schema)
      USING parquet OPTIONS (path '$path')
      CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS""")
  }
}

/** The LinkDb: url → bounded inlink list (LinkDb.java, FIXTURES §A5). */
final case class Inlink(fromUrl: String, anchor: String)
final case class LinkRow(url: String, inlinks: Seq[Inlink])

final class LinkDbTable(spark: SparkSession, dir: String)
    extends LinkDbStore {
  import spark.implicits._

  def exists: Boolean = Files.exists(Paths.get(dir, "current"))

  def read(): Dataset[LinkRow] =
    if (exists) spark.read.parquet(s"$dir/current").as[LinkRow]
    else spark.emptyDataset[LinkRow]

  def install(next: Dataset[LinkRow], nonce: String): Unit =
    Install.install(next, dir, nonce)
}

/** Layout-agnostic handle on a HostDb: plain ([[HostDbTable]]) or
  * host-bucketed ([[BucketedHostDbTable]]) — the per-round hostdb
  * refresh is a full-outer merge ON HOST of the crawldb census into
  * the previous hostdb (UpdateHostDbReducer.java:176-349); bucketing
  * the stored side on host reads it Exchange-free every round, the
  * same move the url-keyed dbs got. */
trait HostDbStore {
  def read(): Dataset[graft.ops.UpdateHostDb.HostRow]
  def install(next: Dataset[graft.ops.UpdateHostDb.HostRow],
      nonce: String): Unit
}

object HostDbStore {
  /** Layout-detecting open, mirroring [[CrawlDbStore.open]]. */
  def open(spark: SparkSession, dir: String): HostDbStore =
    if (GenLayout.isBucketed(dir)) new BucketedHostDbTable(spark, dir,
      GenLayout.resolveBuckets(spark, dir, GenLayout.generation(dir),
        "host"))
    else new HostDbTable(spark, dir)
}

/** The HostDb: host → census/failure counters (UpdateHostDbJob). */
final class HostDbTable(spark: SparkSession, dir: String)
    extends HostDbStore {
  import spark.implicits._

  def exists: Boolean = Files.exists(Paths.get(dir, "current"))

  def read(): Dataset[graft.ops.UpdateHostDb.HostRow] =
    if (exists) spark.read.parquet(s"$dir/current")
      .as[graft.ops.UpdateHostDb.HostRow]
    else spark.emptyDataset[graft.ops.UpdateHostDb.HostRow]

  def install(next: Dataset[graft.ops.UpdateHostDb.HostRow],
      nonce: String): Unit =
    Install.install(next, dir, nonce)
}

/** The HostDb over the host-bucketed layout ([[BucketedGenTable]]). */
final class BucketedHostDbTable(spark: SparkSession, dir: String,
    buckets: Int)
    extends BucketedGenTable[graft.ops.UpdateHostDb.HostRow](spark, dir,
      buckets, "graft_hostdb_", key = "host")(
      org.apache.spark.sql.Encoders.product[graft.ops.UpdateHostDb.HostRow])
    with HostDbStore
