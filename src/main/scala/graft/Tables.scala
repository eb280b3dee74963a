package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.Catalog.Fixture

/** Shared parquet loaders for the graft engine.
  *
  * Design notes (SURVEY.md §1):
  *  - All tables are plain self-describing parquet; we never infer schemas.
  *  - All timestamp columns are normalized to TIMESTAMP_NTZ so that results
  *    written back to parquet carry `isAdjustedToUTC=false`, exactly matching
  *    the naive timestamps the DuckDB oracle computes from the same files.
  *    The session timezone is forced to UTC by the harness, so the cast is a
  *    wall-clock identity.
  *  - `events.ts` is parquet INT64 TIMESTAMP(NANOS) which Spark 4 refuses to
  *    read by default. Verified recipe (SURVEY.md §1.3): read it as a long
  *    via `spark.sql.legacy.parquet.nanosAsLong`, then truncate ns→µs with
  *    INTEGER division (`ts div 1000`). Floating-point division corrupts
  *    ~12% of rows (ns epoch values exceed double's 2^53 exact range).
  *    DuckDB's µs TIMESTAMP applies the identical floor-truncation on read.
  *
  * Scale notes: loaders return unpartitioned scans; Catalyst handles column
  * pruning + predicate pushdown into the parquet reader. At cluster scale the
  * same loaders work over directory-partitioned datasets unchanged.
  */
object Tables {

  /** Memoized relation resolution. `spark.read.parquet` lists the
    * directory and reads footers on EVERY call — ~30-60 ms that lands in
    * every catalog query's constant (the r10 floor audit). Keyed by the
    * path's lastModified stamp, so suites that REWRITE a fixture dir
    * between reads get a fresh resolution while the immutable testdata
    * hits the memo every time. The logical plan returned is identical
    * across calls, which is also what lets the CacheManager substitute
    * pinned tables in the bench. */
  private def memo(spark: SparkSession, sfDir: String, name: String)(
      load: => DataFrame): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val stamp = new java.io.File(path).lastModified() // one stat, ~µs
    ArtifactStore(spark, ("table", path, stamp)) {
      // every catalog query loads at least one table, so registering the
      // function pack with the session's first table makes graft_*
      // resolvable inside any operator's expr() fragments (e.g. Dedup.h60)
      // without per-site register calls
      graft.functions.GraftFunctions.register(spark)
      load
    }
  }

  private def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    memo(spark, sfDir, name)(ntz(spark.read.parquet(s"$sfDir/$name.parquet")))

  /** Cast every TIMESTAMP column to TIMESTAMP_NTZ (identity under UTC). */
  private def ntz(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case TimestampType => d.withColumn(f.name, col(f.name).cast("timestamp_ntz"))
        case _             => d
      }
    }

  def region(s: SparkSession, d: String): DataFrame   = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = read(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame  = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")

  /** Events with `ts` normalized to TIMESTAMP_NTZ regardless of how the
    * generator encoded it. Two physical encodings exist across driver
    * versions: INT64 TIMESTAMP(NANOS) (read as a long via
    * `nanosAsLong`, truncated ns→µs with INTEGER division — see §1.3) and
    * plain TIMESTAMP(MICROS) (read natively, only the NTZ cast applies).
    * The branch is on the loaded Spark type, so the loader is schema-driven
    * rather than pinned to one generator version. */
  def events(s: SparkSession, d: String): DataFrame = memo(s, d, "events") {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(s"$d/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
    }
  }

  /** The ten tables as fixtures. `Harness.pin` caches them before any
    * entry's `needs`, so no entry lists them. */
  val fixtures: Seq[Fixture[DataFrame]] = Seq(
    Fixture.cached("lineitem")(lineitem), Fixture.cached("orders")(orders),
    Fixture.cached("customer")(customer), Fixture.cached("supplier")(supplier),
    Fixture.cached("part")(part), Fixture.cached("nation")(nation),
    Fixture.cached("region")(region), Fixture.cached("events")(events),
    Fixture.cached("documents")(documents), Fixture.cached("embeddings")(embeddings))
}
