package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The one form in which graft declares its catalog. Each module lists
  * its queries as `Entry`s in its `all`; `SparkEntry` concatenates them,
  * and `Harness.pin` prebuilds the fixtures those entries name in
  * `needs`, so the pin set is derived from the queries rather than kept
  * as a second list. */
object Catalog {

  /** A catalog query: the DataFrame over the tables of one scale dir. */
  type Q = (SparkSession, String) => DataFrame

  /** One catalog query: its name, its builder, the DuckDB SQL that checks
    * it (None for an approximate query), and the fixtures its builder
    * reads (the ten tables are always pinned and never listed). */
  final case class Entry(name: String, build: Q, oracle: Option[String],
                         needs: Seq[Fixture[Any]] = Nil)

  /** Session state that builders read: a frame pinned in memory, or a
    * layout or index built once per session. Declared once, next to the
    * code that owns it; a builder reaches it by `apply`, so the state a
    * query reads and the state `pin` prebuilds are the same call. `pin`
    * builds it ahead of timed runs and returns the frames it cached. */
  final case class Fixture[+A](name: String, get: (SparkSession, String) => A,
                               pin: (SparkSession, String) => Seq[DataFrame]) {
    def apply(spark: SparkSession, sfDir: String): A = get(spark, sfDir)
  }

  object Fixture {
    /** A frame `pin` caches and counts. A builder that calls `make` gets
      * the same plan, which CacheManager then serves from memory. */
    def cached[A <: Dataset[_]](name: String)(make: (SparkSession, String) => A): Fixture[A] =
      Fixture(name, make, (s, d) => { val c = make(s, d).toDF().cache(); c.count(); Seq(c) })

    /** State that `pin` only builds: a layout on disk or an entry in the
      * session's `ArtifactStore`. Nothing stays cached. */
    def built[A](name: String)(make: (SparkSession, String) => A): Fixture[A] =
      Fixture(name, make, (s, d) => { make(s, d); Nil })
  }
}
