package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Uniform access to the driver-generated parquet tables (TESTDATA.md).
  *
  * Every `SparkEntry.queries` entry receives `(spark, sfDir)`; all table
  * reads go through here so scans stay plain parquet scans that Catalyst
  * can push filters/column-pruning into. At cluster scale the same calls
  * would point at a partitioned table root — nothing else changes. The
  * artifacts derived from those tables (persisted indexes, trained
  * models) are built through the one memo here, [[once]]/[[artifact]].
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark has no native
    * type for — read it as a long (runtime conf) and normalize to a
    * microsecond TIMESTAMP_NTZ (truncation, matching DuckDB's ns→us
    * cast). NTZ keeps every downstream rendering timezone-free, like the
    * reference's wall-clock strings (README.md:105).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // Session-timezone-INDEPENDENT: epoch micros added onto an NTZ
        // epoch literal. (timestamp_micros(..).cast("timestamp_ntz")
        // would round-trip through the session zone and shift every
        // wall-clock value on non-UTC driver sessions.)
        raw.withColumn(
          "ts",
          org.apache.spark.sql.functions.timestamp_add(
            "MICROSECOND",
            org.apache.spark.sql.functions.expr("ts div 1000"),
            org.apache.spark.sql.functions.lit(java.time.LocalDateTime.of(1970, 1, 1, 0, 0)),
          ),
        )
      case _ => raw
    }
  }

  /** One-time temp-warehouse database for the persisted-index query
    * families (LSH, Media, Search, Vector, Graph, text) — keeps their
    * tables out of the session's default warehouse (whose cwd the driver
    * controls). BOTH the database name and its location carry the Spark
    * applicationId: with only the location keyed, a persistent
    * metastore would make CREATE DATABASE IF NOT EXISTS silently keep a
    * PRIOR application's stale temp-dir location and this run's table
    * writes would land under a path tmp-cleaning may have removed. (A
    * fixed location alone also fails fresh sessions:
    * LOCATION_ALREADY_EXISTS on the stale directory.) Returns the
    * `db.table` prefix the index build/read calls share.
    */
  def tempIndexDb(s: SparkSession, family: String, name: String): String = {
    val app = s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
    val db = s"graft_${family}_idx_$app"
    val loc = s"${System.getProperty("java.io.tmpdir")}/$db"
    s.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    s"$db.$name"
  }

  /** Sanitized dataset key for embedding an sfDir into a table-name
    * prefix ([[artifact]] folds it into every shared artifact's name).
    */
  def datasetKey(d: String): String = d.replaceAll("[^A-Za-z0-9]", "_")

  private val built = scala.collection.mutable.HashMap.empty[(SparkSession, Any), Any]

  /** The build-once memo behind every shared artifact the registry's
    * read faces serve (the persisted LSH, Media, Search, Vector/PQ and
    * Graph indexes, the stored BPE merges and quality weights, the
    * trained codebooks): `build` runs at most once per session and
    * `key`, and every later call returns its value.
    *
    * The rules live here, once:
    *  - Per session: a restarted session (whose tables and checkpointed
    *    frames died with its context) never sees an old value, and
    *    entries of stopped sessions are evicted on every call, so a
    *    process that cycles sessions does not accrete them.
    *  - Serialized: two threads never race one build (two overwrite
    *    `saveAsTable`s on one physical name). The lock is reentrant, so
    *    a build may itself call `once` (the grown frame-match families
    *    build the media indexes; the PQ layer builds the vector index,
    *    which trains a codebook). Builds are one-time and the drivers
    *    run queries one at a time, so the one lock costs nothing. A
    *    build that throws leaves its key unbuilt.
    *  - Key on the artifact, never on the value: two artifacts may
    *    share one `db.table` prefix (the PQ layer over the vector
    *    index), and each must still build.
    */
  def once[V](s: SparkSession, key: Any)(build: => V): V = built.synchronized {
    built.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
    built.getOrElseUpdate((s, key), build).asInstanceOf[V]
  }

  private final case class Artifact(family: String, name: String, dataset: String)

  /** A persisted shared artifact: [[once]] per (session, `family`,
    * `name`, dataset) runs `build` on the `db.table` prefix
    * [[tempIndexDb]] gives `name` with the dataset folded in
    * (`<name>_<datasetKey(d)>` — the memo key alone cannot stop two
    * datasets in one session from overwriting each other's tables), and
    * returns that prefix. A hit runs no SQL at all.
    */
  def artifact(s: SparkSession, family: String, name: String, d: String)(
      build: String => Unit): String =
    once(s, Artifact(family, name, d)) {
      val pre = tempIndexDb(s, family, s"${name}_${datasetKey(d)}")
      build(pre)
      pre
    }

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
