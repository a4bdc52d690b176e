package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated testdata tables (repo:TESTDATA.md).
  *
  * All tables are plain Parquet; at 100 TB these would be partitioned
  * (orders/lineitem by date, events by hour) — the loaders keep the read
  * declarative so Catalyst's partition pruning + filter pushdown apply
  * unchanged when the path points at a partitioned layout.
  *
  * Every input table is read through [[read]], which infers a path's
  * schema once per file fingerprint. A bare `spark.read.parquet(path)`
  * runs one Spark job to read the footers on every call, before the
  * caller's own action; with the schema passed in, the read starts no
  * job. The schema memo is a [[SessionMemo]] keyed by the path's
  * [[SessionMemo.Input]]: the path plus its
  * [[graft.sources.VersionedIndex.dirFingerprint]] (by default file
  * names, sizes and mtimes from a file-system walk, a stat and never a
  * job), taken BEFORE inference:
  *   - a read whose fingerprint has an entry passes the stored schema;
  *   - a changed fingerprint is a new key: its miss infers again and
  *     drops, with the superseded schema, every memo entry of the
  *     session derived from the old file;
  *   - an `absent` fingerprint is never memoized: the path is missing,
  *     or the provider cannot see it (an object-store path the default
  *     `MtimeWalkSnapshot` cannot walk), so every such read infers.
  * A rewrite racing the inference leaves an entry whose fingerprint no
  * longer matches, and the next read infers again. Limit: a rewrite
  * that keeps every file's name, length and mtime (to the millisecond)
  * is not seen, and the old schema is served for it.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The inferred schema per (session, path at one fingerprint); see [[read]]. */
  private val schemas =
    SessionMemo.plain[SessionMemo.Input, StructType]("tables.schemas")(Seq(_))

  /** Read one Parquet input table, inferring its schema only when the
    * path's fingerprint changed since the last read in this session (see
    * the object doc). The memo stores the inferred schema unchanged, so
    * a hit reads exactly the types an inference would produce.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val input = SessionMemo.Input.file(path)
    var inferred: Option[DataFrame] = None
    val schema = schemas(spark, Some(input).filter(_.version != "absent")) {
      val df = spark.read.parquet(path)
      inferred = Some(df)
      df.schema
    }
    // a miss serves the read that inferred, as a bare read would
    inferred.getOrElse(spark.read.schema(schema).parquet(path))
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.parquet has shipped with several physical encodings of `ts`:
    * TIMESTAMP(NANOS) — which the Spark parquet reader only surfaces as a
    * raw nanos long under `spark.sql.legacy.parquet.nanosAsLong=true` (set
    * once by [[Sessions.builder]]) — and plain TIMESTAMP(MICROS), with or
    * without UTC adjustment. Hard-coding any one encoding breaks the others
    * (the driver regenerates testdata between rounds and has switched
    * encodings before), so dispatch on the type the reader produced and
    * normalize all of them to the same logical column: a session-tz
    * TimestampType. The session tz is pinned UTC ([[Sessions.builder]]), so
    * the NTZ→LTZ cast is wall-clock-preserving; the nanos long converts via
    * integer division (double division would lose precision above 2^53
    * nanos). Downstream code (RANGE frames, stream watermarks,
    * `unix_micros`) then sees one type whatever the file stored.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}

/** One verifiable query: a Spark implementation plus (optionally) the
  * equivalent ANSI SQL for the driver's DuckDB oracle. Column names/aliases
  * must match between the two — the oracle compare hashes values after
  * sorting columns by name.
  *
  * `comparator` marks deliberate verification-grade baselines — all-pairs
  * near-dup, uncapped wedge joins, worst-case-fixture configurations
  * whose cost is quadratic BY DESIGN, plus un-gateable twins of a gated
  * production entry (e02's float IVF next to e02d's integer-geometry
  * gate): they stay oracle-gated (or fence-covered) at
  * correctness SF, but the bench's production tier
  * (`SPARK_GRAFT_BENCH_TIER=production`) skips them — loudly, by name —
  * so large-SF rehearsals pay the production plans, not the comparators
  * those plans are measured against (round-6 verdict #1: the comparator
  * tier was 282s of the 475s sf1 run and extrapolates to hours at sf10).
  */
final case class QDef(
    name: String,
    oracle: Option[String],
    comparator: Boolean = false)(
    val run: (SparkSession, String) => DataFrame)

object QDef {
  /** Collect a pack of QDefs into the SparkEntry map shapes. */
  def toMaps(defs: Seq[QDef])
      : (Map[String, (SparkSession, String) => DataFrame], Map[String, String]) = {
    val qs = defs.map(q => q.name -> q.run).toMap
    val os = defs.flatMap(q => q.oracle.map(q.name -> _)).toMap
    (qs, os)
  }
}
