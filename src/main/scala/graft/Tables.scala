package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Typed accessors for the input tables: `<dir>/<table>.parquet`, each a
  * parquet file or a directory of parquet files.
  *
  * Models the reference's staged tables (op-etl stages every source once
  * into a FileGDB, then reads the staged tables many times). Here the
  * staging store is columnar parquet, so every downstream operator gets
  * predicate pushdown and column pruning for free, and each table's schema
  * is inferred once per process ([[graft.io.ParquetSchemas]]).
  */
object Tables {
  /** Default for `graft.scratch.root` — the single place the literal
    * lives, shared by the operators ([[scratch]]) and the oracle-SQL
    * builder ([[oracleScratchRoot]]). */
  val DefaultScratchRoot = "/root/repo/target"

  /** Scratch root for write-path operators (staging snapshots, resume
    * ledgers, compaction batches, demo pipeline targets) and for the
    * persisted corpus artifacts ([[graft.io.Artifacts]]: IVF index, LM
    * scores, corpus-cardinality estimate): one conf key,
    * `graft.scratch.root`, with the build's target dir as the default, so
    * no operator bakes in an absolute path and concurrent runs can
    * isolate by pointing the key at distinct roots. */
  def scratch(spark: SparkSession, name: String): String =
    spark.conf.get("graft.scratch.root", DefaultScratchRoot) + "/" + name

  /** The scratch root as seen at oracle-SQL build time: the running
    * session's conf when one exists (Verify builds its oracle dump with
    * the session still active, so an op and its oracle always resolve the
    * SAME root — overriding `graft.scratch.root` keeps them in lockstep),
    * else the shared default. */
  def oracleScratchRoot: String =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.conf.get("graft.scratch.root", DefaultScratchRoot))
      .getOrElse(DefaultScratchRoot)

  /** Epoch seconds of an event-time column, dispatched on the column's
    * LOGICAL type — the single place the engine maps a physical timestamp
    * encoding to the canonical `sec` long every time-series operator
    * computes on. Parquet writers legitimately differ here: an int64-nanos
    * column (read back as LONG under
    * `spark.sql.legacy.parquet.nanosAsLong=true`) and a
    * TIMESTAMP(MICROS/MILLIS) logical column (read as TIMESTAMP /
    * TIMESTAMP_NTZ) are both common layouts for the same data, and baking
    * `ts div 1e9` into each operator crashes the whole family the day the
    * upstream writer changes (the r9 lesson). Dispatch:
    *
    *   - LONG            → nanos-since-epoch ⇒ `div 1_000_000_000`
    *   - TIMESTAMP(_NTZ) → cast to session-tz TIMESTAMP, then LONG —
    *     Spark's timestamp→long cast is floorDiv(micros, 1e6), identical
    *     to the floor semantics of both the nanos `div` branch and the
    *     DuckDB oracles' `floor(extract(epoch FROM ts))`. Sessions pin
    *     `spark.sql.session.timeZone=UTC`, so NTZ wall-clock == epoch.
    *
    * Both branches are plain codegen'd arithmetic on the scan output —
    * no UDF, pushdown/pruning unaffected. */
  def epochSec(df: DataFrame, c: String = "ts"): Column =
    df.schema(c).dataType match {
      case LongType => expr(s"`$c` div 1000000000")
      case TimestampType | TimestampNTZType =>
        col(c).cast(TimestampType).cast(LongType)
      case other => throw new IllegalArgumentException(
        s"event-time column `$c` has unsupported type $other " +
          "(expected int64 nanos or a parquet timestamp)")
    }
}

final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame =
    graft.io.ParquetSchemas.read(spark, s"$dir/$name.parquet")

  /** A small table scans as few input partitions: one per file or row
    * group, and the inputs here are one file or a handful. For tables whose
    * operators do heavy per-row work BEFORE any shuffle (text analysis,
    * vector math, fingerprinting), spread the rows across the cluster
    * first; the shuffle is tiny next to the compute it parallelizes. (On a
    * layout with many splits the scan itself provides them and this is a
    * no-op cost-wise.) */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(spark.sparkContext.defaultParallelism)

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  /** Scalar ids/measures pinned to canonical types at the boundary, like
    * [[embeddings]]; the `ts` column is deliberately left in its physical
    * encoding — [[eventsSec]] owns that dispatch. */
  def events: DataFrame = t("events")
    .withColumn("event_id", col("event_id").cast("long"))
    .withColumn("user_id", col("user_id").cast("long"))
    .withColumn("value", col("value").cast("double"))

  /** `events` with the canonical `sec` (epoch seconds, LONG) column
    * appended — THE event-time entry point for every downstream
    * operator. Encoding dispatch lives in [[Tables.epochSec]]; operators
    * never touch `ts` directly, so a writer-side encoding change lands
    * in exactly one place. */
  def eventsSec: DataFrame = {
    val e = events
    e.withColumn("sec", Tables.epochSec(e))
  }
  def documents: DataFrame  = spread(t("documents")
    .withColumn("doc_id", col("doc_id").cast("long")))

  /** No spread: since the dot product went native (r2), all heavy vector
    * math happens AFTER a shuffle (pair joins, centroid aggs) — the only
    * pre-shuffle per-row work is a 64-float dot or a cast, so an extra
    * up-front exchange just adds a stage to every similarity job.
    *
    * Scalar columns are pinned to canonical types at the boundary (the
    * [[Tables.epochSec]] rule applied to this table): a writer-side
    * int32/int64 flip must land HERE, not in some operator's driver-side
    * `getLong`. Same-type casts are optimized away, so this is free on
    * the current layout. Vector elements are canonicalized by the
    * consumers' `Vec.toDouble` (element-wise cast, float or double in). */
  def embeddings: DataFrame = t("embeddings")
    .withColumn("vec_id", col("vec_id").cast("long"))
    .withColumn("label", col("label").cast("int"))
}
