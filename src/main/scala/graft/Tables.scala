package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-table loader over the driver-generated parquet (TESTDATA.md). */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Inferred schema per parquet path, JVM-lifetime. A bare
    * `spark.read.parquet(path)` re-reads the file footer on EVERY
    * DataFrame construction to infer the schema — pure driver-side
    * latency repeated thousands of times across a bench/verify run over
    * immutable driver-generated inputs. Caching the SCHEMA (metadata
    * only — every query still scans the parquet data itself) removes
    * the footer round-trip; at 100 TB the same discipline is "declare
    * your schemas", which is also what the reference sink does.
    *
    * Keyed by path and stamped with the file's (mtime, length), so a
    * file REGENERATED at the same path mid-JVM (the events.parquet ts
    * layout has drifted across rounds) re-infers instead of silently
    * serving the stale schema, and its new entry REPLACES the superseded
    * one — one entry per path, however often a path is rewritten. One
    * local stat() per construction, still far cheaper than a footer
    * read+parse. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, ((Long, Long), org.apache.spark.sql.types.StructType)]()

  private def cachedSchema(
      spark: SparkSession, path: String): org.apache.spark.sql.types.StructType = {
    // test-table paths are plain local files/dirs by construction
    val f = new java.io.File(path)
    val stamp = (f.lastModified, f.length)
    schemaCache.compute(path, (_, cached) =>
      if (cached != null && cached._1 == stamp) cached
      else (stamp, spark.read.parquet(path).schema))._2
  }

  private[graft] def schemaCacheSize: Int = schemaCache.size

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(cachedSchema(spark, path)).parquet(path)
  }

  /** Schema-adaptive events loader. The driver has shipped `ts` in two
    * physical layouts across rounds: parquet TIMESTAMP(NANOS) — which Spark's
    * vectorized reader only accepts as a raw long (`nanosAsLong`) — and
    * parquet TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads as
    * TIMESTAMP_NTZ. Normalize both to a session-TZ (UTC) TimestampType so
    * every downstream query sees one stable type; sub-microsecond precision
    * is below every window/trunc granularity the engine exposes. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/events.parquet"
    val raw = spark.read.schema(cachedSchema(spark, path)).parquet(path)
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
}
