package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Typed row models for the driver fixtures (TPC-H-ish star schema plus an
  * `events` stream table and LLM-pipeline tables). The reference's entire
  * data model is `type Collection map[string]string`
  * (reference `internal/storage/types.go:3`); [[KV]] is its direct
  * structural equivalent, the rest realize the reference's *time-series
  * intent* (reference `README.md:3`) with real types.
  */
case class KV(key: String, value: String)

case class Event(
    event_id: Long,
    ts: java.sql.Timestamp,
    user_id: Long,
    event_type: String,
    value: Double,
    props: String)

/** Fixture loaders. All loads are lazy parquet scans — predicate pushdown
  * and column pruning reach the scan because nothing here forces
  * materialization.
  */
object Tables {

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    GraftSession.tune(spark)
    val path = s"$dir/$name.parquet"
    fixtureSchema(spark, path) match {
      case Some(sch) => spark.read.schema(sch).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** Fixture schema from the file's parquet footer, read driver-side and
    * cached per path for the JVM's lifetime. `DataFrameReader.parquet`
    * without an explicit schema launches a schema-inference Spark job per
    * call in Spark 4 — one fixed-cost job inside nearly every registered
    * query, per bench pass (guide §1.2). The fixtures are single immutable
    * files, so footer + forced-nullable IS the inferred schema (same
    * converter, same session flags — [[org.apache.spark.sql.graft.BridgeSchema]]),
    * and per-JVM staleness matches [[underSplit]]'s documented trade. A
    * path that is not a plain single parquet file (no footer readable)
    * falls back to normal inference.
    */
  private val fixtureSchemas = scala.collection.concurrent.TrieMap
    .empty[String, Option[org.apache.spark.sql.types.StructType]]

  private def fixtureSchema(
      spark: SparkSession,
      path: String): Option[org.apache.spark.sql.types.StructType] =
    fixtureSchemas.getOrElseUpdate(
      path,
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(p, org.apache.spark.sql.graft.Bridge.sessionHadoopConf(spark)))
        try Some(
          org.apache.spark.sql.graft.BridgeSchema.asNullable(
            org.apache.spark.sql.graft.BridgeSchema
              .footerSchema(spark, r.getFooter.getFileMetaData.getSchema)))
        finally r.close()
      } catch { case _: Throwable => None })

  /** Cached per (dir, table, parallelism): does this scan under-split the
    * cluster? Keying on defaultParallelism keeps the decision correct when
    * one JVM hosts sessions with different core counts; a rewrite of the
    * parquet at the same path (e.g. after compaction) still reuses the old
    * answer — accepted and documented per-JVM staleness, worst case one
    * redundant (or one missing) narrow shuffle, never a wrong result.
    */
  private val underSplit = scala.collection.concurrent.TrieMap.empty[String, Boolean]

  /** Repartition-to-cores when (and only when) the source under-splits.
    *
    * Parquet can't split below a row group, so a small single-row-group
    * file scans as ONE task — and every per-row-CPU-heavy pipeline
    * downstream (tokenize/shingle/hash, cosine) runs on one core until the
    * first shuffle. Spreading such a scan across the cluster costs one
    * cheap narrow shuffle and parallelizes everything after it.
    *
    * At real scale this is a structural no-op: a 100 TB table has far more
    * row groups than cores, the condition is false, and no shuffle is
    * added. Predicate pushdown and column pruning both traverse
    * Repartition, so scan-level filters/ReadSchema are unaffected.
    */
  private def spread(s: SparkSession, df: DataFrame, key: String): DataFrame = {
    val cores = s.sparkContext.defaultParallelism
    val need = underSplit.getOrElseUpdate(s"$key@$cores", df.rdd.getNumPartitions < math.max(2, cores / 2))
    if (need) df.repartition(cores) else df
  }

  /** Fact-table loader: scan + conditional spread. Dimensions deliberately
    * skip this — they are broadcast-sized, and a repartition child would
    * add a shuffle before every broadcast build.
    */
  private def fact(s: SparkSession, d: String, name: String): DataFrame =
    spread(s, table(s, d, name), s"$d/$name")

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = fact(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = fact(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = fact(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = fact(s, d, "embeddings")

  /** `events.ts` normalized to session-TZ TimestampType whatever the
    * fixture generation wrote, so every downstream query sees one type:
    *  - TIMESTAMP(NANOS) parquet: Spark reads long nanos
    *    (legacy.parquet.nanosAsLong); truncate to micros — identical to
    *    DuckDB's nanos→micros truncation, so oracle timestamps match.
    *  - plain micros (TIMESTAMP_NTZ): cast — value-preserving under the
    *    UTC session TZ ([[GraftSession.tune]]), matching DuckDB's naive
    *    reading of the same parquet.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = fact(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
}
