package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** The fixture kernel of the snapshot-lifecycle queries ([[Frontier]],
  * [[Frontier2]], [[Frontier3]]): each builds its scratch table under
  * [[graft.core.Scratch.root]] from the same event-stats aggregate,
  * windows it from the same first day and reads it back through a
  * query-private catalog.
  */
private[queries] object Fixtures {

  /** An event's value in integer micro-units — the exact domain every
    * lifecycle oracle sums in (`CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)`).
    */
  val micro: Column = floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")

  /** The `(day, <key>, n, sum_u)` micro-sum aggregate of an events frame. */
  def dayStats(ev: DataFrame, key: String = "event_type"): DataFrame =
    ev.groupBy(to_date(col("ts")).as("day"), col(key))
      .agg(count(lit(1)).as("n"), sum(micro).as("sum_u"))

  /** The first event day of the fixture at `d`. */
  def firstDay(s: SparkSession, d: String): java.time.LocalDate =
    Tables.events(s, d).agg(min(to_date(col("ts")))).head().getDate(0).toLocalDate

  /** Register catalog `<tag>_<hex(d.hashCode)>` over the snapshot tables
    * under `root`; returns the catalog name.
    */
  def catalog(s: SparkSession, d: String, tag: String, root: org.apache.hadoop.fs.Path): String = {
    val cat = s"${tag}_${java.lang.Integer.toHexString(d.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.snap.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
    cat
  }
}
