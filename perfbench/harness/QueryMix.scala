package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `query-mix`: one client runs read-only registry queries back to back
  * over the seeded fixtures. Each round is the weighted query list in a
  * seeded order, so every run sees the same mix. Before timing, each
  * distinct query runs once and its result is written for the oracle
  * check; a timed execution whose row count differs from it fails.
  */
final class QueryMix(a: Map[String, String], rec: Main.Record) extends Workload {
  private val work = a("work")
  private val seed = a("seed").toLong
  // name, module, weight
  private val mix: Vector[(String, String, Int)] =
    Files.readAllLines(Paths.get(s"$work/queries.tsv")).asScala.toVector.filter(_.nonEmpty).map { l =>
      val f = l.split("\t")
      (f(0), f(1), f(2).toInt)
    }
  private val registry = graft.SparkEntry.queries
  private val tables =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")
  private var dir: String = _
  private val expectedRows = scala.collection.mutable.HashMap.empty[String, Long]

  def setup(spark: SparkSession, rep: Int): Unit = {
    // a fresh copy per repetition: per-path footer and layout caches start cold
    dir = s"$work/rep$rep/fixtures"
    Files.createDirectories(Paths.get(dir))
    tables.foreach(t =>
      Files.copy(Paths.get(s"$work/fixtures/$t.parquet"), Paths.get(s"$dir/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING))
    val (_, s) = Main.timed {
      import graft.core.Tables._
      Seq(region _, nation _, customer _, supplier _, part _, orders _, lineitem _, events _, documents _,
        embeddings _).foreach(f => f(spark, dir).count())
    }
    rec.setupPart("table_s", s)
  }

  private def query(spark: SparkSession, name: String): DataFrame = registry(name)(spark, dir)

  def run(spark: SparkSession, seconds: Double): Unit = {
    val out = s"$work/results"
    // first execution of each distinct query: the correctness dump
    mix.map(_._1).distinct.foreach { name =>
      val (df, s) = Main.timed {
        val df = query(spark, name)
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
        df
      }
      expectedRows(name) = spark.read.parquet(s"$out/$name").count()
      rec.op("kind" -> "first", "name" -> name, "ms" -> s * 1000, "ok" -> true)
      spark.catalog.clearCache()
    }
    val oracle = graft.SparkEntry.oracleSql
    Files.write(
      Paths.get(s"$work/oracle.json"),
      Json.value(mix.map(_._1).distinct.map(n => n -> oracle(n)).toMap).getBytes("UTF-8"))

    // whole rounds only, so every run times the same mix: a round starts
    // while the previous round's duration still fits in the window
    val weighted = mix.flatMap { case (n, m, w) => Seq.fill(w)((n, m)) }
    val limit = System.nanoTime() + (seconds * 1e9).toLong
    var round = 0
    var i = 0L
    var last = 0L
    while (round == 0 || System.nanoTime() + last <= limit) {
      val r0 = System.nanoTime()
      new scala.util.Random(seed * 1000003L + round).shuffle(weighted).foreach { case (name, module) =>
        val traced = Trace.installed && i % 2 == 1
        Trace.enabled = traced
        val t0 = System.nanoTime()
        val (rows, err) =
          try {
            Trace.span(name, module, i) { sp =>
              val n = query(spark, name).collect().length.toLong
              if (sp != null) sp.attrs("rows") = n.toDouble
              (n, "")
            }
          } catch { case e: Throwable => (-1L, String.valueOf(e.getMessage).take(200)) }
        val t1 = System.nanoTime()
        Trace.enabled = false
        val ok = err.isEmpty && rows == expectedRows(name)
        rec.op("kind" -> "query", "name" -> name, "module" -> module, "req" -> i, "traced" -> traced,
          "start_ms" -> rec.ms(t0), "end_ms" -> rec.ms(t1), "ok" -> ok, "rows" -> rows,
          "error" -> (if (ok) "" else if (err.nonEmpty) err else s"rows $rows != ${expectedRows(name)}"))
        spark.catalog.clearCache()
        i += 1
      }
      last = System.nanoTime() - r0
      round += 1
    }
    rec.info("fixture_bytes") = tables.map(t => Files.size(Paths.get(s"$dir/$t.parquet"))).sum
  }
}
