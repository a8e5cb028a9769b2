package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.sources.{Mv, Snapshots, Sources}

/** `stream-mor`: the time-series ingest path. A long-lived Structured
  * Streaming file-source query applies each landed CDC file through
  * `Streaming.applyChangesMorSink`; then the aggregate view refreshes and
  * four snapshot reads follow. Every `compactEvery` epochs the table is
  * compacted and vacuumed inside the epoch. One epoch is in flight at a
  * time (closed loop). Every read, the view after each refresh and the
  * final table are written out for the model check.
  */
final class StreamMor(a: Map[String, String], rec: Main.Record) extends Workload {
  private val work = a("work")
  private val compactEvery = a("compact_every").toInt
  private val travelBack = a("travel_back").toInt
  private val rangeSeconds = a("range_seconds").toLong
  private val initialBuckets = a("initial_buckets").toInt
  private val warmEpochs = a("warm_epochs").toInt
  private val keyCols = Seq("day", "series", "ts")
  private val cdcSchema = StructType(Seq(
    StructField("op", StringType), StructField("day", DateType), StructField("series", IntegerType),
    StructField("ts", LongType), StructField("value", LongType)))
  private var root, mvRoot, base: String = _
  private var query: StreamingQuery = _
  @volatile private var epochSpan = 0L
  @volatile private var epoch = 0

  def setup(spark: SparkSession, rep: Int): Unit = {
    base = s"$work/rep$rep"
    root = s"$base/ts"
    mvRoot = s"$base/mv"
    val init = spark.read.parquet(s"$work/stream/initial.parquet")
    val (_, s) = Main.timed {
      Snapshots.createTable(spark, root, init.schema, partCols = Seq("day"), statsCols = Seq("day", "ts"))
      init.repartition(col("day")).write.mode("append").partitionBy("day").parquet(root)
      Snapshots.commit(spark, root, Seq("day", "ts"))
      Mv.create(spark, root, mvRoot, Seq("day", "series"), Seq("count(*) AS n", "sum(value) AS sv"))
    }
    rec.setupPart("table_s", s)
    rec.info("table_bytes_start") = dirBytes(root)
  }

  private def startStream(spark: SparkSession): Unit = {
    val sink = graft.streaming.Streaming.applyChangesMorSink(root, keyCols, opCol = "op", deleteOps = Set("d"))
    val wrapped = (batch: Dataset[Row], id: Long) =>
      Trace.span("apply_changes", "sources", epoch, parent = epochSpan)(_ => sink(batch, id))
    Files.createDirectories(Paths.get(s"$base/cdc_in"))
    query = spark.readStream
      .schema(cdcSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$base/cdc_in")
      .writeStream
      .option("checkpointLocation", s"$base/cdc_ck")
      .foreachBatch(wrapped)
      .start()
  }

  private def dumpRows(path: String, rows: Array[Row]): Unit =
    Files.write(Paths.get(path), rows.map(_.toSeq.map(v => String.valueOf(v)).mkString("\t")).toSeq.asJava)

  private def agg(df: org.apache.spark.sql.DataFrame) =
    df.groupBy("series").agg(count(lit(1)).as("n"), sum("value").as("sv"))

  def run(spark: SparkSession, seconds: Double): Unit = {
    startStream(spark)
    val out = s"$base/out"
    Files.createDirectories(Paths.get(out))
    val versions = scala.collection.mutable.ArrayBuffer(Snapshots.latestVersion(spark, root)) // by epoch
    // whole epochs only: after the warm-up, an epoch starts while the
    // previous epoch's cycle (ingest and reads) still fits in the window
    var limit = Long.MaxValue
    var last = 0L
    var e = 1
    while ((e <= warmEpochs + 1 || System.nanoTime() + last <= limit) &&
      Files.exists(Paths.get(f"$work/stream/changes/cdc-$e%05d.parquet"))) {
      if (e == warmEpochs + 1) limit = System.nanoTime() + (seconds * 1e9).toLong
      val c0 = System.nanoTime()
      val warm = e <= warmEpochs
      val traced = Trace.installed && !warm && e % 2 == 0
      Trace.enabled = traced
      epoch = e
      val src = Paths.get(f"$work/stream/changes/cdc-$e%05d.parquet")
      val nChanges = org.apache.parquet.hadoop.ParquetFileReader
        .open(org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(src.toString), spark.sparkContext.hadoopConfiguration))
      val rows = try nChanges.getRecordCount finally nChanges.close()
      var compactMs, vacuumMs = 0.0
      val t0 = System.nanoTime()
      val report = Trace.span("epoch", "streaming", e) { ep =>
        epochSpan = if (ep == null) 0L else ep.id
        // landing: an atomic rename into the watched directory
        Files.copy(src, Paths.get(f"$base/.cdc-$e%05d.parquet"))
        Files.move(Paths.get(f"$base/.cdc-$e%05d.parquet"), Paths.get(f"$base/cdc_in/cdc-$e%05d.parquet"),
          StandardCopyOption.ATOMIC_MOVE)
        Trace.span("process_all_available", "streaming", e) { _ => query.processAllAvailable() }
        if (e % compactEvery == 0) {
          compactMs = Main.timed(Trace.span("compact", "sources", e) { _ => Sources.compactInPlace(spark, root) })._2 * 1000
          vacuumMs = Main.timed(Trace.span("vacuum", "sources", e) { _ =>
            Snapshots.vacuum(spark, root, keepLast = travelBack + 2)
          })._2 * 1000
        }
        Trace.span("mv_refresh", "sources", e) { sp =>
          val r = Mv.refresh(spark, mvRoot)
          if (sp != null) {
            sp.attrs("groups_recomputed") = r.groupsRecomputed.toDouble
            sp.attrs("full_resync") = if (r.fullResync) 1.0 else 0.0
          }
          r
        }
      }
      val t1 = System.nanoTime()
      val v = Snapshots.latestVersion(spark, root)
      versions += v
      rec.op("kind" -> "epoch", "req" -> e, "warm" -> warm, "traced" -> traced, "start_ms" -> rec.ms(t0), "end_ms" -> rec.ms(t1),
        "ok" -> query.exception.isEmpty, "changes" -> rows, "version" -> v, "compact_ms" -> compactMs,
        "vacuum_ms" -> vacuumMs, "groups_recomputed" -> report.groupsRecomputed,
        "full_resync" -> report.fullResync)
      // the view as refreshed (untimed check input)
      dumpRows(f"$out/mv-$e%05d.tsv", Snapshots.readSnapshot(spark, mvRoot).select("day", "series", "n", "sv").collect())

      // snapshot reads, each timed and checked against the model at its epoch;
      // warm-up epochs only ingest
      val head = (initialBuckets + e) * 3600L // the newest bucket's end (see gen.TsFeed)
      val back = math.max(0, e - travelBack)
      val reads: Seq[(String, Int, () => Array[Row])] = Seq(
        ("range", e, () => Snapshots
          .readSnapshot(spark, root, v, prune = Seq(("ts", (head - rangeSeconds).toString, head.toString)))
          .filter(col("ts") >= head - rangeSeconds && col("ts") < head)
          .select("day", "series", "ts", "value").collect()),
        ("agg", e, () => agg(Snapshots.readSnapshot(spark, root, v)).collect()),
        ("timetravel", back, () => agg(Snapshots.readSnapshot(spark, root, versions(back))).collect()),
        ("cdf", e, () => Snapshots.diff(spark, root, versions(e - 1), v)
          .select("change", "day", "series", "ts", "value").collect()))
      if (!warm) reads.foreach { case (kind, at, read) =>
        val r0 = System.nanoTime()
        val (res, err) =
          try Trace.span("read_" + kind, "sources", e) { sp =>
            val res = read()
            if (sp != null) sp.attrs("rows") = res.length.toDouble
            (res, "")
          } catch { case ex: Throwable => (Array.empty[Row], String.valueOf(ex.getMessage).take(200)) }
        val r1 = System.nanoTime()
        rec.op("kind" -> "read", "name" -> kind, "req" -> e, "at_epoch" -> at, "warm" -> warm, "traced" -> traced,
          "start_ms" -> rec.ms(r0), "end_ms" -> rec.ms(r1), "ok" -> err.isEmpty, "rows" -> res.length,
          "error" -> err)
        dumpRows(f"$out/$kind-$e%05d.tsv", res)
      }
      Trace.enabled = false
      last = System.nanoTime() - c0
      e += 1
    }
    epoch = e - 1
  }

  override def finish(spark: SparkSession): Unit = {
    query.stop()
    val table = Snapshots.readSnapshot(spark, root).select("day", "series", "ts", "value").collect()
    dumpRows(s"$base/out/final.tsv", table)
    val view = Snapshots.manifestView(spark, root)
    val bytes = dirBytes(root)
    rec.info("out_dir") = s"$base/out"
    rec.info("epochs") = epoch
    rec.info("table_bytes_end") = bytes
    rec.info("live_rows") = table.length
    rec.info("live_files") = view.rels.size
    rec.info("dv_sidecars") = Snapshots.dvByRel(view).size
    rec.info("stored_bytes_per_row") = bytes.toDouble / math.max(1, table.length)
  }

  private def dirBytes(dir: String): Long =
    Files.walk(Paths.get(dir)).iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  override def teardown(): Unit = if (query != null && query.isActive) query.stop()
}
