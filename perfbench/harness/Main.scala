package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: set the workload up `reps` times
  * (each time in a fresh Spark session), then drive it for `seconds` and
  * write what happened to `<work>/result.json` (and, traced, the spans to
  * `<work>/spans.jsonl`). The Python driver generates the inputs before
  * and checks the outputs after.
  *
  * Arguments are `key=value`: workload, seed, seconds, trace (0|1), work,
  * reps, cores, plus the workload's own knobs.
  */
object Main {

  /** Everything a run records; written once as JSON at the end. */
  final class Record {
    val setup = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val ops = mutable.ArrayBuffer.empty[String]
    val info = mutable.LinkedHashMap.empty[String, Any]
    def ms(ns: Long): Double = Clock.ms(ns)
    def setupPart(name: String, seconds: Double): Unit =
      setup.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += seconds
    def op(kv: (String, Any)*): Unit = synchronized(ops += Json.obj(kv: _*))

    def write(path: String): Unit = {
      val body = "{" + Seq(
        "\"setup\":" + Json.value(setup.map { case (k, v) => k -> v.toSeq }),
        "\"info\":" + Json.value(info),
        "\"ops\":[\n" + ops.mkString(",\n") + "\n]").mkString(",\n") + "}\n"
      Files.write(Paths.get(path), body.getBytes("UTF-8"))
    }
  }

  def timed[T](f: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t) / 1e9)
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.extensions", classOf[graft.plans.GraftExtensions].getName)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    graft.core.GraftSession.tune(s)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val work = a("work")
    val seconds = a("seconds").toDouble
    val reps = a.getOrElse("reps", "3").toInt
    val cores = a.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString).toInt
    val rec = new Record
    rec.info("cores") = cores
    val wl: Workload = a("workload") match {
      case "query-mix" => new QueryMix(a, rec)
      case "stream-mor" => new StreamMor(a, rec)
      case "kv-serve" => new KvServe(a, rec)
      case w => sys.error(s"unknown workload $w")
    }
    var spark: SparkSession = null
    for (r <- 1 to reps) {
      if (spark != null) {
        wl.teardown()
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val (s, sessionS) = timed(session(cores, work))
      spark = s
      rec.setupPart("session_s", sessionS)
      wl.setup(spark, r)
    }
    if (a.getOrElse("trace", "0") == "1") Trace.install(spark)
    try {
      wl.run(spark, seconds)
      wl.finish(spark)
      if (Trace.installed) Trace.dump(s"$work/spans.jsonl")
    } finally {
      wl.teardown()
      rec.write(s"$work/result.json")
      spark.stop()
    }
  }
}

/** A workload: set up once per repetition, then measured once. */
trait Workload {
  def setup(spark: SparkSession, rep: Int): Unit
  def run(spark: SparkSession, seconds: Double): Unit
  def finish(spark: SparkSession): Unit = ()
  def teardown(): Unit = ()
}
