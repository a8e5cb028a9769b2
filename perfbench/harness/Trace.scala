package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** In-memory spans around the benchmark's own calls into the program, and
  * a listener that attributes Spark jobs, stages, tasks and bytes to the
  * span that was open on the submitting thread.
  *
  * A span sets the local property [[Tag]] on its thread; Spark copies local
  * properties into every job it submits, and child threads inherit them, so
  * the listener finds the span of a job in the job's own properties. Spans
  * are written out once, when the run ends.
  */
/** One time base for operations, spans and listener events. */
object Clock {
  private val nsBase = System.nanoTime()
  private val msBase = System.currentTimeMillis()
  def ms(ns: Long): Double = (ns - nsBase) / 1e6
  def wallMs(t: Long): Double = (t - msBase).toDouble
}

object Trace {
  val Tag = "graftbench.span"

  final class Span(
      val id: Long,
      val name: String,
      val layer: String,
      val parent: Long,
      val req: Long,
      val startNs: Long) {
    @volatile var endNs: Long = -1L
    val attrs = mutable.LinkedHashMap.empty[String, Double]
  }

  final class Counts {
    var jobs, stages, tasks, shuffleRead, shuffleWrite, spill, inputRecords = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // wall ms
  }

  /** The run is traced; workloads switch [[enabled]] per operation. */
  @volatile var installed = false
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.HashMap.empty[Long, Counts]
  private var nextId = 1L
  private val open = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  private var spark: SparkSession = _

  def install(s: SparkSession): Unit = {
    spark = s
    installed = true
    s.sparkContext.addSparkListener(Listener)
  }

  def current: Long = open.get.headOption.map(_.id).getOrElse(0L)

  /** Runs `body` inside a span when tracing is on; `parent` defaults to the
    * span open on this thread. */
  def span[T](name: String, layer: String, req: Long, parent: Long = -1L)(body: Span => T): T = {
    if (!enabled) return body(null)
    val sp = synchronized {
      val p = if (parent >= 0) parent else current
      val s = new Span(nextId, name, layer, p, req, System.nanoTime())
      nextId += 1
      spans += s
      s
    }
    val sc = spark.sparkContext
    val prevTag = sc.getLocalProperty(Tag)
    sc.setLocalProperty(Tag, sp.id.toString)
    open.set(sp :: open.get)
    try body(sp)
    finally {
      sp.endNs = System.nanoTime()
      open.set(open.get.drop(1))
      sc.setLocalProperty(Tag, prevTag)
    }
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = if (spark != null) org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  /** Every span as one JSON object per line, with its attributed counts and
    * the part of its interval covered by its own jobs (`job_ms`). */
  def dump(path: String): Unit = {
    drain()
    val lines = synchronized(spans.toVector).map { s =>
      val c = Listener.synchronized(counts.getOrElse(s.id, new Counts))
      val start = Clock.ms(s.startNs)
      val end = Clock.ms(if (s.endNs < 0) System.nanoTime() else s.endNs)
      val covered = unionMs(c.jobIntervals.toSeq.map { case (a, b) =>
        (math.max(start, Clock.wallMs(a)), math.min(end, Clock.wallMs(b)))
      })
      Json.obj(
        Seq(
          "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent, "req" -> s.req,
          "start_ms" -> start, "end_ms" -> end, "jobs" -> c.jobs, "stages" -> c.stages,
          "tasks" -> c.tasks, "shuffle_bytes" -> (c.shuffleRead + c.shuffleWrite),
          "spill_bytes" -> c.spill, "input_records" -> c.inputRecords, "job_ms" -> covered) ++
          s.attrs.toSeq: _*)
    }
    // jobs submitted outside any span (e.g. by the KV server's own thread)
    val untagged = Listener.synchronized(counts.get(0L).map(_.jobIntervals.toVector).getOrElse(Vector.empty))
    val free = Json.obj("id" -> 0L, "name" -> "untagged", "layer" -> "none",
      "job_intervals_ms" -> untagged.map { case (a, b) => Seq(Clock.wallMs(a), Clock.wallMs(b)) })
    java.nio.file.Files.write(java.nio.file.Paths.get(path), (lines :+ free).mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  private def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total, reach = 0.0
    var first = true
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (first || a > reach) { total += b - a; reach = b; first = false }
      else if (b > reach) { total += b - reach; reach = b }
    }
    total
  }

  private object Listener extends SparkListener {
    private val jobSpan = mutable.HashMap.empty[Int, (Long, Long)] // job -> (span, start ms)
    private val stageSpan = mutable.HashMap.empty[Int, Long]

    private def of(id: Long): Counts = counts.getOrElseUpdate(id, new Counts)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tag)))
      tag.map(_.toLong).orElse(Some(0L)).foreach { id =>
        jobSpan(e.jobId) = (id, e.time)
        e.stageIds.foreach(stageSpan(_) = id)
        of(id).jobs += 1
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.remove(e.jobId).foreach { case (id, t0) => of(id).jobIntervals += ((t0, e.time)) }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(of(_).stages += 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageSpan.get(e.stageId).foreach { id =>
        val c = of(id)
        c.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputRecords += m.inputMetrics.recordsRead
        }
      }
    }
  }
}
