package graftbench

import java.net.{HttpURLConnection, URL}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, Semaphore, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.kv.{KvEngine, KvHttpServer}

/** `kv-serve`: HTTP GETs and PUTs against `KvHttpServer` over `KvEngine`,
  * sent on schedule (open loop) by one generator thread over at most
  * `conns` connections, at each rate of a fixed ladder. Each request is
  * timed from the moment it was due. Every `flush_every` requests one hot
  * collection is flushed (a bounded hot tier), so later reads of it pay a
  * read-through load. The generator classifies each GET by its own model of
  * the hot tier: overlay hit, base probe, or load.
  */
final class KvServe(a: Map[String, String], rec: Main.Record) extends Workload {
  private val work = a("work")
  private val seed = a("seed").toLong
  private val rates = a("rates").split(",").map(_.toDouble).toSeq
  private val refRate = a("ref_rate").toDouble
  private val warmSeconds = a("warm_seconds").toDouble
  private val flushEvery = a("flush_every").toInt
  private val refShare = a("ref_share").toDouble
  private val burstShare = a("burst_share").toDouble
  private val conns = Runtime.getRuntime.availableProcessors
  private val timeoutMs = 5000

  private lazy val cold: Seq[(String, Seq[(String, String)])] =
    Files.readAllLines(Paths.get(s"$work/kv/cold.tsv")).asScala.toVector.filter(_.nonEmpty)
      .map(_.split("\t")).groupBy(_(0)).toSeq.sortBy(_._1)
      .map { case (c, rows) => c -> rows.map(r => r(1) -> r(2)) }
  private lazy val requests: Vector[Array[String]] =
    Files.readAllLines(Paths.get(s"$work/kv/requests.tsv")).asScala.toVector.filter(_.nonEmpty)
      .map(_.split("\t", -1))

  private var engine: KvEngine = _
  private var server: KvHttpServer = _

  def setup(spark: SparkSession, rep: Int): Unit = {
    val dir = s"$work/rep$rep/kv"
    val (_, s) = Main.timed {
      engine = new KvEngine(spark, dir, autoCreate = false)
      cold.foreach { case (c, kvs) =>
        engine.createCollection(c)
        kvs.foreach { case (k, v) => engine.writeKey(c, k, v) }
        engine.flushCollection(c)
      }
      server = new KvHttpServer(engine)
      server.start()
    }
    rec.setupPart("kv_cold_s", s)
  }

  override def teardown(): Unit = if (server != null) { server.stop(flush = false); server = null }

  // ---- the generator's model of the hot tier --------------------------------
  private val hot = mutable.HashMap.empty[String, mutable.HashSet[String]] // collection -> overlay keys
  private val rng = new scala.util.Random(seed)

  private def classify(op: String, c: String, k: String): String = hot.synchronized {
    val cls =
      if (op == "PUT") "put"
      else if (!hot.contains(c)) "load"
      else if (hot(c).contains(k)) "overlay"
      else "base"
    val overlay = hot.getOrElseUpdate(c, mutable.HashSet.empty)
    if (op == "PUT") overlay += k
    cls
  }

  private val next = new AtomicLong(0L) // index into the request list
  private val flushing = new AtomicBoolean(false)

  private def call(op: String, c: String, k: String, v: String): (Int, String) = {
    val path = if (op == "PUT") s"/collections/$c/$k/$v" else s"/collections/$c/$k"
    val conn = new URL(s"http://127.0.0.1:${server.boundPort}$path").openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(timeoutMs)
    conn.setReadTimeout(timeoutMs)
    conn.setRequestMethod(op)
    val code = conn.getResponseCode
    val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = if (in == null) "" else try new String(in.readAllBytes(), "UTF-8") finally in.close()
    (code, body)
  }

  private def dataOf(body: String): String = {
    val i = body.indexOf("\"data\":\"")
    if (i < 0) "" else body.substring(i + 8, body.indexOf('"', i + 8))
  }

  /** Sends request `idx` and records it; `due` is when it should have gone out.
    * A traced run traces every other request. */
  private def send(name: String, rate: Double, idx: Long, cls: String, due: Long, sentNs: Long,
      req: Array[String]): Unit = {
    val Array(op, c, k, v) = req
    val traced = Trace.installed && idx % 2 == 1
    Trace.enabled = traced
    val (code, got, err) =
      try Trace.span(if (op == "PUT") "put" else s"get_$cls", "kv", idx) { _ =>
        val (code, body) = call(op, c, k, v)
        (code, if (op == "GET" && code == 200) dataOf(body) else "", if (code == 200) "" else body.take(200))
      } catch { case e: Throwable => (-1, "", String.valueOf(e.getMessage).take(200)) }
    val end = System.nanoTime()
    rec.op("kind" -> op.toLowerCase, "rung" -> name, "rate" -> rate, "req" -> idx, "class" -> cls,
      "coll" -> c, "key" -> k, "value" -> (if (op == "PUT") v else got), "traced" -> traced,
      "due_ms" -> rec.ms(due), "sent_ms" -> rec.ms(sentNs), "end_ms" -> rec.ms(end),
      "ok" -> (code == 200), "status" -> code, "error" -> err)
  }

  private def take(): (Long, Array[String], String) = {
    val idx = next.getAndIncrement()
    val req = requests((idx % requests.size).toInt)
    (idx, req, classify(req(0), req(1), req(2)))
  }

  /** One rung: `seconds` of requests at `rate`, then wait for the stragglers. */
  private def rung(name: String, rate: Double, seconds: Double): Unit = {
    val pool = Executors.newFixedThreadPool(conns)
    val flusher = Executors.newSingleThreadExecutor()
    val slots = new Semaphore(conns)
    val done = new AtomicLong(0L)
    val n = (rate * seconds).toLong
    val start = System.nanoTime()
    var backlogMax = 0L
    var lagMaxMs = 0.0
    for (i <- 0L until n) {
      val due = start + (i * 1e9 / rate).toLong
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      slots.acquire()
      val sentNs = System.nanoTime()
      val dueCount = ((sentNs - start) * rate / 1e9).toLong + 1
      backlogMax = math.max(backlogMax, dueCount - done.get)
      lagMaxMs = math.max(lagMaxMs, (sentNs - due) / 1e6)
      val (idx, req, cls) = take()
      pool.submit(new Runnable {
        def run(): Unit = {
          send(name, rate, idx, cls, due, sentNs, req)
          done.incrementAndGet()
          slots.release()
        }
      })
      // the same flush positions in every rung of every run
      if (i % flushEvery == flushEvery / 2 && flushing.compareAndSet(false, true)) {
        val target = hot.synchronized {
          val ids = hot.keys.toVector.sorted
          if (ids.isEmpty) None else { val t = ids(rng.nextInt(ids.size)); hot.remove(t); Some(t) }
        }
        flusher.submit(new Runnable {
          def run(): Unit = try target.filter(engine.isHotTier).foreach { t =>
            Trace.enabled = Trace.installed
            val t0 = System.nanoTime()
            Trace.span("flush", "kv", idx)(_ => engine.flushCollection(t))
            rec.op("kind" -> "flush", "rung" -> name, "coll" -> t, "traced" -> Trace.installed,
              "start_ms" -> rec.ms(t0), "end_ms" -> rec.ms(System.nanoTime()), "ok" -> true)
          } finally flushing.set(false)
        })
      }
    }
    val endNs = System.nanoTime()
    val backlogEnd = ((endNs - start) * rate / 1e9).toLong.min(n) - done.get
    pool.shutdown()
    flusher.shutdown()
    pool.awaitTermination(timeoutMs * 4L, TimeUnit.MILLISECONDS)
    flusher.awaitTermination(timeoutMs * 4L, TimeUnit.MILLISECONDS)
    rec.op("kind" -> "rung", "rung" -> name, "rate" -> rate, "requests" -> n,
      "start_ms" -> rec.ms(start), "end_ms" -> rec.ms(endNs), "backlog_max" -> backlogMax,
      "backlog_end" -> backlogEnd, "lag_max_ms" -> lagMaxMs, "ok" -> true)
  }

  /** Capacity: `conns` clients sending back to back (closed loop) for `seconds`. */
  private def burst(seconds: Double): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val start = System.nanoTime()
    val clients = (1 to conns).map { _ =>
      new Thread(() =>
        while (System.nanoTime() < end) {
          val (idx, req, cls) = take()
          val now = System.nanoTime()
          send("burst", 0.0, idx, cls, now, now, req)
        })
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    rec.op("kind" -> "burst", "start_ms" -> rec.ms(start), "end_ms" -> rec.ms(System.nanoTime()), "ok" -> true)
  }

  /** The window: the reference rung takes `ref_share` of it, the capacity
    * burst `burst_share`, the other rungs split the rest evenly. */
  def run(spark: SparkSession, seconds: Double): Unit = {
    rung("warm", refRate, warmSeconds)
    val rest = seconds * (1 - refShare - burstShare) / (rates.size - 1)
    rates.foreach(r => rung(r.toString, r, if (r == refRate) seconds * refShare else rest))
    burst(seconds * burstShare)
    rec.info("collections") = cold.size
    rec.info("keys") = cold.headOption.map(_._2.size).getOrElse(0)
  }
}
