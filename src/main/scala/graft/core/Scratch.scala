package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Registry of per-run scratch directories (q177's MERGE table, q180's ORC
  * round-trip dir) with one JVM shutdown hook that removes them all.
  *
  * Scratch roots are suffixed with the Spark application id so concurrent
  * runs on one box never race on delete-then-rewrite — which also means a
  * run's delete-if-exists can never match a PRIOR run's dir, so without
  * this hook every run would strand a fixture-sized directory in
  * `java.io.tmpdir`. Sweeping stale siblings at startup instead would race
  * with a live concurrent run (its app id is indistinguishable from a dead
  * one's); the owner deleting its own dirs on exit is the safe protocol.
  */
object Scratch {

  private val registered = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      registered.iterator().asScala.foreach { dir =>
        try deleteRec(Paths.get(dir))
        catch { case _: Throwable => () } // best-effort: tmpfs reaps the rest
      }
    }, "graft-scratch-cleaner"))

  /** Register a scratch root (local filesystem) for removal at JVM exit. */
  def register(dir: String): Unit = {
    hookInstalled
    registered.add(dir)
  }

  /** The scratch root of query fixture `tag` over data dir `d`:
    * `<java.io.tmpdir>/graft_<tag>_<hex(d.hashCode)>_<appId>`, registered
    * for removal at JVM exit and emptied if an earlier call in this run
    * left it behind, so every caller starts from an absent root.
    */
  def root(s: SparkSession, d: String, tag: String): org.apache.hadoop.fs.Path = {
    val p = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"),
      s"graft_${tag}_${java.lang.Integer.toHexString(d.hashCode)}_${s.sparkContext.applicationId}")
    register(p.toString)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    p
  }

  private def deleteRec(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toVector.reverseIterator.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
}
