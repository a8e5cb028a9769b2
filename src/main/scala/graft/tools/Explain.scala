package graft.tools

import org.apache.spark.sql.SparkSession

/** Plan inspector for registered queries: prints (or writes) the formatted
  * physical plan — pushdown, exchanges, codegen spans — and optionally
  * times the execution. The plan evidence the optimization rounds commit
  * under `plans/rNN/` comes from here.
  *
  * Usage: runMain graft.tools.Explain [--out DIR --suffix S] [--run] [nameSubstr...]
  *  - every registered query whose name contains one of the substrings
  *    (all queries when none is given), in name order;
  *  - `--out DIR --suffix S` writes `<DIR>/<query>_<S>.txt` instead of
  *    printing to stdout;
  *  - `--run` executes each query twice and prints the wall time.
  *
  * Data dir from SPARK_GRAFT_SF_DIR (required), cores from
  * SPARK_GRAFT_CPUS — the bench session's exact configuration, so the
  * plans printed are the plans the bench times.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    def flag(name: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }
    val out = flag("--out").map(java.nio.file.Paths.get(_))
    val suffix = flag("--suffix")
    require(out.isDefined == suffix.isDefined, "--out and --suffix go together")
    val run = args.contains("--run")
    val valued = Set("--out", "--suffix")
    val sels = args.indices
      .filterNot(i => args(i).startsWith("--") || (i > 0 && valued(args(i - 1))))
      .map(args(_))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sys.error("set SPARK_GRAFT_SF_DIR to the fixture data dir"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.extensions", classOf[graft.plans.GraftExtensions].getName)
      .getOrCreate()
    graft.core.GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")
    out.foreach(java.nio.file.Files.createDirectories(_))
    val picked = graft.SparkEntry.queries.toSeq
      .filter { case (n, _) => sels.isEmpty || sels.exists(n.contains) }
      .sortBy(_._1)
    picked.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
        out match {
          case Some(dir) =>
            java.nio.file.Files.write(dir.resolve(s"${name}_${suffix.get}.txt"), txt.getBytes("UTF-8"))
            println(s"[explain] wrote $name")
          case None => println(s"== $name ==\n$txt")
        }
        if (run)
          (1 to 2).foreach { i =>
            val t0 = System.nanoTime()
            val n = df.count()
            println(f"[explain] $name RUN$i: $n rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
          }
      } catch {
        case e: Throwable => println(s"[explain] FAILED $name: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
