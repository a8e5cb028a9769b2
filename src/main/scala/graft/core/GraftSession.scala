package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Design notes (100 TB target):
  *  - AQE on: runtime join-strategy switching + skew-join splitting replace
  *    any hand-rolled planning the reference's tiering did
  *    (cf. reference `internal/storage/engine.go:70-81`, which hand-orders
  *    hot-before-cold probes — Spark's optimizer + block manager own that
  *    concern here).
  *  - UTC session timezone: required for oracle (DuckDB) parity; DuckDB
  *    timestamps are naive, Spark interprets parquet micros in session TZ.
  *  - `nanosAsLong`: the `events` fixture carries TIMESTAMP(NANOS) which
  *    Spark 4.x refuses to read natively; we read the raw int64 and convert
  *    (see [[Tables.events]]) with the same truncation DuckDB applies.
  */
object GraftSession {

  /** Runtime confs every graft query needs regardless of who built the
    * session (the driver may hand us one). All are runtime-settable SQLConfs.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // Deliberately KEEP the INT96 parquet timestamp default for dumps the
    // oracle compare reads: INT96 round-trips through arrow as a *naive*
    // timestamp (values stringify identically to DuckDB's naive
    // timestamp[us]); TIMESTAMP_MICROS would tag tz=UTC and make every
    // timestamp value tz-aware ('+00:00') — a hash mismatch against the
    // oracle even when the instants are equal.
    // InferFiltersFromGenerate re-derives `size(arr)>0` filters by inlining
    // the full generator expression through projections — for our staged
    // tokenize→shingle pipelines that re-evaluates the tokenization ~8x per
    // row before the explode (measured 2-10x whole-query regressions). The
    // rows it would skip (empty shingle arrays) are a negligible fraction.
    spark.conf.set(
      "spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    // Let AQE re-plan (and so COALESCE) the output partitioning of plans
    // being cached: Spark defaults this off, so every persisted frame keeps
    // the static spark.sql.shuffle.partitions layout — for the maintenance
    // paths' bounded key/candidate frames (Mv/DeleteVectors persist) that
    // meant 32 near-empty cached partitions, and EVERY downstream scan of
    // the cache paid 32 tasks whose dominant cost is re-deserializing the
    // task binary (measured on q249: 67 of 203 stages ran 32 tasks, 75 s
    // of task deserialization against 28 s of query CPU; with AQE allowed
    // on the cached plan the same run has 4 such stages and 325 total
    // tasks vs 2303). Scale-adaptive by construction — AQE sizes cached
    // partitions from the data, small frames coalesce, big ones keep
    // parallelism (guide §2.2/§2.4).
    spark.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    // custom operators + native SQL functions (runtime path; builder path
    // is GraftExtensions via spark.sql.extensions)
    graft.plans.AsOfJoin.register(spark)
    graft.plans.GraftExtensions.registerRuntime(spark)
    spark
  }

  /** A numeric graft conf: `default` when unset; a value that does not
    * parse, or that `valid` rejects, throws IllegalArgumentException
    * naming the key and the bad value — a typo must never silently fall
    * back to the default.
    */
  def numConf[T](spark: SparkSession, key: String, default: T, expected: String)(
      parse: String => T,
      valid: T => Boolean = (_: T) => true): T =
    spark.conf.getOption(key) match {
      case None => default
      case Some(v) =>
        val t =
          try Some(parse(v.trim))
          catch { case _: NumberFormatException => None }
        t.filter(valid).getOrElse(throw new IllegalArgumentException(s"$key must be $expected, got '$v'"))
    }

  /** Standalone builder for tests / tools. `local[n]` with shuffle
    * partitions matched to cores (200 default is wrong single-node; on a
    * real cluster this would be sized to 2-3x total executor cores, or left
    * to AQE coalescing).
    */
  def local(cores: Int = 4, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE on cached plans too — see tune() for the measured rationale
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // builder-path extensions (parser DDL needs builder time — a live
      // session's parser cannot be swapped; the rest also rides here)
      .config("spark.sql.extensions", classOf[graft.plans.GraftExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
