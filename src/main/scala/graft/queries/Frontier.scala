package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Det, Scratch, Tables}
import Fixtures._

/** Round-5 additions: skyline (Pareto frontier), exact grouped Spearman
  * rank correlation, CUSUM changepoint detection. Same contract as every
  * other registry module — each query has a DuckDB oracle twin and a
  * 100 TB shuffle story in its Scaladoc.
  */
object Frontier {
  private type Q = (SparkSession, String) => DataFrame

  // -- q155: skyline / Pareto frontier ---------------------------------

  /** 2-D skyline over part (minimize price, maximize size): a part is on
    * the frontier iff no other part is cheaper-or-equal AND
    * bigger-or-equal with at least one strict. The naive form is an
    * O(n²) self-join (exactly what the oracle runs); the engine instead
    * decomposes by dominance geometry so no row ever meets another row:
    *   1. per-price best size (hash agg — same-price smaller sizes are
    *      dominated by the same-price max),
    *   2. price-band partials: per-band max of best (tiny: one row per
    *      band), prefix-maxed over strictly-lower bands — the only
    *      global ordering, over #bands rows, broadcast back,
    *   3. in-band window (bounded partitions): a price survives iff its
    *      best strictly exceeds every strictly-cheaper price's best —
    *      checked against the in-band running max and the lower-band
    *      prefix,
    *   4. semi-join survivors back to part to emit all tied frontier
    *      rows.
    * Total cost: two hash shuffles + bounded windows; dominance never
    * materializes a pair. The skyline itself is small by nature (it's a
    * maxima set), so the join-back broadcasts.
    */
  def q155(s: SparkSession, d: String): DataFrame = {
    val p = Tables
      .part(s, d)
      .select(col("p_partkey"), col("p_retailprice").as("price"), col("p_size").cast("long").as("size"))
    // localCheckpoint: one row per distinct price feeds both the band
    // maxima and the in-band windows — without it each consumer re-scans
    // and re-aggregates the fact table
    val best = p
      .groupBy(col("price"))
      .agg(max(col("size")).as("best"))
      .withColumn("band", floor(col("price") / lit(10.0)).cast("long"))
      .localCheckpoint()
    val bandMax = best.groupBy(col("band")).agg(max(col("best")).as("bmax"))
    // single-partition window is over one row PER BAND (tiny by design)
    val wB = Window.orderBy(col("band")).rowsBetween(Window.unboundedPreceding, -1)
    val lowerMax = bandMax.withColumn("lower_max", max(col("bmax")).over(wB)).drop("bmax")
    val wIn = Window.partitionBy(col("band")).orderBy(col("price")).rowsBetween(Window.unboundedPreceding, -1)
    val surv = best
      .withColumn("in_max", max(col("best")).over(wIn))
      .join(broadcast(lowerMax), Seq("band"))
      .filter(
        (col("in_max").isNull || col("best") > col("in_max")) &&
          (col("lower_max").isNull || col("best") > col("lower_max")))
      .select(col("price").as("sk_price"), col("best").as("sk_size"))
    p.join(broadcast(surv), p("price") === col("sk_price") && p("size") === col("sk_size"))
      .select(col("p_partkey"), col("price"), col("size"))
      .orderBy(col("p_partkey"))
  }

  val q155Sql: String =
    """SELECT a.p_partkey, a.p_retailprice AS price, CAST(a.p_size AS BIGINT) AS size
      |FROM part a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part b
      |  WHERE (b.p_retailprice < a.p_retailprice AND b.p_size >= a.p_size)
      |     OR (b.p_retailprice <= a.p_retailprice AND b.p_size > a.p_size))
      |ORDER BY a.p_partkey""".stripMargin

  // -- q156: exact grouped Spearman rank correlation --------------------

  /** Spearman rank correlation between l_quantity and l_discount per
    * l_returnflag, with textbook tie handling (Pearson over average
    * ranks). The scale design never ranks row-by-row: both variables are
    * low-cardinality, so ranks are assigned on the VALUE DISTRIBUTION
    * (≤50 quantities × ≤11 discounts per group) — one bounded hash agg
    * to (flag, qty, disc) cells, two windows over tiny per-group value
    * tables, broadcast back to cells. Average ranks are kept in integer
    * half-units (ar2 = 2·minrank + ties − 1), every moment is an exact
    * integer sum weighted by cell counts, and the final combination runs
    * in DECIMAL(38,0) (HUGEINT on the oracle side) so no engine's
    * aggregation order can perturb a bit before the single r6-snapped
    * division.
    */
  def q156(s: SparkSession, d: String): DataFrame = {
    // localCheckpoint: the cell table (≤550 rows) feeds three consumers
    // (both rank distributions + the moment join); without it each
    // consumer re-scans and re-aggregates the full fact table
    val cells = Tables
      .lineitem(s, d)
      .groupBy(col("l_returnflag").as("flag"), col("l_quantity").as("qty"), col("l_discount").as("disc"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    def ranks(dim: String, out: String): DataFrame = {
      val w = Window
        .partitionBy(col("flag"))
        .orderBy(col(dim))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells
        .groupBy(col("flag"), col(dim))
        .agg(sum(col("c")).as("cn"))
        .withColumn("cum", sum(col("cn")).over(w))
        .select(col("flag"), col(dim), (lit(2) * col("cum") - col("cn") + lit(1)).as(out))
    }
    val xr = ranks("qty", "ar2x")
    val yr = ranks("disc", "ar2y")
    val dec = "decimal(38,0)"
    val m = cells
      .join(broadcast(xr), Seq("flag", "qty"))
      .join(broadcast(yr), Seq("flag", "disc"))
      .groupBy(col("flag"))
      .agg(
        sum(col("c")).as("n"),
        sum(col("c") * col("ar2x")).as("sx"),
        sum(col("c") * col("ar2y")).as("sy"),
        sum(col("c") * col("ar2x") * col("ar2x")).as("sxx"),
        sum(col("c") * col("ar2y") * col("ar2y")).as("syy"),
        sum(col("c") * col("ar2x") * col("ar2y")).as("sxy"))
    m.select(
        col("flag").as("l_returnflag"),
        col("n"),
        Det
          .r6(
            (col("n").cast(dec) * col("sxy").cast(dec) - col("sx").cast(dec) * col("sy").cast(dec))
              .cast("double") /
              (sqrt((col("n").cast(dec) * col("sxx").cast(dec) - col("sx").cast(dec) * col("sx").cast(dec)).cast("double")) *
                sqrt((col("n").cast(dec) * col("syy").cast(dec) - col("sy").cast(dec) * col("sy").cast(dec)).cast("double"))))
          .as("spearman_rho"))
      .orderBy(col("l_returnflag"))
  }

  val q156Sql: String = {
    val num = "CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy"
    val dx = "CAST(n AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx"
    val dy = "CAST(n AS HUGEINT)*syy - CAST(sy AS HUGEINT)*sy"
    s"""WITH cells AS (
       |  SELECT l_returnflag AS flag, l_quantity AS qty, l_discount AS disc, count(*) AS c
       |  FROM lineitem GROUP BY 1, 2, 3),
       |xr AS (
       |  SELECT flag, qty, 2*cum - cn + 1 AS ar2x FROM (
       |    SELECT flag, qty, cn,
       |      sum(cn) OVER (PARTITION BY flag ORDER BY qty
       |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |    FROM (SELECT flag, qty, sum(c) AS cn FROM cells GROUP BY 1, 2) g) z),
       |yr AS (
       |  SELECT flag, disc, 2*cum - cn + 1 AS ar2y FROM (
       |    SELECT flag, disc, cn,
       |      sum(cn) OVER (PARTITION BY flag ORDER BY disc
       |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |    FROM (SELECT flag, disc, sum(c) AS cn FROM cells GROUP BY 1, 2) g) z),
       |m AS (
       |  SELECT cells.flag, sum(c) AS n,
       |    sum(c*ar2x) AS sx, sum(c*ar2y) AS sy,
       |    sum(c*ar2x*ar2x) AS sxx, sum(c*ar2y*ar2y) AS syy,
       |    sum(c*ar2x*ar2y) AS sxy
       |  FROM cells
       |  JOIN xr ON cells.flag = xr.flag AND cells.qty = xr.qty
       |  JOIN yr ON cells.flag = yr.flag AND cells.disc = yr.disc
       |  GROUP BY cells.flag)
       |SELECT flag AS l_returnflag, CAST(n AS BIGINT) AS n,
       |  ${Det.sqlR(s"CAST($num AS DOUBLE) / (sqrt(CAST($dx AS DOUBLE)) * sqrt(CAST($dy AS DOUBLE)))", 6)} AS spearman_rho
       |FROM m ORDER BY l_returnflag""".stripMargin
  }

  // -- q157: CUSUM changepoint detection --------------------------------

  /** Upward CUSUM drift detection on daily event counts per type. The
    * textbook recursion s_t = max(0, s_{t-1} + (x_t − μ − k)) is
    * inherently sequential; the engine uses its closed form
    * s_t = prefix_t − min(0, min_{j≤t} prefix_j) — a prefix sum plus a
    * running min, two windows inside one hash partitioning by series.
    * All state is integer: deviations are cross-multiplied by 10·D
    * (slack k = μ/10), so dev = 10·D·n_t − 11·N exactly, and the alarm
    * threshold h = 2μ compares s > 20·N without ever forming a mean.
    * Per-series windows hash-partition by event_type; no global sort.
    */
  def q157(s: SparkSession, d: String): DataFrame = {
    val daily = Tables
      .events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val wAll = Window.partitionBy(col("event_type"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val stats = daily
      .withColumn("dd", count(lit(1)).over(wAll))
      .withColumn("nn", sum(col("n")).over(wAll))
      .withColumn("dev", lit(10) * col("dd") * col("n") - lit(11) * col("nn"))
      .withColumn("prefix", sum(col("dev")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("runmin", min(col("prefix")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cusum", col("prefix") - least(lit(0L), col("runmin")))
    stats
      .select(
        col("event_type"),
        col("day"),
        col("n"),
        col("cusum"),
        (col("cusum") > lit(20) * col("nn")).as("drift"))
      .orderBy(col("event_type"), col("day"))
  }

  val q157Sql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |st AS (
      |  SELECT event_type, day, n,
      |    count(*) OVER (PARTITION BY event_type) AS dd,
      |    sum(n) OVER (PARTITION BY event_type) AS nn
      |  FROM daily),
      |px AS (
      |  SELECT event_type, day, n, nn,
      |    sum(10*dd*n - 11*nn) OVER (PARTITION BY event_type ORDER BY day
      |                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix
      |  FROM st),
      |pf AS (
      |  SELECT event_type, day, n, nn, prefix,
      |    min(prefix) OVER (PARTITION BY event_type ORDER BY day
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmin
      |  FROM px)
      |SELECT event_type, day, n,
      |  CAST(prefix - least(0, runmin) AS BIGINT) AS cusum,
      |  (prefix - least(0, runmin)) > 20*nn AS drift
      |FROM pf ORDER BY event_type, day""".stripMargin

  // -- q158: HLL set algebra (audience overlap) -------------------------

  private val hllM = 256
  private val hllAlphaM2 = 0.7213 / (1 + 1.079 / hllM) * hllM * hllM
  private val two53 = 9007199254740992L // 2^53

  /** The q48 HLL estimate (raw + linear-counting branch) from register
    * summary columns — all inputs are exact integers, so the double is a
    * deterministic function on both engines.
    */
  private def hllEst(nz: Column, sp: Column): Column = {
    val raw = lit(hllAlphaM2) /
      ((sp + (lit(hllM.toLong) - nz) * lit(two53)).cast("double") / lit(two53.toDouble))
    when(
      raw <= lit(2.5 * hllM) && nz < lit(hllM.toLong),
      lit(hllM.toDouble) * log(lit(hllM.toDouble) / (lit(hllM.toLong) - nz)))
      .otherwise(raw)
  }

  private def hllEstSql(nz: String, sp: String): String = {
    val raw = s"$hllAlphaM2 / (CAST($sp + (256 - $nz) * 9007199254740992 AS DOUBLE) / 9007199254740992.0)"
    s"CASE WHEN $raw <= 640.0 AND $nz < 256 THEN 256.0 * ln(256.0 / (256 - $nz)) ELSE $raw END"
  }

  /** Audience overlap between every pair of event types via HLL set
    * algebra: per-type register vectors (the q48 sketch on user_id), a
    * UNION sketch per pair by register max-merge, and
    * |A∩B| ≈ |A| + |B| − |A∪B| by inclusion-exclusion. This is the
    * mergeable-sketch payoff at 100 TB: the pairwise overlap matrix is
    * computed entirely on 256-register summaries (map-side combinable,
    * 2 KB per type), never re-scanning or re-shuffling raw ids — where
    * exact pairwise overlap would be a distinct-shuffle per pair.
    * Register math is integer end-to-end (md5 hex-string rho, max-merge,
    * integer register sums); estimates are r4-snapped before the
    * inclusion-exclusion arithmetic so cross-engine doubles agree.
    */
  def q158(s: SparkSession, d: String): DataFrame = {
    val hex = md5(col("user_id").cast("string"))
    val stripped = ltrim(substring(hex, 1, 13), "0")
    val firstDigit = substring(stripped, 1, 1)
    val bits = when(firstDigit.isin("8", "9", "a", "b", "c", "d", "e", "f"), 4)
      .when(firstDigit.isin("4", "5", "6", "7"), 3)
      .when(firstDigit.isin("2", "3"), 2)
      .otherwise(1)
    val rho = when(length(stripped) === 0, lit(53))
      .otherwise(lit(4) * (lit(13) - length(stripped)) + (lit(4) - bits) + lit(1))
    // localCheckpoint: the register table (≤256 rows/type) feeds three
    // consumers (per-type estimates, the type list, union registers) —
    // without it each re-scans and re-aggregates the raw events
    val regs = Tables
      .events(s, d)
      .select(
        col("event_type"),
        conv(substring(hex, 14, 2), 16, 10).cast("int").as("bucket"),
        rho.as("rho"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(max(col("rho")).as("r"))
      .localCheckpoint()
    def grp(df: DataFrame, keys: Column*): DataFrame =
      df.groupBy(keys: _*)
        .agg(
          count(lit(1)).as("nz"),
          sum(expr("CAST(power(2.0, 53 - r) AS BIGINT)")).as("sp"))
    val perType = grp(regs, col("event_type"))
      .select(col("event_type"), Det.r4(hllEst(col("nz"), col("sp"))).as("est"))
    val types = regs.select(col("event_type")).distinct()
    val pairs = types
      .select(col("event_type").as("type_a"))
      .crossJoin(types.select(col("event_type").as("type_b")))
      .filter(col("type_a") < col("type_b"))
    val unionRegs = regs
      .join(broadcast(pairs), col("event_type") === col("type_a") || col("event_type") === col("type_b"))
      .groupBy(col("type_a"), col("type_b"), col("bucket"))
      .agg(max(col("r")).as("r"))
    val unionEst = grp(unionRegs, col("type_a"), col("type_b"))
      .select(col("type_a"), col("type_b"), Det.r4(hllEst(col("nz"), col("sp"))).as("est_union"))
    unionEst
      .join(broadcast(perType.select(col("event_type").as("type_a"), col("est").as("est_a"))), Seq("type_a"))
      .join(broadcast(perType.select(col("event_type").as("type_b"), col("est").as("est_b"))), Seq("type_b"))
      .select(
        col("type_a"),
        col("type_b"),
        col("est_a"),
        col("est_b"),
        col("est_union"),
        Det.r4(greatest(lit(0.0), col("est_a") + col("est_b") - col("est_union"))).as("est_inter"),
        Det
          .r6(greatest(lit(0.0), col("est_a") + col("est_b") - col("est_union")) / col("est_union"))
          .as("est_jaccard"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val q158Sql: String = {
    val hex = "md5(CAST(user_id AS VARCHAR))"
    s"""WITH rows_h AS (
       |  SELECT event_type,
       |    CAST(('0x' || substr($hex, 14, 2)) AS BIGINT) AS bucket,
       |    ltrim(substr($hex, 1, 13), '0') AS stripped
       |  FROM events),
       |regs AS (
       |  SELECT event_type, bucket,
       |    max(CASE WHEN length(stripped) = 0 THEN 53
       |        ELSE 4 * (13 - length(stripped))
       |          + (4 - (CASE WHEN substr(stripped, 1, 1) IN ('8','9','a','b','c','d','e','f') THEN 4
       |                       WHEN substr(stripped, 1, 1) IN ('4','5','6','7') THEN 3
       |                       WHEN substr(stripped, 1, 1) IN ('2','3') THEN 2
       |                       ELSE 1 END)) + 1 END) AS r
       |  FROM rows_h GROUP BY 1, 2),
       |per_type AS (
       |  SELECT event_type, ${Det.sqlR(hllEstSql("nz", "sp"), 4)} AS est
       |  FROM (SELECT event_type, count(*) AS nz,
       |          sum(CAST(power(2.0, 53 - r) AS BIGINT)) AS sp
       |        FROM regs GROUP BY 1) g),
       |pairs AS (
       |  SELECT a.event_type AS type_a, b.event_type AS type_b
       |  FROM (SELECT DISTINCT event_type FROM regs) a,
       |       (SELECT DISTINCT event_type FROM regs) b
       |  WHERE a.event_type < b.event_type),
       |union_regs AS (
       |  SELECT p.type_a, p.type_b, r.bucket, max(r.r) AS r
       |  FROM regs r JOIN pairs p
       |    ON r.event_type = p.type_a OR r.event_type = p.type_b
       |  GROUP BY 1, 2, 3),
       |union_est AS (
       |  SELECT type_a, type_b, ${Det.sqlR(hllEstSql("nz", "sp"), 4)} AS est_union
       |  FROM (SELECT type_a, type_b, count(*) AS nz,
       |          sum(CAST(power(2.0, 53 - r) AS BIGINT)) AS sp
       |        FROM union_regs GROUP BY 1, 2) g)
       |SELECT u.type_a, u.type_b, a.est AS est_a, b.est AS est_b, u.est_union,
       |  ${Det.sqlR("greatest(0.0, a.est + b.est - u.est_union)", 4)} AS est_inter,
       |  ${Det.sqlR("greatest(0.0, a.est + b.est - u.est_union) / u.est_union", 6)} AS est_jaccard
       |FROM union_est u
       |JOIN per_type a ON a.event_type = u.type_a
       |JOIN per_type b ON b.event_type = u.type_b
       |ORDER BY u.type_a, u.type_b""".stripMargin
  }

  // -- q159: deterministic Poisson bootstrap ----------------------------

  /** Bootstrap confidence band for mean event value per type, without
    * randomness or resampling shuffles: replica b weights each row by a
    * Poisson(1) draw read off a 60-bit md5 hash of (event_id, b) against
    * precomputed inverse-CDF thresholds — the online-bootstrap trick
    * (Poisson(1) ≈ multinomial resampling), so each replica is one
    * map-side-combinable weighted aggregation and rows are never
    * materialized per-resample. Values ride in integer micro-units;
    * replica means are snapped to integer micro-units (one deterministic
    * double division each), so the cross-replica aggregation (sum, min,
    * max over 16 integers) is order-proof on both engines.
    */
  def q159(s: SparkSession, d: String): DataFrame = {
    val b = 16
    // cumulative Poisson(1) CDF thresholds scaled to 2^60, spliced as the
    // SAME Long literals into both engines
    val cum = List(1.0, 2.0, 2.5, 8.0 / 3.0, 65.0 / 24.0).map(_ * math.exp(-1.0))
    val thr = cum.map(c => math.floor(c * math.pow(2.0, 60)).toLong)
    val u = graft.functions.Text.hash60(
      concat(col("event_id").cast("string"), lit("_"), col("b").cast("string")))
    val w = when(u < lit(thr(0)), 0L)
      .when(u < lit(thr(1)), 1L)
      .when(u < lit(thr(2)), 2L)
      .when(u < lit(thr(3)), 3L)
      .when(u < lit(thr(4)), 4L)
      .otherwise(5L)
    val reps = Tables
      .events(s, d)
      .select(
        col("event_type"),
        col("event_id"),
        floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long").as("vu"))
      .withColumn("b", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("w", w)
      .groupBy(col("event_type"), col("b"))
      .agg(sum(col("w")).as("sw"), sum(col("w") * col("vu")).as("swv"), count(lit(1)).as("cnt"))
      .select(
        col("event_type"),
        col("cnt"),
        when(col("sw") === 0, 0L)
          .otherwise(floor(col("swv").cast("double") / col("sw").cast("double") + lit(0.5)).cast("long"))
          .as("rmu"))
    reps
      .groupBy(col("event_type"))
      .agg(max(col("cnt")).as("n_events"), sum(col("rmu")).as("srm"), min(col("rmu")).as("lo"), max(col("rmu")).as("hi"))
      .select(
        col("event_type"),
        col("n_events"),
        Det.r6(col("srm").cast("double") / lit(16.0) / lit(1000000.0)).as("boot_mean"),
        Det.r6(col("lo").cast("double") / lit(1000000.0)).as("boot_lo"),
        Det.r6(col("hi").cast("double") / lit(1000000.0)).as("boot_hi"))
      .orderBy(col("event_type"))
  }

  val q159Sql: String = {
    val cum = List(1.0, 2.0, 2.5, 8.0 / 3.0, 65.0 / 24.0).map(_ * math.exp(-1.0))
    val thr = cum.map(c => math.floor(c * math.pow(2.0, 60)).toLong)
    val h = graft.functions.Text.sqlHash60("CAST(event_id AS VARCHAR) || '_' || CAST(t.b AS VARCHAR)")
    s"""WITH reps AS (
       |  SELECT event_type, b, sum(w) AS sw, sum(w*vu) AS swv, count(*) AS cnt
       |  FROM (
       |    SELECT e.event_type, t.b,
       |      CASE WHEN $h < ${thr(0)} THEN 0
       |           WHEN $h < ${thr(1)} THEN 1
       |           WHEN $h < ${thr(2)} THEN 2
       |           WHEN $h < ${thr(3)} THEN 3
       |           WHEN $h < ${thr(4)} THEN 4
       |           ELSE 5 END AS w,
       |      CAST(floor(e.value * 1000000.0 + 0.5) AS BIGINT) AS vu
       |    FROM events e, LATERAL (SELECT unnest(range(0, 16)) AS b) t) z
       |  GROUP BY 1, 2),
       |rm AS (
       |  SELECT event_type, cnt,
       |    CASE WHEN sw = 0 THEN 0
       |         ELSE CAST(floor(CAST(swv AS DOUBLE) / CAST(sw AS DOUBLE) + 0.5) AS BIGINT) END AS rmu
       |  FROM reps)
       |SELECT event_type, CAST(max(cnt) AS BIGINT) AS n_events,
       |  ${Det.sqlR("CAST(sum(rmu) AS DOUBLE) / 16.0 / 1000000.0", 6)} AS boot_mean,
       |  ${Det.sqlR("CAST(min(rmu) AS DOUBLE) / 1000000.0", 6)} AS boot_lo,
       |  ${Det.sqlR("CAST(max(rmu) AS DOUBLE) / 1000000.0", 6)} AS boot_hi
       |FROM rm GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // -- q160: runtime bloom-filter join ---------------------------------

  /** Shuffle join with a RUNTIME row-level filter: Catalyst's
    * InjectRuntimeFilter builds a bloom filter over the filtered orders
    * side and pushes `might_contain(xxhash64(l_orderkey))` into the
    * lineitem scan — rows that can't join are dropped at the scan, BEFORE
    * the shuffle. At 100 TB this is the difference between shuffling the
    * full fact table and shuffling the ~20% that survives a selective dim
    * filter, without bucketing or manual semi-join staging. Runs in a
    * child session (isolated SQLConf): broadcast is disabled to force the
    * shuffle-join shape the filter targets, and the injection thresholds
    * are opened up (the 10 GB application-side default exists to skip
    * tiny scans — at bench scale nothing reaches it). Plan-asserted in
    * FrontierSpec; results are conf-independent (the oracle is the plain
    * join).
    */
  def q160(s: SparkSession, d: String): DataFrame = {
    val ns = s.newSession()
    graft.core.GraftSession.tune(ns)
    ns.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    ns.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    ns.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    ns.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    ns.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    // raw scans (no spread-Repartition): InjectRuntimeFilter's lineage walk
    // traverses Project/Filter/Join only — a Repartition between the join
    // key and the scan silently disables injection. At real scale the
    // spread is a structural no-op anyway (Tables.spread scaladoc).
    val o = Tables
      .table(ns, d, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val l = Tables.table(ns, d, "lineitem")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        Det.r2(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("l_returnflag"))
  }

  val q160Sql: String =
    s"""SELECT l_returnflag,
       |  ${Det.sqlR("sum(l_extendedprice * (1.0 - l_discount))", 2)} AS revenue,
       |  count(*) AS n_items
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE o_orderpriority = '1-URGENT'
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // -- q161: native Generator UDTF (hour-of-day attribution) ------------

  /** Hour-of-day time attribution through the native
    * `graft_hour_split` Generator ([[graft.plans.HourSplitGenerator]]):
    * each event opens a 10-minute activity interval; the generator
    * splits it at hour boundaries inside the executor pipeline (a true
    * UDTF — a `Generate` node, no intermediate arrays), and the rollup
    * attributes exact integer microseconds of activity to each
    * (event_type, hour-of-day) cell. One generate + one hash agg; the
    * fan-out is bounded (an interval touches ≤ 2 hours), so the shuffle
    * grows by at most 2× the input — never materializing per-hour rows
    * driver-side.
    */
  def q161(s: SparkSession, d: String): DataFrame =
    Tables
      .events(s, d)
      .select(
        col("event_type"),
        unix_micros(col("ts")).as("s0"),
        (unix_micros(col("ts")) + lit(600000000L)).as("e0"))
      .select(col("event_type"), expr("graft_hour_split(s0, e0)"))
      .groupBy(col("event_type"), expr("(hour_us div 3600000000) % 24").cast("long").as("hour_of_day"))
      .agg(sum(col("overlap_us")).as("covered_us"), count(lit(1)).as("n_segments"))
      .orderBy(col("event_type"), col("hour_of_day"))

  val q161Sql: String =
    """WITH seg AS (
      |  SELECT e.event_type, h.h AS hour_idx,
      |    least(epoch_us(e.ts) + 600000000, (h.h + 1) * 3600000000)
      |      - greatest(epoch_us(e.ts), h.h * 3600000000) AS overlap_us
      |  FROM events e, LATERAL (
      |    SELECT unnest(range(epoch_us(e.ts) // 3600000000,
      |                        (epoch_us(e.ts) + 600000000 - 1) // 3600000000 + 1)) AS h) h)
      |SELECT event_type, CAST(hour_idx % 24 AS BIGINT) AS hour_of_day,
      |  CAST(sum(overlap_us) AS BIGINT) AS covered_us, count(*) AS n_segments
      |FROM seg GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -- q162: largest-triangle downsampling (LTOB) -----------------------

  /** Visualization downsampling à la LTTB (the Grafana/TSDB standard),
    * in its bucket-independent LTOB form: per fixed-size bucket, keep
    * the point forming the largest triangle against the NEIGHBOR BUCKET
    * MEANS (LTTB proper anchors on the previously selected point — a
    * sequential dependency that can't distribute; anchoring on bucket
    * means keeps the shape-preserving behavior and makes every bucket
    * independent). First/last buckets pin the series endpoints, like
    * LTTB. Scale shape: one rank window inside the per-series hash
    * partitioning, one tiny per-bucket aggregate joined back by (b±1) —
    * no cross-bucket data movement. Areas are doubles derived from exact
    * integer sums, r6-snapped BEFORE the argmax so cross-engine
    * tie-breaks agree.
    */
  def q162(s: SparkSession, d: String): DataFrame = {
    val bsz = 100
    val pts = Tables
      .events(s, d)
      .select(
        col("event_type"),
        unix_micros(col("ts")).as("t"),
        floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long").as("vu"))
      .withColumn(
        "rn",
        row_number().over(Window.partitionBy(col("event_type")).orderBy(col("t"), col("vu"))))
      .withColumn("b", ((col("rn") - 1) / lit(bsz)).cast("long"))
      // localCheckpoint: the ranked frame feeds both the bucket means and
      // the selection join — without it the per-series rank sort runs twice
      .localCheckpoint()
    val bm = pts
      .groupBy(col("event_type"), col("b"))
      .agg(sum(col("t")).as("st"), sum(col("vu")).as("sv"), count(lit(1)).as("n"))
      .select(
        col("event_type"),
        col("b"),
        // mean time in SECONDS: keeps triangle areas ~1e7, safely inside
        // Det.r6's floor(x*1e6+0.5) BIGINT range (µs-scale areas overflow
        // Spark's integral floor() where DuckDB's floor stays double)
        (col("st").cast("double") / col("n") / lit(1000000.0)).as("mt"),
        (col("sv").cast("double") / col("n") / lit(1000000.0)).as("mv"))
    val withNbrs = pts
      .join(
        broadcast(bm.select(col("event_type"), (col("b") + 1).as("b"), col("mt").as("pt"), col("mv").as("pv"))),
        Seq("event_type", "b"),
        "left")
      .join(
        broadcast(bm.select(col("event_type"), (col("b") - 1).as("b"), col("mt").as("nt"), col("mv").as("nv"))),
        Seq("event_type", "b"),
        "left")
    val v = col("vu").cast("double") / lit(1000000.0)
    val tSec = col("t").cast("double") / lit(1000000.0)
    val area = Det.r6(
      abs(
        (col("pt") - col("nt")) * (v - col("pv")) -
          (col("pt") - tSec) * (col("nv") - col("pv"))) / lit(2.0))
    val sel = withNbrs
      .withColumn("maxb", max(col("b")).over(Window.partitionBy(col("event_type"))))
      .withColumn("area", when(col("pt").isNull || col("nt").isNull, lit(null)).otherwise(area))
      .withColumn(
        "pick",
        row_number().over(
          Window
            .partitionBy(col("event_type"), col("b"))
            .orderBy(
              when(col("b") === 0, col("rn")) // first bucket: first point
                .when(col("b") === col("maxb"), -col("rn")) // last bucket: last point
                .otherwise(-col("area")),
              col("t"),
              col("vu"))))
      .filter(col("pick") === 1)
    sel
      .select(col("event_type"), col("t").as("ts_us"), Det.r6(v).as("v"))
      .orderBy(col("event_type"), col("ts_us"))
  }

  val q162Sql: String = {
    val area = Det.sqlR(
      "abs((pt - nt) * (CAST(vu AS DOUBLE)/1000000.0 - pv) - (pt - CAST(t AS DOUBLE)/1000000.0) * (nv - pv)) / 2.0",
      6)
    s"""WITH pts AS (
       |  SELECT event_type, epoch_us(ts) AS t,
       |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vu,
       |    row_number() OVER (PARTITION BY event_type ORDER BY epoch_us(ts),
       |                       CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS rn
       |  FROM events),
       |pb AS (SELECT *, CAST((rn - 1) // 100 AS BIGINT) AS b FROM pts),
       |bm AS (
       |  SELECT event_type, b,
       |    CAST(sum(t) AS DOUBLE) / count(*) / 1000000.0 AS mt,
       |    CAST(sum(vu) AS DOUBLE) / count(*) / 1000000.0 AS mv
       |  FROM pb GROUP BY 1, 2),
       |nb AS (
       |  SELECT p.*, pm.mt AS pt, pm.mv AS pv, nm.mt AS nt, nm.mv AS nv,
       |    max(p.b) OVER (PARTITION BY p.event_type) AS maxb
       |  FROM pb p
       |  LEFT JOIN bm pm ON pm.event_type = p.event_type AND pm.b = p.b - 1
       |  LEFT JOIN bm nm ON nm.event_type = p.event_type AND nm.b = p.b + 1),
       |ar AS (
       |  SELECT *, CASE WHEN pt IS NULL OR nt IS NULL THEN NULL ELSE $area END AS area
       |  FROM nb),
       |sel AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY event_type, b
       |    ORDER BY CASE WHEN b = 0 THEN rn
       |                  WHEN b = maxb THEN -rn
       |                  ELSE -area END, t, vu) AS pick
       |  FROM ar)
       |SELECT event_type, t AS ts_us, ${Det.sqlR("CAST(vu AS DOUBLE)/1000000.0", 6)} AS v
       |FROM sel WHERE pick = 1 ORDER BY event_type, ts_us""".stripMargin
  }

  // -- q163: counter increase with reset handling (PromQL semantics) ----

  /** PromQL-style `increase()` over a counter that can reset: the daily
    * increase of a per-user cumulative counter is Σ max(0, x_t − x_{t−1})
    * — negative deltas mean the counter reset and contribute the new
    * value, per Prometheus convention x_t (we count from 0 at reset:
    * contribution = x_t). Implemented as one lag window inside the
    * per-series hash partitioning + a day rollup; all arithmetic in
    * integer micro-units. This is the TSDB ingestion-side primitive the
    * reference's time-series intent implies (monotone gauges with agent
    * restarts).
    */
  def q163(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("t"), col("vu"))
    Tables
      .events(s, d)
      .select(
        col("event_type"),
        unix_micros(col("ts")).as("t"),
        floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long").as("vu"))
      .withColumn("prev", lag(col("vu"), 1).over(w))
      .withColumn(
        "inc",
        when(col("prev").isNull, lit(0L))
          .when(col("vu") >= col("prev"), col("vu") - col("prev"))
          .otherwise(col("vu")))
      .withColumn("reset", (col("prev").isNotNull && col("vu") < col("prev")).cast("long"))
      .groupBy(col("event_type"), to_date(timestamp_micros(col("t"))).as("day"))
      .agg(sum(col("inc")).as("increase_u"), sum(col("reset")).as("n_resets"), count(lit(1)).as("n_samples"))
      .orderBy(col("event_type"), col("day"))
  }

  val q163Sql: String =
    """WITH pts AS (
      |  SELECT event_type, epoch_us(ts) AS t,
      |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vu
      |  FROM events),
      |lg AS (
      |  SELECT event_type, t, vu,
      |    lag(vu) OVER (PARTITION BY event_type ORDER BY t, vu) AS prev
      |  FROM pts)
      |SELECT event_type, CAST(make_timestamp(t) AS DATE) AS day,
      |  CAST(sum(CASE WHEN prev IS NULL THEN 0
      |           WHEN vu >= prev THEN vu - prev
      |           ELSE vu END) AS BIGINT) AS increase_u,
      |  CAST(sum(CASE WHEN prev IS NOT NULL AND vu < prev THEN 1 ELSE 0 END) AS BIGINT) AS n_resets,
      |  count(*) AS n_samples
      |FROM lg GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -- q164: histogram_quantile over cumulative buckets -----------------

  /** PromQL `histogram_quantile`: quantiles estimated from cumulative
    * le-bucket counters with linear interpolation inside the chosen
    * bucket. The bucketing is ONE bounded hash agg (the only pass over
    * the data — the quantile math then runs on ≤10 rows per series);
    * this is how a TSDB answers p99 over billions of samples without a
    * sort. Bucket choice uses exact integer comparisons
    * (k·cum ≥ q·k·total in integers), interpolation is a deterministic
    * double from integer counts, r6-snapped. The +inf bucket degrades to
    * the highest finite bound, per Prometheus convention.
    */
  def q164(s: SparkSession, d: String): DataFrame = {
    val bounds = List(1.0, 2.0, 5.0, 10.0, 20.0, 50.0, 100.0, 200.0, 500.0)
    val le = bounds.foldRight(lit(Double.PositiveInfinity)) { (b, acc) =>
      when(col("value") <= b, lit(b)).otherwise(acc)
    }
    val counts = Tables
      .events(s, d)
      .select(col("event_type"), le.as("le"))
      .groupBy(col("event_type"), col("le"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window
      .partitionBy(col("event_type"))
      .orderBy(col("le"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("total", sum(col("c")).over(Window.partitionBy(col("event_type"))))
      .withColumn("lo", coalesce(lag(col("le"), 1).over(Window.partitionBy(col("event_type")).orderBy(col("le"))), lit(0.0)))
      .withColumn("cum_prev", coalesce(lag(col("cum"), 1).over(Window.partitionBy(col("event_type")).orderBy(col("le"))), lit(0L)))
      // localCheckpoint: ≤10 bucket rows per series feed one filter per
      // requested quantile — without it each quantile re-scans the data
      .localCheckpoint()
    // q in {50, 90, 99} as integer percents: pick the first bucket where
    // 100*cum >= q*total, all integers
    val qs = Seq(50, 90, 99)
    val perQ = qs.map { q =>
      val hit = cum
        .filter(lit(100L) * col("cum") >= lit(q.toLong) * col("total"))
        .withColumn(
          "pick",
          row_number().over(Window.partitionBy(col("event_type")).orderBy(col("le"))))
        .filter(col("pick") === 1)
      hit.select(
        col("event_type"),
        lit(q).cast("long").as("q_pct"),
        Det
          .r6(
            when(col("le") === Double.PositiveInfinity, lit(500.0)).otherwise(
              col("lo") + (col("le") - col("lo")) *
                ((lit(q.toLong) * col("total")).cast("double") / lit(100.0) - col("cum_prev").cast("double")) /
                col("c").cast("double")))
          .as("quantile"))
    }
    perQ.reduce(_.unionByName(_)).orderBy(col("event_type"), col("q_pct"))
  }

  val q164Sql: String = {
    val interp = Det.sqlR(
      "CASE WHEN isinf(le) THEN 500.0 ELSE lo + (le - lo) * (CAST(q_pct * total AS DOUBLE)/100.0 - CAST(cum_prev AS DOUBLE)) / CAST(c AS DOUBLE) END",
      6)
    s"""WITH b AS (
       |  SELECT event_type,
       |    CASE WHEN value <= 1 THEN 1.0 WHEN value <= 2 THEN 2.0 WHEN value <= 5 THEN 5.0
       |         WHEN value <= 10 THEN 10.0 WHEN value <= 20 THEN 20.0 WHEN value <= 50 THEN 50.0
       |         WHEN value <= 100 THEN 100.0 WHEN value <= 200 THEN 200.0 WHEN value <= 500 THEN 500.0
       |         ELSE CAST('inf' AS DOUBLE) END AS le
       |  FROM events),
       |counts AS (SELECT event_type, le, count(*) AS c FROM b GROUP BY 1, 2),
       |cm AS (
       |  SELECT event_type, le, c,
       |    sum(c) OVER (PARTITION BY event_type ORDER BY le
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(c) OVER (PARTITION BY event_type) AS total
       |  FROM counts),
       |cum AS (
       |  SELECT event_type, le, c, cum, total,
       |    coalesce(lag(le) OVER (PARTITION BY event_type ORDER BY le), 0.0) AS lo,
       |    coalesce(lag(cum) OVER (PARTITION BY event_type ORDER BY le), 0) AS cum_prev
       |  FROM cm),
       |qq AS (SELECT unnest([50, 90, 99]) AS q_pct),
       |hit AS (
       |  SELECT event_type, q_pct, le, c, cum, total, lo, cum_prev,
       |    row_number() OVER (PARTITION BY event_type, q_pct ORDER BY le) AS pick
       |  FROM cum, qq WHERE 100 * cum >= q_pct * total)
       |SELECT event_type, CAST(q_pct AS BIGINT) AS q_pct, $interp AS quantile
       |FROM hit WHERE pick = 1 ORDER BY event_type, q_pct""".stripMargin
  }

  // -- q165: ANN recall evaluation --------------------------------------

  /** Index-quality monitoring: recall@10 of the LSH ANN ranking (q34)
    * against the exact ranking (q32), per query — the evaluation loop
    * every production ANN deployment runs continuously. Composes the two
    * verified queries verbatim (no drift) and adds one tiny-frame join;
    * at scale both sides are top-k lists (k rows per query), so the
    * recall join is k·|queries| rows regardless of corpus size.
    */
  def q165(s: SparkSession, d: String): DataFrame = {
    val exact = VectorQueries.q32(s, d).select(col("qid"), col("vec_id"))
    val approx = VectorQueries.q34(s, d).select(col("qid"), col("vec_id"))
    exact
      .join(approx, Seq("qid", "vec_id"), "left_semi")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_hit"))
      .select(col("qid"), col("n_hit"), Det.r4(col("n_hit").cast("double") / lit(10.0)).as("recall_at_10"))
      .orderBy(col("qid"))
  }

  val q165Sql: String = {
    def derived(sql: String) = "(" + sql.replace("\n", "\n  ") + ")"
    s"""WITH a AS (SELECT qid, vec_id FROM ${derived(VectorQueries.q32Sql)} za),
       |b AS (SELECT qid, vec_id FROM ${derived(VectorQueries.q34Sql)} zb)
       |SELECT a.qid, count(*) AS n_hit,
       |  ${Det.sqlR("CAST(count(*) AS DOUBLE) / 10.0", 4)} AS recall_at_10
       |FROM a WHERE EXISTS (SELECT 1 FROM b WHERE b.qid = a.qid AND b.vec_id = a.vec_id)
       |GROUP BY a.qid ORDER BY a.qid""".stripMargin
  }

  // -- q166: A/B two-proportion z-test ----------------------------------

  /** Experiment analysis: users split into variants by id parity,
    * conversion = any HIGH-VALUE purchase (> 480 — plain "any purchase"
    * saturates to p = 1 on a 30-day window and the z denominator
    * vanishes; the degenerate all-or-none case is additionally
    * null-guarded identically on both engines). All counts are exact
    * integers from one user-grain aggregation (map-side combinable); the
    * z arithmetic is a deterministic function of four integers,
    * r6-snapped. The significance flag compares the SNAPPED z so both
    * engines branch on the same double.
    */
  def q166(s: SparkSession, d: String): DataFrame = {
    val users = Tables
      .events(s, d)
      .groupBy(col("user_id"))
      .agg(
        max(when(col("event_type") === "purchase" && col("value") > 480.0, 1L).otherwise(0L))
          .as("converted"))
      .withColumn("variant", (col("user_id") % 2).cast("long"))
    val m = users
      .groupBy(col("variant"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("conv"))
    val wide = m
      .groupBy()
      .agg(
        sum(when(col("variant") === 0, col("n"))).as("n0"),
        sum(when(col("variant") === 0, col("conv"))).as("c0"),
        sum(when(col("variant") === 1, col("n"))).as("n1"),
        sum(when(col("variant") === 1, col("conv"))).as("c1"))
    val p0 = col("c0").cast("double") / col("n0").cast("double")
    val p1 = col("c1").cast("double") / col("n1").cast("double")
    val pPool = (col("c0") + col("c1")).cast("double") / (col("n0") + col("n1")).cast("double")
    val z = when(col("c0") + col("c1") === 0 || col("c0") + col("c1") === col("n0") + col("n1"), lit(null))
      .otherwise(
        (p1 - p0) /
          sqrt(pPool * (lit(1.0) - pPool) * (lit(1.0) / col("n0").cast("double") + lit(1.0) / col("n1").cast("double"))))
    wide.select(
      col("n0"),
      col("c0"),
      col("n1"),
      col("c1"),
      Det.r6(p0).as("rate0"),
      Det.r6(p1).as("rate1"),
      Det.r6(z).as("z"),
      (abs(Det.r6(z)) > lit(1.959964)).as("significant"))
  }

  val q166Sql: String = {
    val p0 = "CAST(c0 AS DOUBLE)/CAST(n0 AS DOUBLE)"
    val p1 = "CAST(c1 AS DOUBLE)/CAST(n1 AS DOUBLE)"
    val pp = "CAST(c0+c1 AS DOUBLE)/CAST(n0+n1 AS DOUBLE)"
    val z = s"CASE WHEN c0+c1 = 0 OR c0+c1 = n0+n1 THEN NULL ELSE (($p1) - ($p0)) / sqrt(($pp) * (1.0 - ($pp)) * (1.0/CAST(n0 AS DOUBLE) + 1.0/CAST(n1 AS DOUBLE))) END"
    s"""WITH u AS (
       |  SELECT user_id, user_id % 2 AS variant,
       |    max(CASE WHEN event_type = 'purchase' AND value > 480.0 THEN 1 ELSE 0 END) AS converted
       |  FROM events GROUP BY 1, 2),
       |m AS (
       |  SELECT
       |    sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS n0,
       |    sum(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS c0,
       |    sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS n1,
       |    sum(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS c1
       |  FROM u)
       |SELECT CAST(n0 AS BIGINT) AS n0, CAST(c0 AS BIGINT) AS c0,
       |  CAST(n1 AS BIGINT) AS n1, CAST(c1 AS BIGINT) AS c1,
       |  ${Det.sqlR(p0, 6)} AS rate0, ${Det.sqlR(p1, 6)} AS rate1,
       |  ${Det.sqlR(z, 6)} AS z,
       |  abs(${Det.sqlR(z, 6)}) > 1.959964 AS significant
       |FROM m""".stripMargin
  }

  // -- q167: last-touch revenue attribution -----------------------------

  /** Marketing attribution without a join: every purchase credits the
    * user's most recent prior non-purchase touch within 7 days (else
    * 'direct'). One `last(..., ignoreNulls)` window inside the per-user
    * hash partitioning carries the previous touch's (time, channel)
    * through the interleaved stream — the as-of join collapsed into the
    * stream itself, zero extra shuffle. Revenue rides in integer
    * micro-units.
    */
  def q167(s: SparkSession, d: String): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val horizon = 7L * 86400000000L
    Tables
      .events(s, d)
      .select(
        col("user_id"),
        col("event_id"),
        col("event_type"),
        unix_micros(col("ts")).as("t"),
        floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long").as("vu"))
      .withColumn("touch_t", last(when(col("event_type") =!= "purchase", col("t")), ignoreNulls = true).over(w))
      .withColumn("touch_ch", last(when(col("event_type") =!= "purchase", col("event_type")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn(
        "channel",
        when(col("touch_t").isNotNull && col("touch_t") >= col("t") - lit(horizon), col("touch_ch"))
          .otherwise(lit("direct")))
      .groupBy(col("channel"))
      .agg(sum(col("vu")).as("revenue_u"), count(lit(1)).as("n_purchases"))
      .orderBy(col("channel"))
  }

  val q167Sql: String =
    """WITH pts AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS t,
      |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vu
      |  FROM events),
      |tch AS (
      |  SELECT *,
      |    last_value(CASE WHEN event_type <> 'purchase' THEN t END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY t, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_t,
      |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY t, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_ch
      |  FROM pts)
      |SELECT CASE WHEN touch_t IS NOT NULL AND touch_t >= t - 604800000000 THEN touch_ch
      |            ELSE 'direct' END AS channel,
      |  CAST(sum(vu) AS BIGINT) AS revenue_u, count(*) AS n_purchases
      |FROM tch WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -- q168: bounded-state grouped top-k --------------------------------

  /** Top-3 purchases per user through the bounded
    * [[graft.functions.Aggregators.TopK]] typed Aggregator: per-group
    * aggregation state is THREE entries regardless of how many purchases
    * a user has, and partials combine map-side — the scale-safe
    * alternative to rank windows (which sort each group's full row set)
    * for small k over huge skewed groups. Plan-asserted window-free in
    * FrontierSpec; the oracle is the rank-window form, so the hash gate
    * proves the two formulations equivalent.
    */
  def q168(s: SparkSession, d: String): DataFrame = {
    val topk = udaf(
      new graft.functions.Aggregators.TopK(3),
      org.apache.spark.sql.Encoders.product[graft.functions.Aggregators.TopItem])
    Tables
      .events(s, d)
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id"),
        floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long").as("vu"),
        col("event_id"))
      .groupBy(col("user_id"))
      .agg(topk(col("vu"), col("event_id")).as("top"))
      .select(col("user_id"), posexplode(col("top")))
      .select(
        col("user_id"),
        (col("pos") + 1).cast("long").as("rk"),
        col("col.id").as("event_id"),
        col("col.v").as("vu"))
      .orderBy(col("user_id"), col("rk"))
  }

  val q168Sql: String =
    """WITH p AS (
      |  SELECT user_id, event_id, CAST(floor(value*1000000.0+0.5) AS BIGINT) AS vu,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY CAST(floor(value*1000000.0+0.5) AS BIGINT) DESC, event_id) AS rk
      |  FROM events WHERE event_type = 'purchase')
      |SELECT user_id, CAST(rk AS BIGINT) AS rk, event_id, vu
      |FROM p WHERE rk <= 3 ORDER BY user_id, rk""".stripMargin

  // -- q169: data-quality report ----------------------------------------

  /** Expectations-style data-quality audit of lineitem as ONE pass plus
    * one orphan check: null counts, domain violations (non-positive
    * quantity, discount outside [0,1], negative price), duplicate
    * primary keys, and referential orphans (l_orderkey ∉ orders) — the
    * admission gate every ingest pipeline runs before publishing a
    * partition. All row-level checks ride a single aggregation (one scan,
    * map-side combinable conditional sums); the FK check is a left-anti
    * join against the broadcast key side. Output is a tall (check,
    * violations) table so downstream alerting is schema-stable as checks
    * are added.
    */
  def q169(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
    val wide = l
      .groupBy()
      .agg(
        count(lit(1)).as("row_count"),
        sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("null_orderkey"),
        sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("null_quantity"),
        sum(when(col("l_quantity") <= 0.0, 1L).otherwise(0L)).as("nonpositive_quantity"),
        sum(when(col("l_discount") < 0.0 || col("l_discount") > 1.0, 1L).otherwise(0L)).as("discount_out_of_range"),
        sum(when(col("l_extendedprice") < 0.0, 1L).otherwise(0L)).as("negative_price"),
        (count(lit(1)) - countDistinct(col("l_orderkey"), col("l_linenumber"))).as("duplicate_pk"))
    val orphans = l
      .join(broadcast(Tables.orders(s, d).select(col("o_orderkey"))), col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("v"))
      .select(lit("orphan_orderkey").as("check"), col("v").as("violations"))
    val checks = Seq(
      "row_count", "null_orderkey", "null_quantity", "nonpositive_quantity",
      "discount_out_of_range", "negative_price", "duplicate_pk")
    val tall = wide
      .select(
        explode(
          map(checks.flatMap(c => Seq(lit(c), col(c))): _*)))
      .select(col("key").as("check"), col("value").as("violations"))
    tall.unionByName(orphans).orderBy(col("check"))
  }

  val q169Sql: String =
    """WITH wide AS (
      |  SELECT count(*) AS row_count,
      |    sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS null_orderkey,
      |    sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS null_quantity,
      |    sum(CASE WHEN l_quantity <= 0.0 THEN 1 ELSE 0 END) AS nonpositive_quantity,
      |    sum(CASE WHEN l_discount < 0.0 OR l_discount > 1.0 THEN 1 ELSE 0 END) AS discount_out_of_range,
      |    sum(CASE WHEN l_extendedprice < 0.0 THEN 1 ELSE 0 END) AS negative_price,
      |    count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS duplicate_pk
      |  FROM lineitem),
      |tall AS (
      |  SELECT 'row_count' AS "check", CAST(row_count AS BIGINT) AS violations FROM wide
      |  UNION ALL SELECT 'null_orderkey', CAST(null_orderkey AS BIGINT) FROM wide
      |  UNION ALL SELECT 'null_quantity', CAST(null_quantity AS BIGINT) FROM wide
      |  UNION ALL SELECT 'nonpositive_quantity', CAST(nonpositive_quantity AS BIGINT) FROM wide
      |  UNION ALL SELECT 'discount_out_of_range', CAST(discount_out_of_range AS BIGINT) FROM wide
      |  UNION ALL SELECT 'negative_price', CAST(negative_price AS BIGINT) FROM wide
      |  UNION ALL SELECT 'duplicate_pk', CAST(duplicate_pk AS BIGINT) FROM wide
      |  UNION ALL SELECT 'orphan_orderkey',
      |    (SELECT count(*) FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      |     WHERE o.o_orderkey IS NULL))
      |SELECT "check", violations FROM tall ORDER BY "check"""".stripMargin

  // -- q170: rollup hierarchy reaggregation -----------------------------

  /** The TSDB materialization hierarchy: daily stats computed FROM the
    * hourly rollup's partials (sum-of-sums, min-of-mins, max-of-maxes)
    * — never re-reading raw data — while the ORACLE computes the same
    * daily stats directly from raw events. The hash gate therefore
    * PROVES the reaggregability law (hour→day ≡ raw→day) that lets a
    * store answer coarse-grain queries from fine-grain materializations:
    * at 100 TB the daily rollup reads 24 rows per series-day instead of
    * millions. All state is integer micro-units — sums re-associate
    * exactly.
    */
  def q170(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables
      .events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(
        count(lit(1)).as("n"),
        sum(floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")).as("svu"),
        min(floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")).as("mnvu"),
        max(floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")).as("mxvu"))
    hourly
      .groupBy(col("event_type"), to_date(col("hour")).as("day"))
      .agg(
        sum(col("n")).as("n"),
        sum(col("svu")).as("sum_u"),
        min(col("mnvu")).as("min_u"),
        max(col("mxvu")).as("max_u"))
      .orderBy(col("event_type"), col("day"))
  }

  val q170Sql: String =
    """SELECT event_type, CAST(ts AS DATE) AS day,
      |  count(*) AS n,
      |  CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_u,
      |  min(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS min_u,
      |  max(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS max_u
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -- q171: CUSUM drift-episode report ---------------------------------

  /** The alerting monitor's threshold report — the batch twin of
    * [[graft.streaming.Streaming.cusumAlerts]]: per series, how many days
    * the [[q157]] CUSUM sat above its alarm threshold, how many distinct
    * alarm EPISODES those days form (gaps-and-islands over the drift
    * flag: an episode starts where drift is true and the previous day's
    * wasn't), the first alarm day, and the peak statistic. Composes the
    * q157 closed form (prefix sum − running min, hash-partitioned by
    * series) with one more per-series lag window — same partitioning, no
    * extra shuffle — then collapses to one row per series. Counts use
    * count-FILTER (BIGINT on both engines), never sum-of-flags (HUGEINT
    * hazard).
    */
  def q171(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    q157(s, d)
      .withColumn("prev_drift", lag(col("drift"), 1).over(w))
      .groupBy(col("event_type"))
      .agg(
        count(when(col("drift"), lit(1))).as("drift_days"),
        count(when(col("drift") && !coalesce(col("prev_drift"), lit(false)), lit(1)))
          .as("episodes"),
        min(when(col("drift"), col("day"))).as("first_drift_day"),
        max(col("cusum")).as("max_cusum"))
      .orderBy(col("event_type"))
  }

  /** Wraps the q157 oracle as a CTE so the per-day CUSUM definition can
    * never drift between the two queries.
    */
  val q171Sql: String =
    s"""WITH per AS (
       |${q157Sql}
       |),
       |lagd AS (
       |  SELECT event_type, day, cusum, drift,
       |    lag(drift) OVER (PARTITION BY event_type ORDER BY day) AS prev_drift
       |  FROM per)
       |SELECT event_type,
       |  count(*) FILTER (WHERE drift) AS drift_days,
       |  count(*) FILTER (WHERE drift AND NOT coalesce(prev_drift, false)) AS episodes,
       |  min(day) FILTER (WHERE drift) AS first_drift_day,
       |  max(cusum) AS max_cusum
       |FROM lagd GROUP BY event_type ORDER BY event_type""".stripMargin

  // -- q177: MERGE partition-overwrite upsert ---------------------------

  /** The MERGE lifecycle loop, hash-proved: a v1 ingest of per-(day, user)
    * event stats that MISSED purchase events is corrected by merging a CDC
    * delta (full stats for every (day, user) pair that has a purchase)
    * through [[graft.sources.Sources.mergeIntoPartitioned]] — matched
    * keys update, unmatched insert (purchase-only users), untouched day
    * partitions are never rewritten (byte-identical, proved in
    * SourcesSpec). The merged table's per-day report must then equal the
    * ORACLE's direct computation from raw events (users without purchases
    * are already correct in v1), so the hash gate proves
    * merge(v1, delta) ≡ recompute — the q170/q143 materialization-law
    * pattern applied to the MERGE operator. The scratch table lives at a
    * deterministic temp path rebuilt per run (same discipline as the
    * merge's own staging dirs).
    */
  def q177(s: SparkSession, d: String): DataFrame = {
    def stats(df: DataFrame): DataFrame = dayStats(df, "user_id")
    val ev = Tables.events(s, d)
    val root = Scratch.root(s, d, "q177")
    graft.sources.Sources
      .writeParquet(
        stats(ev.filter(col("event_type") =!= "purchase")).repartition(col("day")),
        root.toString,
        Seq("day")) // one file per day dir (q184 discipline)
    val purchasePairs = ev
      .filter(col("event_type") === "purchase")
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
    val delta = stats(ev).join(purchasePairs, Seq("day", "user_id"), "semi")
    graft.sources.Sources.mergeIntoPartitioned(s, root.toString, delta, "day", Seq("user_id"))
    s.read
      .parquet(root.toString)
      .groupBy(col("day"))
      .agg(
        count(lit(1)).as("n_users"),
        sum(col("n")).as("n_events"),
        sum(col("sum_u")).as("sum_u"))
      .orderBy(col("day"))
  }

  val q177Sql: String =
    """WITH per AS (
      |  SELECT CAST(ts AS DATE) AS day, user_id, count(*) AS n,
      |    CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_u
      |  FROM events GROUP BY 1, 2)
      |SELECT day, count(*) AS n_users,
      |  CAST(sum(n) AS BIGINT) AS n_events,
      |  CAST(sum(sum_u) AS BIGINT) AS sum_u
      |FROM per GROUP BY day ORDER BY day""".stripMargin

  // -- q178: deterministic train/val/test split -------------------------

  /** Reproducible eval-split assignment — the discipline every training
    * corpus needs before anything else touches it: each document's split
    * is a pure function of its STABLE identity (`hash60("split|"+doc_id)
    * mod 100` → 80/10/10), independent of partitioning, ingest order, or
    * cluster size, so re-running the pipeline (or running it on a
    * different cluster) can never migrate a test document into train.
    * Output is the per-(split, source) composition report (doc counts +
    * char mass) that catches source skew in a split before training does.
    * Pure map + one aggregation: no shuffle beyond the groupBy at any
    * scale. Sums CAST to BIGINT on the oracle side (HUGEINT hazard).
    */
  def q178(s: SparkSession, d: String): DataFrame = {
    val h = pmod(
      graft.functions.Text.hash60(concat(lit("split|"), col("doc_id").cast("string"))),
      lit(100L))
    Tables
      .documents(s, d)
      .withColumn(
        "split",
        when(h < 80, lit("train")).when(h < 90, lit("val")).otherwise(lit("test")))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .orderBy(col("split"), col("source"))
  }

  val q178Sql: String =
    """WITH a AS (
      |  SELECT source, n_chars,
      |    CAST(('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 100 AS h
      |  FROM documents)
      |SELECT CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split,
      |  source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
      |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -- q179: cross-source contamination matrix --------------------------

  /** Pairwise source-overlap matrix on word-trigram shingles — the
    * corpus-composition diagnostic behind dedup priority and source
    * weighting: which sources share content, and how much. Same scale
    * shape as the q24 dedup family: distinct (source, shingle-HASH) pairs
    * (8-byte keys, never shingle strings) are THE shuffle; the pair join
    * blocks on the shared shingle, so fan-out per shingle is bounded by
    * sources-containing-it² — sources number thousands at 100 TB, not
    * billions (for extreme source counts, cap ubiquitous shingles like
    * q24b's df cap). Size frames are one row per source → broadcast.
    * Jaccard is one IEEE division of exact ints (portable, q24
    * precedent).
    */
  def q179(s: SparkSession, d: String): DataFrame = {
    val sh = Tables
      .documents(s, d)
      .select(col("source"), explode(graft.functions.Text.shingleHashes(col("text"), 3)).as("h"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    // pin the sources² matrix (tiny) eagerly, then release the shingle
    // cache — q172 discipline: no persisted block outlives the call
    val matrix = sh.select(col("source").as("src_a"), col("h"))
      .join(sh.select(col("source").as("src_b"), col("h")), Seq("h"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n_sh").as("na"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n_sh").as("nb"))), Seq("src_b"))
      .withColumn("jaccard", col("n_shared").cast("double") / (col("na") + col("nb") - col("n_shared")))
      .select(col("src_a"), col("src_b"), col("n_shared"), col("jaccard"))
      .localCheckpoint()
    sh.unpersist(false)
    matrix.orderBy(col("src_a"), col("src_b"))
  }

  val q179Sql: String =
    s"""WITH d AS (SELECT source, ${graft.functions.Text.sqlToks} AS w FROM documents),
       |sh AS (SELECT DISTINCT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
       |       FROM d, LATERAL (SELECT unnest(range(1, len(w)-1)) AS i) t),
       |sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
       |pairs AS (
       |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT src_a, src_b, n_shared,
       |  CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) AS jaccard
       |FROM pairs JOIN sizes sa ON sa.source = src_a JOIN sizes sb ON sb.source = src_b
       |ORDER BY src_a, src_b""".stripMargin

  // -- q172: RFM segmentation -------------------------------------------

  /** Recency/Frequency/Monetary customer segmentation: per-user metrics
    * in one grain-change aggregation (map-side combinable, integer
    * domain), then quintile assignment per dimension over a TOTAL order
    * (metric, user_id — ties can't float between engines), rolled up to
    * segment sizes. Quintiles are NOT a global ntile window (one-reducer
    * sort — the scale-killer at a billion users): each dimension runs the
    * distributed sort-rank ([[graft.operators.Ranks.globalRowNumber]] —
    * range-partition, local rank, broadcast per-partition offsets) and the
    * tile comes from NTILE's bucket-size arithmetic against the four
    * precomputed rank boundaries. The oracle keeps DuckDB's literal
    * `ntile(5)`, so the hash gate proves the distributed form reproduces
    * the window semantics exactly; FrontierSpec plan-asserts no
    * partition-less Window survives.
    */
  def q172(s: SparkSession, d: String): DataFrame = {
    val users = Tables
      .events(s, d)
      .groupBy(col("user_id"))
      .agg(
        max(to_date(col("ts"))).as("last_day"),
        count(lit(1)).as("f"),
        sum(
          when(
            col("event_type") === "purchase",
            floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")).otherwise(0L)).as("m"))
    val globalMax = users.agg(max(col("last_day")).as("gmax"))
    // feeds three rank passes + a count: cache it once (the count() below
    // materializes the cache — persist beats eager localCheckpoint here by
    // one full job, and keeps lineage for executor-loss recompute)
    val scored = users
      .crossJoin(broadcast(globalMax))
      .withColumn("r_days", datediff(col("gmax"), col("last_day")).cast("long"))
      .select(col("user_id"), col("r_days"), col("f"), col("m"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = scored.count()
    val caches = scala.collection.mutable.ListBuffer[DataFrame](scored)
    // All three metrics rank in ONE distributed sort-rank over the
    // STACKED frame (tag, key, user_id), desc metrics negated into
    // ascending keys — a single range shuffle of 3n narrow rows replaces
    // the three per-metric range shuffles and the three per-user
    // join-backs of the previous shape. Each tag block holds exactly n
    // rows, so the per-metric row_number is pure arithmetic on the global
    // rank, the quintile comes from NTILE's closed-form bucket bounds
    // (Ranks.ntileOfRank), and one user-keyed pivot aggregation
    // reassembles (rq, fq, mq). No Window anywhere; every shuffle is
    // keyed (range on the stack, hash on user_id / segment).
    val metrics = Seq(("r_days", true), ("f", false), ("m", false))
    def keyed(metric: String, asc: Boolean): Column =
      if (asc) col(metric) else -col(metric)
    val stacked = metrics.zipWithIndex
      .map { case ((metric, asc), tag) =>
        scored.select(lit(tag).as("__tag"), keyed(metric, asc).as("__key"), col("user_id"))
      }
      .reduce(_.unionByName(_))
    val ranked = graft.operators.Ranks
      .globalRowNumber(
        stacked,
        Seq(col("__tag").asc, col("__key").asc, col("user_id").asc),
        "__r",
        // size by the STACKED row count (3n) — small frames stay on the
        // single-partition fast path (no counts job, no internal persist)
        partitions = math.max(1L, math.min(3 * n / 2000000L + 1L, 30000L)).toInt,
        cleanup = caches)
      // each tag block holds exactly n rows at global ranks t·n+1..(t+1)·n,
      // so the in-tag rank (= the per-metric row_number) is __r − tag·n
      .select(
        col("user_id"),
        col("__tag"),
        graft.operators.Ranks.ntileOfRank(col("__r") - col("__tag") * n, n, 5).as("__tile"))
    def tileOf(tag: Int): Column = max(when(col("__tag") === tag, col("__tile")))
    // pin the 125-row segment table eagerly, then RELEASE every persisted
    // intermediate (scored + any rank shuffle) — persist pins blocks
    // until unpersist, so returning while still holding them would leak
    // MEMORY_AND_DISK blocks on every call (ContextCleaner only reclaims
    // checkpoint blocks, not CacheManager entries)
    val segments = ranked
      .groupBy(col("user_id"))
      .agg(tileOf(0).as("rq"), tileOf(1).as("fq"), tileOf(2).as("mq"))
      .groupBy(col("rq"), col("fq"), col("mq"))
      .agg(count(lit(1)).as("n_users"))
      .localCheckpoint()
    caches.foreach(_.unpersist(false))
    segments.orderBy(col("rq"), col("fq"), col("mq"))
  }

  val q172Sql: String =
    """WITH u AS (
      |  SELECT user_id, max(CAST(ts AS DATE)) AS last_day, count(*) AS f,
      |    sum(CASE WHEN event_type = 'purchase'
      |             THEN CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END) AS m
      |  FROM events GROUP BY 1),
      |sc AS (
      |  SELECT user_id, f, m,
      |    CAST(date_diff('day', last_day, (SELECT max(last_day) FROM u)) AS BIGINT) AS r_days
      |  FROM u),
      |qs AS (
      |  SELECT
      |    CAST(ntile(5) OVER (ORDER BY r_days ASC, user_id ASC) AS BIGINT) AS rq,
      |    CAST(ntile(5) OVER (ORDER BY f DESC, user_id ASC) AS BIGINT) AS fq,
      |    CAST(ntile(5) OVER (ORDER BY m DESC, user_id ASC) AS BIGINT) AS mq
      |  FROM sc)
      |SELECT rq, fq, mq, count(*) AS n_users
      |FROM qs GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // -- q173: Kaplan-Meier survival --------------------------------------

  /** Kaplan-Meier time-to-conversion curves per experiment variant: the
    * survival event is a user's FIRST PURCHASE after their first
    * activity; users who never purchase are right-censored at the end of
    * observation — the textbook censoring structure. The running product
    * Π(1 − dᵢ/nᵢ) is computed as exp of the ORDERED cumulative sum of
    * ln terms — a window running-sum accumulates left to right in frame
    * order in both engines (the q57 EWMA portability argument), so the
    * float product is bit-stable cross-engine and one r6 snap suffices.
    * Risk sets come from a cumulative count-down, not a self-join. One
    * shuffle to user grain, windows over the tiny (variant, day)
    * event-time table.
    */
  def q173(s: SparkSession, d: String): DataFrame = {
    val users = Tables
      .events(s, d)
      .groupBy(col("user_id"))
      .agg(
        min(to_date(col("ts"))).as("first_day"),
        min(when(col("event_type") === "purchase", to_date(col("ts")))).as("conv_day"))
      .withColumn("variant", (col("user_id") % 2).cast("long"))
    val cut = users.agg(
      max(greatest(col("first_day"), coalesce(col("conv_day"), col("first_day")))).as("gmax"))
    val lt = users
      .crossJoin(broadcast(cut))
      .select(
        col("variant"),
        when(col("conv_day").isNotNull, datediff(col("conv_day"), col("first_day")))
          .otherwise(datediff(col("gmax"), col("first_day")))
          .cast("long")
          .as("life"),
        col("conv_day").isNotNull.cast("long").as("churned"))
    val grid = lt
      .groupBy(col("variant"), col("life"))
      .agg(count(lit(1)).as("leaving"), sum(col("churned")).as("d"))
    val wOrd = Window.partitionBy(col("variant")).orderBy(col("life"))
    val wAll = Window.partitionBy(col("variant"))
    grid
      .withColumn("total", sum(col("leaving")).over(wAll))
      .withColumn(
        "n_at_risk",
        col("total") - coalesce(
          sum(col("leaving")).over(wOrd.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      // d == n_at_risk (everyone remaining converts) sends S to exactly 0:
      // handled as an explicit flag — DuckDB's ln(0) raises where the JVM
      // returns -inf, so the log path must never see it on either engine
      .withColumn(
        "lnterm",
        when(col("d") > 0 && col("d") < col("n_at_risk"),
          log(lit(1.0) - col("d").cast("double") / col("n_at_risk").cast("double")))
          .otherwise(lit(0.0)))
      .withColumn(
        "zeroed",
        max((col("d") === col("n_at_risk")).cast("int"))
          .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn(
        "survival",
        when(col("zeroed") === 1, lit(0.0)).otherwise(
          Det.r6(exp(sum(col("lnterm")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow))))))
      .filter(col("d") > 0)
      .select(col("variant"), col("life"), col("n_at_risk"), col("d"), col("survival"))
      .orderBy(col("variant"), col("life"))
  }

  val q173Sql: String =
    s"""WITH u AS (
       |  SELECT user_id, user_id % 2 AS variant,
       |    min(CAST(ts AS DATE)) AS first_day,
       |    min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END) AS conv_day
       |  FROM events GROUP BY 1, 2),
       |lt AS (
       |  SELECT variant,
       |    CAST(CASE WHEN conv_day IS NOT NULL THEN date_diff('day', first_day, conv_day)
       |         ELSE date_diff('day', first_day,
       |                        (SELECT max(greatest(first_day, coalesce(conv_day, first_day))) FROM u))
       |         END AS BIGINT) AS life,
       |    CASE WHEN conv_day IS NOT NULL THEN 1 ELSE 0 END AS churned
       |  FROM u),
       |grid AS (
       |  SELECT variant, life, count(*) AS leaving, sum(churned) AS d
       |  FROM lt GROUP BY 1, 2),
       |rk AS (
       |  SELECT variant, life, leaving, d,
       |    sum(leaving) OVER (PARTITION BY variant) -
       |      coalesce(sum(leaving) OVER (PARTITION BY variant ORDER BY life
       |                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_at_risk
       |  FROM grid),
       |sv AS (
       |  SELECT variant, life, n_at_risk, d,
       |    max(CASE WHEN d = n_at_risk THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY variant ORDER BY life
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zeroed,
       |    ${Det.sqlR(
        "exp(sum(CASE WHEN d > 0 AND d < n_at_risk THEN ln(1.0 - CAST(d AS DOUBLE)/CAST(n_at_risk AS DOUBLE)) ELSE 0.0 END) OVER (PARTITION BY variant ORDER BY life ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))",
        6)} AS surv_raw
       |  FROM rk)
       |SELECT variant, life, CAST(n_at_risk AS BIGINT) AS n_at_risk, CAST(d AS BIGINT) AS d,
       |  CASE WHEN zeroed = 1 THEN 0.0 ELSE surv_raw END AS survival
       |FROM sv WHERE d > 0 ORDER BY variant, life""".stripMargin

  // -- q174: SAX symbolic approximation ---------------------------------

  /** SAX (Symbolic Aggregate approXimation) of each event-type series:
    * PAA segments are wall-clock hours (a hash agg, not the sliding
    * frames of classic PAA — distributable and streaming-friendly),
    * z-normalized per series and quantized against the standard N(0,1)
    * breakpoints into a 4-letter alphabet. The symbol string is the
    * series' INDEX KEY: motif search, similarity lower-bounding
    * (MINDIST), and anomaly grammars run on the tiny symbol domain
    * instead of raw points. Determinism: PAA means snap to integer
    * micro-units (one double divide each), μ/σ come from exact integer
    * moments, and z is r6-snapped BEFORE the breakpoint comparison so
    * both engines bin identically.
    */
  def q174(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables
      .events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(
        sum(floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")).as("svu"),
        count(lit(1)).as("cnt"))
      .select(
        col("event_type"),
        col("hour"),
        floor(col("svu").cast("double") / col("cnt").cast("double") + lit(0.5)).cast("long").as("paa"))
      .localCheckpoint() // feeds the moment pass and the symbol pass
    val dec = "decimal(38,0)"
    val moments = hourly
      .groupBy(col("event_type"))
      // sxx accumulates in DECIMAL(38,0): paa² sums reach ~20% of the
      // BIGINT range at sf0.1 already — a larger value scale would overflow
      // Spark's ANSI long sum where DuckDB's HUGEINT keeps going
      .agg(
        count(lit(1)).as("n"),
        sum(col("paa")).as("sx"),
        sum(col("paa").cast(dec) * col("paa").cast(dec)).as("sxx"))
      .select(
        col("event_type"),
        (col("sx").cast("double") / col("n").cast("double")).as("mu"),
        (sqrt(
          (col("n").cast(dec) * col("sxx").cast(dec) - col("sx").cast(dec) * col("sx").cast(dec))
            .cast("double")) / col("n").cast("double")).as("sigma"))
    val z = Det.r6((col("paa").cast("double") - col("mu")) / col("sigma"))
    val sym = when(z < lit(-0.6745), lit("a"))
      .when(z < lit(0.0), lit("b"))
      .when(z < lit(0.6745), lit("c"))
      .otherwise(lit("d"))
    hourly
      .join(broadcast(moments), Seq("event_type"))
      .select(col("event_type"), col("hour"), sym.as("symbol"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_segments"),
        concat_ws(
          "",
          transform(array_sort(collect_list(struct(col("hour"), col("symbol")))), x => x.getField("symbol")))
          .as("sax"))
      .orderBy(col("event_type"))
  }

  val q174Sql: String = {
    val z = Det.sqlR("(CAST(paa AS DOUBLE) - mu) / sigma", 6)
    s"""WITH hourly AS (
       |  SELECT event_type, date_trunc('hour', ts) AS hour,
       |    CAST(floor(CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |               / count(*) + 0.5) AS BIGINT) AS paa
       |  FROM events GROUP BY 1, 2),
       |m AS (
       |  SELECT event_type,
       |    CAST(sum(paa) AS DOUBLE) / count(*) AS mu,
       |    sqrt(CAST(CAST(count(*) AS HUGEINT) * sum(CAST(paa AS HUGEINT) * paa)
       |              - CAST(sum(paa) AS HUGEINT) * sum(paa) AS DOUBLE)) / count(*) AS sigma
       |  FROM hourly GROUP BY 1),
       |sy AS (
       |  SELECT h.event_type, h.hour,
       |    CASE WHEN $z < -0.6745 THEN 'a'
       |         WHEN $z < 0.0 THEN 'b'
       |         WHEN $z < 0.6745 THEN 'c'
       |         ELSE 'd' END AS symbol
       |  FROM hourly h JOIN m ON h.event_type = m.event_type)
       |SELECT event_type, count(*) AS n_segments,
       |  string_agg(symbol, '' ORDER BY hour) AS sax
       |FROM sy GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // -- q175: rolling-origin forecast backtest ---------------------------

  /** Forecast evaluation the way production capacity planning does it:
    * walk forward through each daily series and score three forecasters
    * at every origin — naive (yesterday), seasonal-naive (7 days ago),
    * and the trailing-7-day mean — by MAE. Everything is lag/avg windows
    * inside one hash partitioning by series and exact integer micro-unit
    * arithmetic (the trailing mean is snapped per-origin), so the
    * scoreboard is bit-stable. The analytics twin of q165's ANN recall:
    * indexes get recall audits, forecasters get rolling-origin backtests.
    */
  def q175(s: SparkSession, d: String): DataFrame = {
    val daily = Tables
      .events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")).as("vu"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val scored = daily
      .withColumn("f_naive", lag(col("vu"), 1).over(w))
      .withColumn("f_seasonal", lag(col("vu"), 7).over(w))
      .withColumn(
        "f_ma7",
        floor(avg(col("vu")).over(w.rowsBetween(-7, -1)) + lit(0.5)).cast("long"))
      .withColumn("n_prior", count(lit(1)).over(w.rowsBetween(-7, -1)))
      // score only origins where EVERY forecaster has a full history, so
      // the three MAEs average over the same evaluation set
      .filter(col("f_seasonal").isNotNull && col("n_prior") === 7)
    val methods = Seq("naive" -> "f_naive", "seasonal" -> "f_seasonal", "ma7" -> "f_ma7")
    methods
      .map { case (name, c) =>
        scored.select(
          col("event_type"),
          lit(name).as("method"),
          abs(col("vu") - col(c)).as("ae"))
      }
      .reduce(_.unionByName(_))
      .groupBy(col("event_type"), col("method"))
      .agg(count(lit(1)).as("n_evals"), sum(col("ae")).as("sum_ae_u"))
      .select(
        col("event_type"),
        col("method"),
        col("n_evals"),
        Det.r6(col("sum_ae_u").cast("double") / col("n_evals").cast("double") / lit(1000000.0)).as("mae"))
      .orderBy(col("event_type"), col("method"))
  }

  val q175Sql: String =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |    sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS vu
       |  FROM events GROUP BY 1, 2),
       |sc AS (
       |  SELECT event_type, day, vu,
       |    lag(vu, 1) OVER (PARTITION BY event_type ORDER BY day) AS f_naive,
       |    lag(vu, 7) OVER (PARTITION BY event_type ORDER BY day) AS f_seasonal,
       |    CAST(floor(avg(vu) OVER (PARTITION BY event_type ORDER BY day
       |                             ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) + 0.5) AS BIGINT) AS f_ma7,
       |    count(*) OVER (PARTITION BY event_type ORDER BY day
       |                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS n_prior
       |  FROM daily),
       |ok AS (SELECT * FROM sc WHERE f_seasonal IS NOT NULL AND n_prior = 7),
       |long AS (
       |  SELECT event_type, 'naive' AS method, abs(vu - f_naive) AS ae FROM ok
       |  UNION ALL SELECT event_type, 'seasonal', abs(vu - f_seasonal) FROM ok
       |  UNION ALL SELECT event_type, 'ma7', abs(vu - f_ma7) FROM ok)
       |SELECT event_type, method, count(*) AS n_evals,
       |  ${Det.sqlR("CAST(sum(ae) AS DOUBLE) / count(*) / 1000000.0", 6)} AS mae
       |FROM long GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -- q176: hard-negative mining ---------------------------------------

  /** Contrastive-pair mining for embedding training: for each anchor,
    * the nearest SAME-label neighbor (the positive) and the nearest
    * DIFFERENT-label neighbor (the hard negative — the examples that
    * actually move a contrastive loss), plus the margin between them.
    * One broadcast of the anchor set against the corpus — the corpus is
    * never shuffled, cosine runs in the codegen'd native expression, and
    * the per-anchor argmax is a conditional max_by pair in ONE
    * aggregation (no window, no second pass). Scale path: swap the
    * brute-force scored frame for the q34 LSH candidates; the mining agg
    * is unchanged.
    */
  def q176(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val anchors = emb
      .filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("label").as("qlab"))
    val scored = emb
      .join(broadcast(anchors), col("vec_id") =!= col("qid"))
      .select(
        col("qid"),
        col("qlab"),
        col("vec_id"),
        col("label"),
        Det.r4(graft.functions.Vectors.cosine(col("qe"), col("embedding"))).as("sim"))
    // deterministic argmax via a single integer key: sim is r4-snapped, so
    // floor(sim·1e4 + 0.5) recovers its exact integer form; scaling it
    // above the id range and subtracting vec_id makes smaller ids win
    // similarity ties — one BIGINT max_by both engines order identically
    // (DuckDB's arg_max has no struct-ordered form)
    def pick(condSql: String, out: String): Seq[Column] = Seq(
      expr(s"max(CASE WHEN $condSql THEN sim END)").as(s"${out}_sim"),
      expr(
        s"max_by(vec_id, CASE WHEN $condSql THEN CAST(floor(sim*10000+0.5) AS BIGINT)*10000000000 - vec_id END)")
        .as(s"${out}_id"))
    val aggs = pick("label = qlab", "pos") ++ pick("label != qlab", "neg")
    scored
      .groupBy(col("qid"))
      .agg(aggs.head, aggs.tail: _*)
      .select(
        col("qid"),
        col("pos_id"),
        col("pos_sim"),
        col("neg_id"),
        col("neg_sim"),
        Det.r4(col("pos_sim") - col("neg_sim")).as("margin"))
      .orderBy(col("qid"))
  }

  val q176Sql: String =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS qlab
      |           FROM embeddings WHERE vec_id < 8),
      |p AS (SELECT q.qid, q.qlab, e.vec_id, e.label, q.qe, e.embedding AS ve
      |      FROM q, embeddings e WHERE e.vec_id <> q.qid),
      |acc AS (
      |  SELECT qid, qlab, vec_id, label,
      |    sum(CAST(qe[i] AS DOUBLE) * ve[i]) AS dotp,
      |    sum(CAST(qe[i] AS DOUBLE) * qe[i]) AS qn,
      |    sum(CAST(ve[i] AS DOUBLE) * ve[i]) AS vn
      |  FROM p, LATERAL (SELECT unnest(range(1, 65)) AS i) t
      |  GROUP BY 1, 2, 3, 4),
      |sims AS (
      |  SELECT qid, qlab, vec_id, label,
      |    floor(dotp / (sqrt(qn) * sqrt(vn)) * 10000 + 0.5) / 10000 AS sim
      |  FROM acc),
      |agg AS (
      |  SELECT qid,
      |    arg_max(vec_id, CASE WHEN label = qlab
      |      THEN CAST(floor(sim*10000+0.5) AS BIGINT)*10000000000 - vec_id END) AS pos_id,
      |    max(CASE WHEN label = qlab THEN sim END) AS pos_sim,
      |    arg_max(vec_id, CASE WHEN label <> qlab
      |      THEN CAST(floor(sim*10000+0.5) AS BIGINT)*10000000000 - vec_id END) AS neg_id,
      |    max(CASE WHEN label <> qlab THEN sim END) AS neg_sim
      |  FROM sims GROUP BY 1)
      |SELECT qid, pos_id, pos_sim, neg_id, neg_sim,
      |  floor((pos_sim - neg_sim) * 10000 + 0.5) / 10000 AS margin
      |FROM agg ORDER BY qid""".stripMargin

  val queries: Map[String, Q] = Map(
    "q176_hard_negatives" -> (q176 _),
    "q174_sax_symbols" -> (q174 _),
    "q175_forecast_backtest" -> (q175 _),
    "q172_rfm_segments" -> (q172 _),
    "q173_kaplan_meier" -> (q173 _),
    "q170_rollup_reagg" -> (q170 _),
    "q171_cusum_episodes" -> (q171 _),
    "q177_merge_upsert" -> (q177 _),
    "q178_split_assign" -> (q178 _),
    "q179_source_overlap" -> (q179 _),
    "q168_topk_aggregator" -> (q168 _),
    "q169_dq_report" -> (q169 _),
    "q165_ann_recall" -> (q165 _),
    "q166_ab_ztest" -> (q166 _),
    "q167_last_touch_attribution" -> (q167 _),
    "q162_lttb_downsample" -> (q162 _),
    "q163_counter_increase" -> (q163 _),
    "q164_histogram_quantile" -> (q164 _),
    "q155_skyline_frontier" -> (q155 _),
    "q156_spearman_corr" -> (q156 _),
    "q157_cusum_changepoint" -> (q157 _),
    "q158_hll_overlap" -> (q158 _),
    "q159_bootstrap_ci" -> (q159 _),
    "q160_runtime_bloom_join" -> (q160 _),
    "q161_hour_attribution" -> (q161 _))

  val oracles: Map[String, String] = Map(
    "q176_hard_negatives" -> q176Sql,
    "q174_sax_symbols" -> q174Sql,
    "q175_forecast_backtest" -> q175Sql,
    "q172_rfm_segments" -> q172Sql,
    "q173_kaplan_meier" -> q173Sql,
    "q170_rollup_reagg" -> q170Sql,
    "q171_cusum_episodes" -> q171Sql,
    "q177_merge_upsert" -> q177Sql,
    "q178_split_assign" -> q178Sql,
    "q179_source_overlap" -> q179Sql,
    "q168_topk_aggregator" -> q168Sql,
    "q169_dq_report" -> q169Sql,
    "q165_ann_recall" -> q165Sql,
    "q166_ab_ztest" -> q166Sql,
    "q167_last_touch_attribution" -> q167Sql,
    "q162_lttb_downsample" -> q162Sql,
    "q163_counter_increase" -> q163Sql,
    "q164_histogram_quantile" -> q164Sql,
    "q155_skyline_frontier" -> q155Sql,
    "q156_spearman_corr" -> q156Sql,
    "q157_cusum_changepoint" -> q157Sql,
    "q158_hll_overlap" -> q158Sql,
    "q159_bootstrap_ci" -> q159Sql,
    "q160_runtime_bloom_join" -> q160Sql,
    "q161_hour_attribution" -> q161Sql)
}
