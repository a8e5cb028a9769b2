package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Physical-layout helpers: space-filling-curve keys for multi-dimensional
  * data clustering. Sorting (or range-partitioning) a table by a Z-order
  * key co-locates rows that are close in BOTH dimensions, so min/max
  * file statistics prune 2-D box predicates — the classic layout trick
  * for 100 TB fact tables queried by (customer, date)-style boxes, where
  * a single-column sort only ever prunes one of the two.
  */
object Layout {

  /** Morton (Z-order) interleave of the low `bits` bits of two non-negative
    * long columns: bit i of x lands at position 2i, bit i of y at 2i+1.
    * Pure codegen'd bit arithmetic — no UDF, no shuffle.
    */
  def zorder2(x: Column, y: Column, bits: Int = 16): Column =
    (0 until bits)
      .map { i =>
        shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
          shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
      }
      .reduce(_ + _)
      .cast("long")

  /** DuckDB twin of [[zorder2]] for oracle strings. Fully parenthesized:
    * DuckDB gives `+` higher precedence than `<<` (C-style), so the naive
    * `a << 2*i + b` parses as `a << (2*i + b)`.
    */
  def sqlZorder2(x: String, y: String, bits: Int = 16): String =
    s"""CAST(list_sum(list_transform(range(0, $bits),
       |    i -> (((($x) >> i) & 1) << (2*i)) + (((($y) >> i) & 1) << (2*i+1))
       |  )) AS BIGINT)""".stripMargin

  /** Driver-side Hilbert index (xy→d) at the given order (grid side
    * 2^order). The standard iterative quadrant-rotation walk — Hilbert
    * keys preserve locality strictly better than Morton (no Z-shaped
    * jumps across the midline), which tightens min/max file-statistic
    * boxes when range-partitioning a 100 TB table by the key.
    */
  def hilbertIndex(order: Int, x0: Long, y0: Long): Long = {
    var x = x0; var y = y0; var d = 0L
    var s: Long = 1L << (order - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** [[hilbertIndex]] as a codegen'd column expression: the level loop is
    * unrolled at plan-build time into pure bit arithmetic (no UDF, no
    * shuffle). Each level rewrites (x, y) through a `when` rotation, so
    * the expression tree grows ~3× per level — fine for the catalog-key
    * orders (≤ 8); a deeper curve would move to a native Expression with
    * a real loop, exactly like CosineSimExpr.
    */
  def hilbert2(x0: Column, y0: Column, order: Int): Column = {
    require(order >= 1 && order <= 8, s"hilbert2 expression unroll supports order 1..8, got $order")
    var x = x0.cast("long"); var y = y0.cast("long"); var d = lit(0L)
    var s: Long = 1L << (order - 1)
    while (s > 0) {
      val rx = when(x.bitwiseAND(lit(s)) > 0, lit(1L)).otherwise(lit(0L))
      val ry = when(y.bitwiseAND(lit(s)) > 0, lit(1L)).otherwise(lit(0L))
      d = d + lit(s * s) * (lit(3L) * rx).bitwiseXOR(ry)
      // flip-then-swap: newx = flipped old y, newy = flipped old x
      val nx = when(ry === 0, when(rx === 1, lit(s - 1) - y).otherwise(y)).otherwise(x)
      val ny = when(ry === 0, when(rx === 1, lit(s - 1) - x).otherwise(x)).otherwise(y)
      x = nx; y = ny
      s >>= 1
    }
    d
  }

  /** The full xy→d table at `order` as a flat array (`x * side + y`),
    * for oracle SQL (spliced as a DuckDB list literal) and for parity
    * tests of [[hilbert2]].
    */
  def hilbertTable(order: Int): Array[Long] = {
    val side = 1 << order
    Array.tabulate(side * side)(i => hilbertIndex(order, (i / side).toLong, (i % side).toLong))
  }

  // ---- k-dimensional keys (real training-table clustering is 3+-dim:
  // (source, day, length)-shaped boxes) --------------------------------

  /** Morton (Z-order) interleave of the low `bits` bits of k non-negative
    * long columns: bit i of column j lands at position k·i + j. Pure
    * codegen'd bit arithmetic — the expression is a flat sum of k·bits
    * shift terms (linear growth, no UDF, no shuffle). `bits`·k must fit a
    * long's 63 value bits.
    */
  def zorderN(cols: Seq[Column], bits: Int = 16): Column = {
    val k = cols.length
    require(k >= 2, s"zorderN needs at least 2 columns, got $k")
    require(bits >= 1 && bits * k <= 63, s"zorderN($k cols, $bits bits) overflows a long")
    (for { i <- 0 until bits; j <- 0 until k } yield
      shiftleft(shiftright(cols(j), i).bitwiseAND(lit(1L)), k * i + j))
      .reduce(_ + _)
      .cast("long")
  }

  /** k-dimensional Hilbert index via Skilling's transpose construction
    * (J. Skilling, "Programming the Hilbert Curve", AIP Conf. Proc. 707,
    * 2004): axes → transpose (inverse-undo + Gray decode), then
    * bit-interleave the transpose into one scalar. MUTATES `x` (the
    * codegen hot path reuses one scratch buffer per task); public callers
    * wanting value semantics use [[hilbertIndexN]].
    */
  def hilbertIndexInPlace(order: Int, x: Array[Long]): Long = {
    val n = x.length
    val m = 1L << (order - 1)
    // inverse undo: top-down quadrant reflection/exchange
    var q = m
    while (q > 1) {
      val p = q - 1
      var i = 0
      while (i < n) {
        if ((x(i) & q) != 0L) x(0) ^= p
        else { val t = (x(0) ^ x(i)) & p; x(0) ^= t; x(i) ^= t }
        i += 1
      }
      q >>= 1
    }
    // Gray decode
    var i = 1
    while (i < n) { x(i) ^= x(i - 1); i += 1 }
    var t = 0L
    q = m
    while (q > 1) { if ((x(n - 1) & q) != 0L) t ^= q - 1; q >>= 1 }
    i = 0
    while (i < n) { x(i) ^= t; i += 1 }
    // interleave the transpose: bit b of x(j) → index bit b·n + (n-1-j)
    var d = 0L
    var b = order - 1
    while (b >= 0) {
      var j = 0
      while (j < n) {
        d = (d << 1) | ((x(j) >> b) & 1L)
        j += 1
      }
      b -= 1
    }
    d
  }

  /** Value-semantics wrapper of [[hilbertIndexInPlace]]. */
  def hilbertIndexN(order: Int, coords: Array[Long]): Long =
    hilbertIndexInPlace(order, coords.clone())

  /** [[hilbertIndexN]] as a codegen'd column: a native Expression with a
    * real loop ([[graft.plans.HilbertNExpr]]) — the k·order-level unroll
    * that [[hilbert2]] uses would grow the `when`-tree exponentially in
    * k, exactly the move the hilbert2 Scaladoc anticipated.
    *
    * CONTRACT: coordinates must be non-negative and < 2^order. Unlike
    * [[zorderN]] (which cleanly truncates to the low bits), Skilling's
    * Gray-decode mixes high bits into low ones, so an out-of-range
    * coordinate ALIASES to an unrelated cell — mod/clamp upstream
    * (`col % (1 << order)`), as the registered queries do.
    */
  def hilbertN(cols: Seq[Column], order: Int): Column =
    graft.plans.LayoutExpressions.hilbertN(cols, order)

  /** The full coords→d table at (`order`, `dims`) as a flat array in
    * row-major coordinate order (index = Σ coordᵢ · side^(dims-1-i)), for
    * oracle SQL splicing and property tests. side^dims entries — callers
    * keep (order·dims) small.
    */
  def hilbertTableN(order: Int, dims: Int): Array[Long] = {
    val side = 1 << order
    val total = math.pow(side.toDouble, dims.toDouble).toLong
    require(total <= (1 << 20), s"hilbertTableN($order, $dims): $total entries is too big to splice")
    Array.tabulate(total.toInt) { idx =>
      val coords = new Array[Long](dims)
      var rem = idx.toLong
      var i = dims - 1
      while (i >= 0) { coords(i) = rem % side; rem /= side; i -= 1 }
      hilbertIndexInPlace(order, coords)
    }
  }
}
