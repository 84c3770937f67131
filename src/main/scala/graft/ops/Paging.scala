package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Offset/limit pagination (SURVEY §2.6 O3) with the reference's clamps
  * (`/root/reference/src/api.py:196-207`: page ≥ 1, 1 ≤ size ≤ maxSize).
  *
  * Plan shape: `limit(page*size)` plans a TakeOrderedAndProject (distributed
  * top-k, no global sort), and only that tiny prefix flows into the offset
  * window — the global-window-over-the-whole-table anti-pattern never
  * appears (PlanSpec pins this).
  *
  * DEEP-PAGINATION CAP, a deliberate deviation from the reference:
  * `api.py` doesn't bound `page` because Elasticsearch refuses
  * `from + size > index.max_result_window` (10000) server-side — the cap
  * exists in its stack, just not in its code. Here the engine IS the
  * server, so [[paginate]] enforces the same bound itself: without it,
  * page=10⁶ would funnel `page·size` rows through the single-partition
  * offset window — the one shape in this operator that does not survive a
  * 100× scale-up. Deep scans belong to sort-keyed range pagination
  * (ES search_after), not offsets; the error says so.
  */
object Paging {

  /** The `index.max_result_window` analog: the deepest row an
    * offset-paginated read may reach. Everything below it is a bounded
    * top-k; everything above it is a scan wearing a pagination costume.
    */
  val MaxResultWindow: Int = 10000

  def clamp(page: Int, size: Int, maxSize: Int = 100): (Int, Int) =
    (math.max(1, page), math.min(maxSize, math.max(1, size)))

  /** The clamped page's row range `[from, until)` in a total order.
    * Refuses `page·size > maxWindow` — the ES behavior; see the object
    * scaladoc.
    */
  def window(page: Int, size: Int,
      maxSize: Int = 100, maxWindow: Int = MaxResultWindow): (Int, Int) = {
    val (p, sz) = clamp(page, size, maxSize)
    require(p.toLong * sz <= maxWindow,
      s"result window too large: page $p x size $sz = ${p.toLong * sz} rows " +
        s"exceeds the $maxWindow-row offset-pagination window " +
        "(the index.max_result_window analog); deep scans should use " +
        "sort-keyed range pagination, not offsets")
    ((p - 1) * sz, p * sz)
  }

  /** `orderBy` must be a total order (add a unique tie-break column) or
    * page boundaries are nondeterministic. Refuses what [[window]]
    * refuses.
    */
  def paginate(df: DataFrame, orderBy: Seq[Column], page: Int, size: Int,
      maxSize: Int = 100, maxWindow: Int = MaxResultWindow): DataFrame = {
    val (from, until) = window(page, size, maxSize, maxWindow)
    val top = df.orderBy(orderBy: _*).limit(until)
    top
      .withColumn("__rn", row_number().over(Window.orderBy(orderBy: _*)))
      .filter(col("__rn") > from)
      .drop("__rn")
  }

  /** KEYSET pagination (the ES `search_after` analog — the deep-scan
    * path [[paginate]]'s window cap points at): resume a total-ordered
    * scan strictly AFTER the previous page's final sort-key values,
    * rather than by offset. `sortCols` is (column, ascending) and MUST
    * be a total order (end with a unique key) or pages overlap. `last`
    * is the previous page's final row's sort-key values in the same
    * order (None = first page).
    *
    * NULL sort keys (r19 — VERDICT r18 next #7): by default sort keys
    * must be NON-NULL (a null never satisfies the strict inequality, so
    * null-keyed rows would silently vanish from every resumed page —
    * filter or coalesce them upstream; ES imposes the same rule on
    * `search_after` sorts). Real corpora have nullable sort columns, so
    * `nullsLast = true` turns on explicit NULLS LAST keyset semantics
    * instead: each column orders its non-null values first (asc or
    * desc), then its null bucket. "Strictly after" then reads: a
    * non-null cursor value is advanced past by a greater/lesser value
    * OR by entering the null bucket (`col IS NULL`); a NULL cursor
    * value is the last bucket — nothing advances past it at that
    * column, and prefix equality against it means `col IS NULL`. The
    * whole predicate remains source-translatable (Or/And of
    * comparisons and IsNull), so it still lands in PushedFilters —
    * PlanSpec pins this over a parquet with real nulls.
    *
    * Scale shape, and why this survives where offsets don't: the
    * lexicographic after-predicate pushes into the scan (a leading-key
    * range prunes files by min/max stats) and the page plans a
    * TakeOrderedAndProject of `size` rows — per page, cost is one
    * pruned scan + a distributed top-k, INDEPENDENT of page depth.
    * Page 10⁶ costs the same as page 1; `paginate`'s offset form pays
    * page·size rows through one task, which is why it is capped.
    */
  def searchAfter(
      df: DataFrame, sortCols: Seq[(String, Boolean)],
      last: Option[Seq[Any]], size: Int, maxSize: Int = 100,
      nullsLast: Boolean = false): DataFrame = {
    require(sortCols.nonEmpty, "searchAfter needs at least one sort column")
    val sz = math.min(maxSize, math.max(1, size))
    val base = last match {
      case None => df
      case Some(vals) =>
        require(vals.length == sortCols.length,
          s"last carries ${vals.length} values for ${sortCols.length} sort columns " +
            "— pass the previous page's final row's sort keys, in order")
        require(nullsLast || vals.forall(_ != null),
          "null cursor values need nullsLast = true (the default strict " +
            "inequality would silently drop the null bucket from every page)")
        // lexicographic strictly-after over the composite key: for some
        // prefix i, all earlier keys equal and key i strictly advances.
        // Each cursor literal is cast to ITS SORT COLUMN's type, not the
        // other way round: a mixed-numeric `Seq(price, key)` arrives
        // harmonized to Double (Scala widens the elements), and a bare
        // `lit` would then plan `cast(key as double) > 42.0` — a
        // column-side cast that cannot push into the scan (and is lossy
        // past 2^53). The literal-side cast constant-folds back to an
        // exact same-type literal, so the whole predicate lands in
        // PushedFilters (the PlanSpec pin that caught this).
        def cursorLit(i: Int): Column =
          lit(vals(i)).cast(df.schema(sortCols(i)._1).dataType)
        def prefixEq(i: Int): Column = (0 until i)
          .map { j =>
            if (vals(j) == null) col(sortCols(j)._1).isNull
            else col(sortCols(j)._1) === cursorLit(j)
          }
          .reduceOption(_ && _).getOrElse(lit(true))
        def advances(i: Int): Column = {
          val (c, asc) = sortCols(i)
          if (vals(i) == null) {
            // the null bucket is this column's LAST value — nothing
            // strictly advances past it here; only a later column can
            // (via prefix equality `col IS NULL`)
            lit(false)
          } else {
            val cmp = if (asc) col(c) > cursorLit(i) else col(c) < cursorLit(i)
            if (nullsLast) cmp || col(c).isNull else cmp
          }
        }
        val pred = sortCols.indices.map(i => prefixEq(i) && advances(i))
          .reduce(_ || _)
        df.filter(pred)
    }
    base.orderBy(sortCols.map { case (c, asc) =>
      if (nullsLast) { if (asc) col(c).asc_nulls_last else col(c).desc_nulls_last }
      else if (asc) col(c).asc else col(c).desc }: _*).limit(sz)
  }
}
