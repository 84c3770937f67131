package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Num, QueryDef, Tables}

/** Relational operator battery over the TPC-H-ish testdata (SURVEY §2.2–2.7):
  * joins (J1/J2 + semi/anti), aggregations (A1–A4), window top-k (W1),
  * sort/limit/pagination (O1–O3), unpivot/explode (U1–U3), filters (P3–P6).
  *
  * Every query has a DuckDB oracle twin with identical column names and
  * deterministic ordering. Money math goes through exact DECIMAL (see
  * [[graft.Num]]) so cross-engine hashes are stable.
  */
object Relational {

  val defs: Seq[QueryDef] = Seq(

    // A2/A4/O1: multi-aggregate groupBy — TPC-H Q1 shape.
    QueryDef(
      "q01_pricing_summary",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            round(sum(Num.dec2(col("l_quantity"))), 2).cast("double").as("sum_qty"),
            round(sum(Num.dec2(col("l_extendedprice"))), 2).cast("double").as("sum_base_price"),
            round(sum(Num.dec2(col("l_extendedprice")) * (lit(1) - Num.dec4(col("l_discount")))), 2)
              .cast("double").as("sum_disc_price"),
            round(sum(Num.dec4(col("l_discount"))).cast("double") / count(lit(1)), 4)
              .as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some("""
        SELECT l_returnflag, l_linestatus,
          CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
          CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
          CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_disc_price,
          round(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_disc,
          count(*) AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // J1 chain with broadcast dimensions: revenue by region/nation.
    QueryDef(
      "q02_revenue_by_nation",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val o = Tables.orders(s, dir)
        // customer/nation/region are dimension-sized → broadcast; only the
        // lineitem⋈orders join shuffles (both sides big at 100 TB; AQE may
        // still pick SHJ/SMJ on the orderkey).
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(
            round(sum(Num.dec2(col("l_extendedprice")) * (lit(1) - Num.dec4(col("l_discount")))), 2)
              .cast("double").as("revenue"),
            countDistinct(col("o_orderkey")).as("n_orders"))
          .orderBy(col("r_name"), col("n_name"))
      },
      Some("""
        SELECT r_name, n_name,
          CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue,
          count(DISTINCT o_orderkey) AS n_orders
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
        ORDER BY r_name, n_name""")),

    // J2: left outer join preserving order-less customers.
    QueryDef(
      "q03_customer_orders_left",
      (s, dir) =>
        Tables.customer(s, dir)
          .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"), col("c_name"))
          .agg(
            count(col("o_orderkey")).as("n_orders"),
            coalesce(round(sum(Num.dec2(col("o_totalprice"))), 2), lit(0))
              .cast("double").as("total_spent"))
          .orderBy(col("c_custkey")),
      Some("""
        SELECT c_custkey, c_name,
          count(o_orderkey) AS n_orders,
          CAST(coalesce(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS total_spent
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey, c_name
        ORDER BY c_custkey""")),

    // A1: collect_list (sorted for determinism, string-joined for stable
    // cross-engine hashing).
    QueryDef(
      "q04_order_lines_collect",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .groupBy(col("l_orderkey"))
          .agg(
            count(lit(1)).as("n_lines"),
            array_join(sort_array(collect_list(col("l_linenumber"))), ",").as("line_numbers"))
          .orderBy(col("l_orderkey")),
      Some("""
        SELECT l_orderkey, count(*) AS n_lines,
          array_to_string(list_sort(list(l_linenumber)), ',') AS line_numbers
        FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""")),

    // Distinct aggregates: collect_set (sorted + joined for stable hashing)
    // and multiple count(DISTINCT) in one aggregate.
    QueryDef(
      "q57_distinct_aggs",
      (s, dir) =>
        // spread (r19): the distinct-agg Expand triples the row stream
        // before the partial aggregate — single-split input ran it on one
        // core; identity at real scale (see Tables.spread)
        Tables.spread(Tables.lineitem(s, dir))
          .groupBy(col("l_returnflag"))
          .agg(
            array_join(sort_array(collect_set(col("l_linestatus"))), ",").as("statuses"),
            countDistinct(col("l_suppkey")).as("n_suppliers"),
            countDistinct(col("l_partkey")).as("n_parts"))
          .orderBy(col("l_returnflag")),
      Some("""
        SELECT l_returnflag,
          array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
          count(DISTINCT l_suppkey) AS n_suppliers,
          count(DISTINCT l_partkey) AS n_parts
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // W1: top-k per key via row_number window (Spark 4.1's
    // InferWindowGroupLimit pushes the rank limit into the sort).
    QueryDef(
      "q05_top_orders_per_customer",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, dir)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
          .orderBy(col("o_custkey"), col("rn"))
      },
      Some("""
        SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
            row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) t
        WHERE rn <= 3 ORDER BY o_custkey, rn""")),

    // q05's WITH-TIES sibling: `rank()` keeps EVERY row tied at the
    // boundary (top-2 quantities per supplier — quantity is integral, so
    // ties are plentiful and the semantic difference from row_number is
    // structurally load-bearing: the result has far more than 2 rows per
    // key). Same single hash-partitioned window shape; map-side
    // WindowGroupLimit still applies (rank is a supported rank-like
    // function).
    QueryDef(
      "q152_topk_with_ties",
      (s, dir) => {
        val w = Window.partitionBy(col("l_suppkey")).orderBy(col("l_quantity").desc)
        Tables.lineitem(s, dir)
          .withColumn("rk", rank().over(w))
          .filter(col("rk") <= 2)
          .select(col("l_suppkey"), col("rk"), col("l_quantity"),
            col("l_orderkey"), col("l_linenumber"))
          .orderBy(col("l_suppkey"), col("rk"), col("l_orderkey"), col("l_linenumber"))
      },
      Some("""
        SELECT l_suppkey, rk, l_quantity, l_orderkey, l_linenumber FROM (
          SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
            rank() OVER (PARTITION BY l_suppkey ORDER BY l_quantity DESC) AS rk
          FROM lineitem) t
        WHERE rk <= 2 ORDER BY l_suppkey, rk, l_orderkey, l_linenumber""")),

    // P3 + Q9: conjunctive equality/range filter, pushed to the parquet scan.
    QueryDef(
      "q06_filter_range",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .filter(col("l_returnflag") === "R" && col("l_quantity") >= 48 &&
            col("l_shipdate") >= "1999-01-01" && col("l_shipdate") < "2000-01-01")
          .select(col("l_orderkey"), col("l_linenumber"),
            date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"), col("l_quantity"))
          .orderBy(col("l_orderkey"), col("l_linenumber")),
      Some("""
        SELECT l_orderkey, l_linenumber,
          strftime(l_shipdate, '%Y-%m-%d') AS ship_date, l_quantity
        FROM lineitem
        WHERE l_returnflag = 'R' AND l_quantity >= 48
          AND l_shipdate >= TIMESTAMP '1999-01-01' AND l_shipdate < TIMESTAMP '2000-01-01'
        ORDER BY l_orderkey, l_linenumber""")),

    // U1: unpivot wide → long in a single pass (native melt, not N unions).
    QueryDef(
      "q07_part_unpivot",
      (s, dir) =>
        Tables.part(s, dir)
          .select(col("p_partkey"), col("p_size").cast("double").as("p_size"),
            col("p_retailprice"))
          .unpivot(Array(col("p_partkey")), Array(col("p_size"), col("p_retailprice")),
            "metric", "value")
          .orderBy(col("p_partkey"), col("metric")),
      Some("""
        SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
        UNION ALL
        SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part
        ORDER BY p_partkey, metric""")),

    // U2/A3: explode + top-20 terms with deterministic tie-break.
    QueryDef(
      "q08_token_topk",
      (s, dir) =>
        Tables.part(s, dir)
          .select(explode(split(col("p_name"), " ")).as("token"))
          .groupBy(col("token"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("token"))
          .limit(20),
      Some("""
        SELECT token, count(*) AS n
        FROM (SELECT unnest(string_split(p_name, ' ')) AS token FROM part) t
        GROUP BY token ORDER BY n DESC, token LIMIT 20""")),

    // O2/O3: pagination page 3 × size 10 via the shared Paging utility
    // (TakeOrderedAndProject + tiny offset window; PlanSpec pins the plan).
    // The absolute rank is recomputed over the ≤size returned rows.
    QueryDef(
      "q09_pagination",
      (s, dir) => {
        val page = 3
        val size = 10
        val order = Seq(col("o_totalprice").desc, col("o_orderkey"))
        graft.ops.Paging.paginate(Tables.orders(s, dir), order, page, size)
          .withColumn("rn",
            row_number().over(Window.orderBy(order: _*)) + lit((page - 1) * size))
          .select(col("rn"), col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .orderBy(col("rn"))
      },
      Some("""
        SELECT rn, o_orderkey, o_custkey, o_totalprice FROM (
          SELECT o_orderkey, o_custkey, o_totalprice,
            row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) t
        WHERE rn > 20 AND rn <= 30 ORDER BY rn""")),

    // KEYSET PAGINATION (r17 — [[graft.ops.Paging.searchAfter]], the ES
    // `search_after` analog and the deep-scan path the q09 offset form's
    // result-window cap points at): three consecutive pages of the
    // price-ordered orders, each resumed strictly AFTER the previous
    // page's final (o_totalprice, o_orderkey) — per page one pushed-down
    // range filter + a distributed top-k, cost independent of page
    // depth. The oracle replays the pages positionally from the same
    // total order, which is exactly what keyset pages must equal when
    // the sort is total (o_orderkey breaks ties).
    QueryDef(
      "q224_search_after",
      (s, dir) => {
        import s.implicits._
        val sortCols = Seq(("o_totalprice", false), ("o_orderkey", true))
        val size = 7
        var last: Option[Seq[Any]] = None
        val pages = (0 until 3).flatMap { p =>
          val rows = graft.ops.Paging
            .searchAfter(Tables.orders(s, dir), sortCols, last, size)
            .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
            .collect()
          last = Some(Seq(
            rows.last.getAs[Double]("o_totalprice"),
            rows.last.getAs[Long]("o_orderkey").toDouble))
          rows.map(r => (p, r.getLong(0), r.getLong(1), r.getDouble(2)))
        }
        pages.toDF("page", "o_orderkey", "o_custkey", "o_totalprice")
          .orderBy(col("page"), col("o_totalprice").desc, col("o_orderkey"))
      },
      Some("""
        SELECT CAST((rn - 1) // 7 AS INT) AS page,
          o_orderkey, o_custkey, o_totalprice
        FROM (
          SELECT o_orderkey, o_custkey, o_totalprice,
            row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) t
        WHERE rn <= 21 ORDER BY rn""")),

    // DEEP KEYSET RESUME (r18 — VERDICT r17 next #6's gate half): jump
    // the cursor STRAIGHT to position 1000 of the total order (the
    // boundary row is fetched as one bounded top-k — a resuming crawler's
    // saved cursor) and serve the next 50 rows from there. Semantics at
    // depth are what this gates — the page must equal the positional
    // window rows 1001..1050 exactly; the SCALE half (after-predicate
    // pushed to the scan, job count independent of resume depth) is
    // pinned in PlanSpec, where it is deterministic.
    QueryDef(
      "q225_search_after_deep",
      (s, dir) => {
        val sortCols = Seq(("o_totalprice", false), ("o_orderkey", true))
        // the 1000th row of the total order = the saved cursor
        val b = Tables.orders(s, dir)
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(1000)
          .orderBy(col("o_totalprice").asc, col("o_orderkey").desc)
          .limit(1)
          .select(col("o_totalprice"), col("o_orderkey"))
          .head()
        graft.ops.Paging.searchAfter(Tables.orders(s, dir), sortCols,
            Some(Seq(b.getDouble(0), b.getLong(1).toDouble)), 50)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      },
      Some("""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM (
          SELECT o_orderkey, o_custkey, o_totalprice,
            row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) t
        WHERE rn > 1000 AND rn <= 1050
        ORDER BY o_totalprice DESC, o_orderkey""")),

    // KEYSET PAGINATION OVER A NULLABLE SORT KEY (r19 — VERDICT r18 next
    // #7): real corpora have nullable sort columns, and the plain
    // searchAfter contract refuses them (a null never satisfies the
    // strict inequality). `nullsLast = true` orders each column's
    // non-null values first, then its null bucket, and the cursor
    // predicate knows both phases: a non-null cursor is advanced past by
    // a greater value OR by entering the null bucket, a NULL cursor
    // matches forward only through `IS NULL` prefix equality. The walk
    // below crosses the null boundary mid-page and resumes INSIDE the
    // null bucket (a null-valued cursor) — the two shapes the plain form
    // silently drops rows on. Pushdown of the null-aware predicate is
    // pinned in PlanSpec over a parquet with real nulls (the test data
    // has none).
    QueryDef(
      "q229_search_after_nulls",
      (s, dir) => {
        // a deterministic nullable sort key over a fixed 60-row slice:
        // every 7th orderkey's bucket is NULL (~8 of 60 rows), so pages
        // of 20 cross from the value phase into the null bucket
        val base = Tables.orders(s, dir)
          .orderBy(col("o_orderkey")).limit(60)
          .withColumn("ship_bucket",
            when(col("o_orderkey") % 7 === 0, lit(null).cast("double"))
              .otherwise(col("o_totalprice")))
          .select(col("o_orderkey"), col("ship_bucket"))
          .localCheckpoint()
        val sortCols = Seq(("ship_bucket", true), ("o_orderkey", true))
        var last: Option[Seq[Any]] = None
        val pages = (0 until 3).flatMap { p =>
          val rows = graft.ops.Paging
            .searchAfter(base, sortCols, last, size = 20, nullsLast = true)
            .collect()
          last = Some(Seq(
            if (rows.last.isNullAt(1)) null else rows.last.getDouble(1),
            rows.last.getLong(0)))
          rows.map(r => (p, r.getLong(0),
            if (r.isNullAt(1)) None else Some(r.getDouble(1))))
        }
        import s.implicits._
        pages.toDF("page", "o_orderkey", "ship_bucket")
          .orderBy(col("page"), col("ship_bucket").asc_nulls_last,
            col("o_orderkey"))
      },
      Some("""
        WITH slice AS (
          SELECT o_orderkey, o_totalprice
          FROM orders ORDER BY o_orderkey LIMIT 60),
        b AS (
          SELECT o_orderkey,
            CASE WHEN o_orderkey % 7 = 0 THEN NULL
                 ELSE o_totalprice END AS ship_bucket
          FROM slice)
        SELECT CAST((rn - 1) // 20 AS INT) AS page, o_orderkey, ship_bucket
        FROM (
          SELECT o_orderkey, ship_bucket,
            row_number() OVER (
              ORDER BY ship_bucket ASC NULLS LAST, o_orderkey) AS rn
          FROM b) t
        WHERE rn <= 60 ORDER BY rn""")),

    // CONCURRENT PARTITION-DISJOINT UPSERTS (r19 — VERDICT r18 next #2):
    // a 100 TB ingest wants parallel writers on one table. The store's
    // optimistic commit lets partition-disjoint writers land
    // concurrently — a lost manifest CAS rebases over the new base when
    // the interleaved commit touched none of this writer's partitions
    // (and refuses loudly when it did; StoreSpec pins the refusal). The
    // gate seeds a table with sentinel values, splits 400 keys into two
    // partition-disjoint halves by the store's own routing, upserts the
    // halves from two racing threads, and hash-compares the final table
    // against the serialized result — which is exactly the source rows.
    QueryDef(
      "q231_store_concurrent_upsert",
      (s, dir) => {
        val t = "q231_occ"
        s.sql(s"DROP TABLE IF EXISTS $t")
        val base = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_totalprice"))
          .orderBy(col("o_orderkey")).limit(400).localCheckpoint()
        graft.sources.Store.bulkWrite(
          base.withColumn("o_totalprice", lit(-1.0)), t, "o_orderkey",
          buckets = 4, parts = 8, validateKeys = true)
        val keys = base.select(col("o_orderkey")).collect().map(_.getLong(0))
        val partsOfKey = keys.map(k =>
          k -> graft.sources.Store.partitionOf(s, t, k)).toMap
        val lowHalf = partsOfKey.values.toSeq.distinct.sorted
          .take(math.max(1, partsOfKey.values.toSeq.distinct.size / 2)).toSet
        val (aKeys, bKeys) = keys.partition(k => lowHalf(partsOfKey(k)))
        def upsertHalf(ks: Array[Long]): Unit = {
          val half = base.filter(col("o_orderkey")
            .isin(ks.map(java.lang.Long.valueOf).toSeq: _*)).localCheckpoint()
          graft.sources.Store.upsert(s, t, half, "o_orderkey", buckets = 4)
        }
        val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
        val th = Seq(aKeys, bKeys).map(ks => new Thread(() =>
          try upsertHalf(ks) catch { case e: Throwable => errs.add(e); () }))
        th.foreach(_.start()); th.foreach(_.join())
        if (!errs.isEmpty) throw errs.peek()
        val out = graft.sources.Store.read(s, t)
          .select(col("o_orderkey"), col("o_totalprice"))
          .orderBy(col("o_orderkey")).localCheckpoint()
        s.sql(s"DROP TABLE IF EXISTS $t")
        out
      },
      Some("""
        SELECT o_orderkey, o_totalprice FROM (
          SELECT o_orderkey, o_totalprice
          FROM orders ORDER BY o_orderkey LIMIT 400) t
        ORDER BY o_orderkey""")),

    // Anti-join (Q4 exclusion semantics as a plan-level join): customers
    // with no order in 2001.
    QueryDef(
      "q10_customers_without_orders",
      (s, dir) =>
        Tables.customer(s, dir)
          .join(Tables.orders(s, dir).filter(col("o_orderdate") >= "2001-01-01"),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey")),
      Some("""
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2001-01-01')
        ORDER BY c_custkey""")),

    // Semi-join: suppliers with at least one max-quantity line.
    QueryDef(
      "q11_suppliers_with_bulk_lines",
      (s, dir) =>
        Tables.supplier(s, dir)
          .join(Tables.lineitem(s, dir).filter(col("l_quantity") >= 50),
            col("s_suppkey") === col("l_suppkey"), "left_semi")
          .select(col("s_suppkey"), col("s_name"))
          .orderBy(col("s_suppkey")),
      Some("""
        SELECT s_suppkey, s_name FROM supplier
        WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_quantity >= 50)
        ORDER BY s_suppkey""")),

    // Q6: point lookup (partition/row-group pruning path at scale).
    QueryDef(
      "q12_point_lookup",
      (s, dir) =>
        Tables.part(s, dir)
          .filter(col("p_partkey") === 42)
          .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
            col("p_size"), col("p_retailprice")),
      Some("""
        SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
        FROM part WHERE p_partkey = 42""")),

    // P4/P6 + CASE buckets: derived column then histogram.
    QueryDef(
      "q13_acctbal_buckets",
      (s, dir) =>
        Tables.customer(s, dir)
          .withColumn("bal_bucket",
            when(col("c_acctbal") < 0, "negative")
              .when(col("c_acctbal") < 5000, "low")
              .otherwise("high"))
          .groupBy(col("c_mktsegment"), col("bal_bucket"))
          .agg(count(lit(1)).as("n_customers"))
          .orderBy(col("c_mktsegment"), col("bal_bucket")),
      Some("""
        SELECT c_mktsegment,
          CASE WHEN c_acctbal < 0 THEN 'negative'
               WHEN c_acctbal < 5000 THEN 'low'
               ELSE 'high' END AS bal_bucket,
          count(*) AS n_customers
        FROM customer
        GROUP BY 1, 2 ORDER BY c_mktsegment, bal_bucket""")),

    // General window functions: lag / rank / running sum over a total order.
    QueryDef(
      "q48_window_functions",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        Tables.orders(s, dir)
          .filter(col("o_custkey") < 100)
          .select(
            col("o_custkey"), col("o_orderkey"),
            rank().over(w).as("order_rank"),
            coalesce(lag(col("o_orderkey"), 1).over(w), lit(-1)).as("prev_orderkey"),
            round(sum(Num.dec2(col("o_totalprice")))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
              .cast("double").as("running_spend"))
          .orderBy(col("o_custkey"), col("order_rank"))
      },
      Some("""
        SELECT o_custkey, o_orderkey,
          rank() OVER w AS order_rank,
          coalesce(lag(o_orderkey, 1) OVER w, -1) AS prev_orderkey,
          CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_spend
        FROM orders
        WHERE o_custkey < 100
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ORDER BY o_custkey, order_rank""")),

    // Rollup: hierarchical subtotals (region → nation → total).
    QueryDef(
      "q49_rollup_counts",
      (s, dir) =>
        Tables.nation(s, dir)
          .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
          .rollup(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("n"))
          .select(
            coalesce(col("r_name"), lit("ALL")).as("r_name"),
            coalesce(col("n_name"), lit("ALL")).as("n_name"),
            col("n"))
          .orderBy(col("r_name"), col("n_name")),
      Some("""
        SELECT coalesce(r_name, 'ALL') AS r_name,
               coalesce(n_name, 'ALL') AS n_name,
               count(*) AS n
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
        ORDER BY r_name, n_name""")),

    // Set operations: INTERSECT / EXCEPT with set semantics.
    QueryDef(
      "q50_set_ops",
      (s, dir) => {
        val smallNamed = Tables.part(s, dir)
          .filter(col("p_name").startsWith("small")).select(col("p_partkey"))
        val economy = Tables.part(s, dir)
          .filter(col("p_type") === "ECONOMY").select(col("p_partkey"))
        smallNamed.intersect(economy)
          .withColumn("op", lit("intersect"))
          .unionAll(smallNamed.except(economy).withColumn("op", lit("except")))
          .orderBy(col("op"), col("p_partkey"))
      },
      Some("""
        (SELECT p_partkey, 'intersect' AS op FROM
          (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
           INTERSECT
           SELECT p_partkey FROM part WHERE p_type = 'ECONOMY') t1)
        UNION ALL
        (SELECT p_partkey, 'except' AS op FROM
          (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
           EXCEPT
           SELECT p_partkey FROM part WHERE p_type = 'ECONOMY') t2)
        ORDER BY op, p_partkey""")),

    // Cube: all grouping-set combinations over two dims.
    QueryDef(
      "q53_cube_counts",
      (s, dir) =>
        Tables.orders(s, dir)
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"))
          .select(
            coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
            coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
            col("n"))
          .orderBy(col("o_orderstatus"), col("o_orderpriority")),
      Some("""
        SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
               coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
               count(*) AS n
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus, o_orderpriority""")),

    // Correlated scalar subquery (Catalyst decorrelates to a join):
    // parts priced above their type's average.
    QueryDef(
      "q54_above_type_avg",
      (s, dir) => {
        // direct-path table reference — no createOrReplaceTempView (that
        // mutated session state on every invocation, VERDICT r3)
        // avg computed as exact-decimal sum cast to double, divided by the
        // count — engine avg() quantization rules differ (Spark re-scales
        // the decimal, DuckDB goes straight to double); this form is
        // bit-identical IEEE on both sides.
        s.sql(s"""
          SELECT p_partkey, p_type, p_retailprice
          FROM parquet.`$dir/part.parquet` p
          WHERE p_retailprice > (
            SELECT CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
            FROM parquet.`$dir/part.parquet` i WHERE i.p_type = p.p_type)
          ORDER BY p_partkey""")
      },
      Some("""
        SELECT p_partkey, p_type, p_retailprice
        FROM part p
        WHERE p_retailprice > (
          SELECT CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
          FROM part i WHERE i.p_type = p.p_type)
        ORDER BY p_partkey""")),

    // Scalar string-function battery.
    QueryDef(
      "q55_string_funcs",
      (s, dir) =>
        Tables.part(s, dir)
          .select(
            col("p_partkey"),
            upper(col("p_name")).as("name_upper"),
            length(col("p_name")).as("name_len"),
            substring(col("p_brand"), 7, 10).as("brand_num"),
            regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
            concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"),
            lpad(col("p_partkey").cast("string"), 8, "0").as("key_padded"))
          .orderBy(col("p_partkey")),
      Some("""
        SELECT p_partkey,
          upper(p_name) AS name_upper,
          length(p_name) AS name_len,
          substr(p_brand, 7, 10) AS brand_num,
          coalesce(regexp_extract(p_name, '^(\w+)', 1), '') AS first_word,
          concat_ws('/', p_brand, p_type) AS brand_type,
          lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_padded
        FROM part ORDER BY p_partkey""")),

    // Scalar date-function battery (week-day conventions mapped explicitly:
    // both sides emit ISO day-of-week, Monday=1).
    QueryDef(
      "q56_date_funcs",
      (s, dir) =>
        Tables.orders(s, dir)
          .select(
            col("o_orderkey"),
            year(col("o_orderdate")).as("y"),
            month(col("o_orderdate")).as("m"),
            dayofmonth(col("o_orderdate")).as("d"),
            quarter(col("o_orderdate")).as("q"),
            dayofweek(col("o_orderdate")).as("dow_sun1"),
            date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("plus30"),
            datediff(lit("2002-01-01").cast("date"), col("o_orderdate")).as("days_to_2002"))
          .orderBy(col("o_orderkey")),
      Some("""
        SELECT o_orderkey,
          CAST(year(o_orderdate) AS INT) AS y,
          CAST(month(o_orderdate) AS INT) AS m,
          CAST(day(o_orderdate) AS INT) AS d,
          CAST(quarter(o_orderdate) AS INT) AS q,
          CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow_sun1,
          strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
          datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002
        FROM orders ORDER BY o_orderkey""")),

    // HLL approximate distinct — the 100 TB replacement for exact
    // count(DISTINCT) (no per-key shuffle of raw values, mergeable
    // sketches). Sketch internals are engine-specific, so the raw estimate
    // can't hash-compare; instead the query emits the exact count plus a
    // bound flag (rsd=0.02, asserted within 5%) and the oracle verifies the
    // exact columns and asserts the flag is always true. The exact
    // count_distinct here is gate-only — the production path is the sketch.
    QueryDef(
      "q51_approx_distinct",
      (s, dir) =>
        // spread (r19): same Expand-before-partial-agg shape as q57
        Tables.spread(Tables.orders(s, dir))
          .groupBy(col("o_orderpriority"))
          .agg(
            approx_count_distinct(col("o_custkey"), 0.02).as("approx_custs"),
            countDistinct(col("o_custkey")).as("exact_custs"),
            count(lit(1)).as("n_orders"))
          .select(
            col("o_orderpriority"), col("exact_custs"), col("n_orders"),
            (abs(col("approx_custs") - col("exact_custs")) <=
              col("exact_custs") * 0.05).as("hll_within_5pct"))
          .orderBy(col("o_orderpriority")),
      Some("""
        SELECT o_orderpriority,
          count(DISTINCT o_custkey) AS exact_custs,
          count(*) AS n_orders,
          true AS hll_within_5pct
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // Approximate quantiles (single-pass sketch — the 100 TB path for
    // percentile profiling; an exact percentile sorts the column). Same
    // q51 gate pattern: exact columns hash-compared, the sketch verified
    // by in-query error-bound flags (exact interpolated percentiles are
    // engine-private float paths, so the bound — not the value — is the
    // stable cross-engine contract).
    QueryDef(
      "q61_value_quantiles",
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n_events"),
            round(min(Num.dec6(col("value"))), 4).cast("double").as("min_value"),
            round(max(Num.dec6(col("value"))), 4).cast("double").as("max_value"),
            percentile_approx(col("value"),
              array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("approx_q"),
            expr("percentile(value, 0.5)").as("exact_p50"))
          .select(
            col("event_type"), col("n_events"), col("min_value"), col("max_value"),
            (element_at(col("approx_q"), 1) <= element_at(col("approx_q"), 2) &&
              element_at(col("approx_q"), 2) <= element_at(col("approx_q"), 3))
              .as("quartiles_monotone"),
            (abs(element_at(col("approx_q"), 2) - col("exact_p50")) <=
              (col("max_value") - col("min_value")) * 0.05).as("p50_within_5pct_range"))
          .orderBy(col("event_type")),
      Some("""
        SELECT event_type, count(*) AS n_events,
          CAST(round(min(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS min_value,
          CAST(round(max(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS max_value,
          true AS quartiles_monotone,
          true AS p50_within_5pct_range
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // Skew-salted join under the gate: the deterministic-salt replicated
    // join ([[graft.ops.Skew.saltedJoin]]) must produce EXACTLY the plain
    // join's result — the oracle runs the unsalted SQL join. The fact
    // side's hot keys are split across 8 salt buckets; the build side
    // replicates 8×.
    QueryDef(
      "q63_skew_salted_join",
      (s, dir) => {
        val probe = Tables.lineitem(s, dir)
          .select(col("l_suppkey").as("suppkey"), Num.dec2(col("l_extendedprice")).as("price"))
        val build = Tables.supplier(s, dir)
          .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
        graft.ops.Skew.saltedJoin(probe, build, "suppkey", saltBuckets = 8)
          .groupBy(col("s_nationkey"))
          .agg(
            count(lit(1)).as("n_lines"),
            round(sum(col("price")), 2).cast("double").as("revenue"))
          .orderBy(col("s_nationkey"))
      },
      Some("""
        SELECT s_nationkey, count(*) AS n_lines,
          CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY s_nationkey ORDER BY s_nationkey""")),

    // q63's PRE-FLIGHT: the skew report over the same join key, run
    // BEFORE choosing plain shuffle vs salted join vs AQE split — top-10
    // heaviest suppkeys with row share and skew factor (count ÷ mean
    // rows/key = the salt replication that key would need). One
    // map-combinable count aggregate + TakeOrderedAndProject; totals ride
    // the 1-row broadcast scalar subquery (q24 cap pattern).
    QueryDef(
      "q133_skew_report",
      (s, dir) =>
        graft.ops.Skew.skewReport(
          Tables.lineitem(s, dir).select(col("l_suppkey")), "l_suppkey", topK = 10),
      Some("""
        WITH c AS (SELECT l_suppkey, count(*) AS n_rows FROM lineitem GROUP BY l_suppkey),
        t AS (
          SELECT CAST(sum(n_rows) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS keys
          FROM c)
        SELECT l_suppkey, n_rows,
          round(CAST(n_rows AS DOUBLE) / CAST(t.total AS DOUBLE), 4) AS share,
          round(CAST(n_rows AS DOUBLE) * CAST(t.keys AS DOUBLE)
            / CAST(t.total AS DOUBLE), 4) AS skew_factor,
          t.total AS total_rows, t.keys AS n_keys
        FROM c, t ORDER BY n_rows DESC, l_suppkey LIMIT 10""")),

    // q63's LEFT-OUTER form: the build side is FILTERED (nations < 12) so
    // a real slice of probe rows has no match, and the salted left join
    // must keep each of them exactly once (build replication can only
    // multiply MATCHED rows; the salt rides the probe row singly). Oracle
    // is the plain unsalted LEFT JOIN. Unmatched group keyed as -1 so the
    // null group hashes identically cross-engine.
    QueryDef(
      "q137_skew_salted_left_join",
      (s, dir) => {
        val probe = Tables.lineitem(s, dir)
          .select(col("l_suppkey").as("suppkey"), Num.dec2(col("l_extendedprice")).as("price"))
        val build = Tables.supplier(s, dir)
          .filter(col("s_nationkey") < 12)
          .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
        graft.ops.Skew.saltedJoin(probe, build, "suppkey", saltBuckets = 8,
            joinType = "left")
          .groupBy(coalesce(col("s_nationkey"), lit(-1)).as("nationkey"))
          .agg(
            count(lit(1)).as("n_lines"),
            round(sum(col("price")), 2).cast("double").as("revenue"))
          .orderBy(col("nationkey"))
      },
      Some("""
        SELECT coalesce(s.s_nationkey, -1) AS nationkey, count(*) AS n_lines,
          CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
        FROM lineitem l
        LEFT JOIN (SELECT * FROM supplier WHERE s_nationkey < 12) s
          ON l.l_suppkey = s.s_suppkey
        GROUP BY 1 ORDER BY 1""")),

    // The decision q133's report exists to feed: strategy + salt buckets
    // per reported key as a pure row-local rule (broadcast bar on total
    // rows, salt bar on skew_factor, ⌈skew_factor⌉ replication clamped to
    // [2, 32]) — the oracle replays the CASE verbatim over the same
    // report CTE. Bars here (total ≤ 5000 rows, factor ≥ 1.05) are chosen
    // so sf0.01 exercises the salted/plain split on real data; the
    // broadcast branch is spec-gated on a planted fixture (SkewSpec).
    QueryDef(
      "q138_join_decision",
      (s, dir) =>
        graft.ops.Skew.joinDecision(
          graft.ops.Skew.skewReport(
            Tables.lineitem(s, dir).select(col("l_suppkey")), "l_suppkey", topK = 10),
          broadcastRowLimit = 5000L, skewFactorBar = 1.05, maxSaltBuckets = 32)
          .orderBy(col("n_rows").desc, col("l_suppkey")),
      Some("""
        WITH c AS (SELECT l_suppkey, count(*) AS n_rows FROM lineitem GROUP BY l_suppkey),
        t AS (
          SELECT CAST(sum(n_rows) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS keys
          FROM c),
        r AS (
          SELECT l_suppkey, n_rows,
            round(CAST(n_rows AS DOUBLE) / CAST(t.total AS DOUBLE), 4) AS share,
            round(CAST(n_rows AS DOUBLE) * CAST(t.keys AS DOUBLE)
              / CAST(t.total AS DOUBLE), 4) AS skew_factor,
            t.total AS total_rows, t.keys AS n_keys
          FROM c, t ORDER BY n_rows DESC, l_suppkey LIMIT 10)
        SELECT l_suppkey, n_rows, share, skew_factor, total_rows, n_keys,
          CASE WHEN total_rows <= 5000 THEN 'broadcast'
               WHEN skew_factor >= 1.05 THEN 'salted'
               ELSE 'plain' END AS strategy,
          CAST(CASE WHEN total_rows > 5000 AND skew_factor >= 1.05
               THEN least(greatest(CAST(ceil(skew_factor) AS INTEGER), 2), 32)
               ELSE 1 END AS INTEGER) AS salt_buckets
        FROM r ORDER BY n_rows DESC, l_suppkey""")),

    // ADAPTIVE JOIN ([[graft.ops.Skew.adaptiveJoin]]) — the closed loop
    // q133's report and q138's decision exist to feed: ONE entry point
    // measures (build count + probe key report), decides, and dispatches
    // broadcast/salted/plain. Bars here (build limit 0, salt bar 1.05)
    // force the measured branch on real data; the emitted decision rides
    // the result as columns and the ORACLE REPLAYS THE SAME RULE from
    // the report's head row — so a wrong dispatch (or a dispatch that
    // changes the join's rows) flips the hash. Aggregate is q63's,
    // pinning hash-equality to the plain unsalted join.
    QueryDef(
      "q155_adaptive_join",
      (s, dir) => {
        val probe = Tables.lineitem(s, dir)
          .select(col("l_suppkey").as("suppkey"), Num.dec2(col("l_extendedprice")).as("price"))
        val build = Tables.supplier(s, dir)
          .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
        val (joined, choice) = graft.ops.Skew.adaptiveJoin(
          probe, build, "suppkey",
          broadcastRowLimit = 0L, skewFactorBar = 1.05, maxSaltBuckets = 32)
        joined
          .groupBy(col("s_nationkey"))
          .agg(
            count(lit(1)).as("n_lines"),
            round(sum(col("price")), 2).cast("double").as("revenue"))
          .withColumn("strategy", lit(choice.strategy))
          .withColumn("salt_buckets", lit(choice.saltBuckets))
          .orderBy(col("s_nationkey"))
      },
      Some("""
        WITH c AS (SELECT l_suppkey, count(*) AS n_rows FROM lineitem GROUP BY l_suppkey),
        t AS (
          SELECT CAST(sum(n_rows) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS keys
          FROM c),
        top AS (
          SELECT round(CAST(n_rows AS DOUBLE) * CAST(t.keys AS DOUBLE)
            / CAST(t.total AS DOUBLE), 4) AS sf
          FROM c, t ORDER BY n_rows DESC, l_suppkey LIMIT 1)
        SELECT s_nationkey, count(*) AS n_lines,
          CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
          (SELECT CASE WHEN sf >= 1.05 THEN 'salted' ELSE 'plain' END FROM top) AS strategy,
          (SELECT CAST(CASE WHEN sf >= 1.05
               THEN least(greatest(CAST(ceil(sf) AS INTEGER), 2), 32)
               ELSE 1 END AS INTEGER) FROM top) AS salt_buckets
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY s_nationkey ORDER BY s_nationkey""")),

    // Pivot (wide conditional aggregation) with fixed pivot values.
    QueryDef(
      "q14_pivot_status",
      (s, dir) =>
        Tables.orders(s, dir)
          .groupBy(col("o_orderpriority"))
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(count(lit(1)))
          .na.fill(0L, Seq("F", "O", "P"))
          .orderBy(col("o_orderpriority")),
      Some("""
        -- CAST: DuckDB promotes sum(int) to HUGEINT, which the driver's
        -- hasher renders differently from Spark's int64 (CORRECTNESS_r02)
        SELECT o_orderpriority,
          CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
          CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
          CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // Z-ORDER LAYOUT ([[graft.ops.Layout]]): Morton-interleave
    // (l_partkey, l_suppkey) into a single clustering key and bucket rows
    // by its bit prefix — every step integer-exact and shuffle-free
    // (power-of-2 equi-width quantization, no sampling), so the oracle
    // replays the whole layout bit for bit: the same shift rule (scanned
    // over k), the same 16-term interleave, the same prefix buckets. The
    // emitted manifest is what a scan planner prunes against: per bucket,
    // each dim's min/max envelope plus the would-scan flag for a
    // suppkey-only box — the query class a partkey-sorted layout cannot
    // prune at all (LayoutSpec quantifies the skip ratio).
    QueryDef(
      "q167_zorder_layout",
      (s, dir) => {
        import graft.ops.Layout
        val dims = Seq("l_partkey", "l_suppkey")
        val li = Tables.lineitem(s, dir).select(dims.map(col): _*)
        val bits = 8
        val plan = Layout.quantizationPlan(li, dims, bits)
        val z = Layout.withZ(li, plan, bits, bucketBits = 4)
        // suppkey box [min + span/4, min + span/2]: derived from the same
        // driver-collected stats the quantization used (bounded collect)
        val r = li.agg(min(col("l_suppkey")).cast("long"), max(col("l_suppkey")).cast("long")).head()
        val (mns, mxs) = (r.getLong(0), r.getLong(1))
        val (lo, hi) = (mns + (mxs - mns) / 4, mns + (mxs - mns) / 2)
        Layout.bucketEnvelopes(z, dims)
          .withColumn("scan_for_suppkey_box",
            !(col("max_l_suppkey") < lo || col("min_l_suppkey") > hi))
          .orderBy(col("z_bucket"))
      },
      Some {
        val zExpr = (0 until 8).flatMap(i =>
          Seq(s"(((qp >> $i) & 1) << ${2 * i})", s"(((qs >> $i) & 1) << ${2 * i + 1})"))
          .mkString(" + ")
        s"""
        WITH li AS (
          SELECT CAST(l_partkey AS BIGINT) AS p, CAST(l_suppkey AS BIGINT) AS s
          FROM lineitem),
        b AS (
          SELECT min(p) AS mnp, max(p) AS mxp, min(s) AS mns, max(s) AS mxs FROM li),
        sh AS (
          SELECT
            (SELECT min(k) FROM range(0, 63) t(k), b WHERE ((mxp - mnp) >> k) < 256) AS shp,
            (SELECT min(k) FROM range(0, 63) t(k), b WHERE ((mxs - mns) >> k) < 256) AS shs),
        q AS (
          SELECT ((p - mnp) >> shp) AS qp, ((s - mns) >> shs) AS qs, p, s
          FROM li, b, sh),
        z AS (SELECT ($zExpr) AS z, p, s FROM q),
        env AS (
          SELECT (z >> 12) AS z_bucket, count(*) AS n_rows,
            min(p) AS min_l_partkey, max(p) AS max_l_partkey,
            min(s) AS min_l_suppkey, max(s) AS max_l_suppkey
          FROM z GROUP BY 1)
        SELECT env.*,
          NOT (max_l_suppkey < (mns + (mxs - mns) // 4)
            OR min_l_suppkey > (mns + (mxs - mns) // 2)) AS scan_for_suppkey_box
        FROM env, b ORDER BY z_bucket"""
      }),

    // Z-ORDER BOX READ ([[graft.ops.Layout.readBox]]) — the read side of
    // q167's layout, END TO END on disk: write lineitem z-ordered, then
    // answer a (partkey × suppkey) box query through the driver-side
    // bucket enumeration ([[Layout.bucketsForBox]] — no file listing, no
    // stats scan) + partition-pruned scan + residual exact filter. The
    // result must equal the plain filter (the oracle replays the same
    // quarter-to-half box arithmetic over the raw table), and the
    // emitted pruned flag pins that the box touched a strict subset of
    // the 16 buckets (LayoutSpec pins admitted == holding exactly).
    QueryDef(
      "q185_zorder_box_read",
      (s, dir) => {
        import graft.ops.Layout
        val dims = Seq("l_partkey", "l_suppkey")
        val li = Tables.lineitem(s, dir).select(dims.map(col): _*)
        val out = java.nio.file.Files.createTempDirectory("q185z").toString
        val plan = Layout.zorderWrite(li, dims, out, bits = 8, bucketBits = 4)
        val r = li.agg(
          min(col("l_partkey")).cast("long"), max(col("l_partkey")).cast("long"),
          min(col("l_suppkey")).cast("long"), max(col("l_suppkey")).cast("long")).head()
        val (mnp, mxp, mns, mxs) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        val box = Seq(
          (mnp + (mxp - mnp) / 4, mnp + (mxp - mnp) / 2),
          (mns + (mxs - mns) / 4, mns + (mxs - mns) / 2))
        val pruned = Layout.bucketsForBox(plan, bits = 8, bucketBits = 4, box).size < 16
        val res = Layout.readBox(s, out, plan, bits = 8, bucketBits = 4, box)
          .groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("n_rows"), sum(col("l_partkey")).cast("long").as("pk_sum"))
          .withColumn("bucket_pruned", lit(pruned))
          .orderBy(col("l_suppkey"))
          .localCheckpoint()
        graft.queries.EventOps.rmTree(out)
        res
      },
      Some("""
        WITH b AS (
          SELECT min(l_partkey) AS mnp, max(l_partkey) AS mxp,
                 min(l_suppkey) AS mns, max(l_suppkey) AS mxs
          FROM lineitem)
        SELECT l_suppkey, count(*) AS n_rows,
          CAST(sum(l_partkey) AS BIGINT) AS pk_sum,
          true AS bucket_pruned
        FROM lineitem, b
        WHERE l_partkey BETWEEN mnp + (mxp - mnp) // 4 AND mnp + (mxp - mnp) // 2
          AND l_suppkey BETWEEN mns + (mxs - mns) // 4 AND mns + (mxs - mns) // 2
        GROUP BY l_suppkey ORDER BY l_suppkey""")),

    // Z-ORDERED STORE COMPACTION + ENVELOPE-PRUNED BOX READ (r12 verdict
    // #2 — q185's layout meeting q153's compaction executor): orders live
    // in a generational store table; an upsert builds a delta chain;
    // `compact(zorder = (cust, price))` folds every partition into one
    // generation PER Z-PREFIX BUCKET (key-disjoint) and commits the
    // envelope sidecar beside the manifest; a post-compaction upsert of
    // ONE key leaves exactly its routing partition stale. The box read
    // then prunes whole generations driver-side (clean partitions), falls
    // back to the merged chain for the stale one, and must equal the
    // plain filter the oracle replays over the fully-mutated table — with
    // the emitted flag pinning that pruning really dropped generations.
    QueryDef(
      "q189_store_zorder_box",
      (s, dir) => {
        import graft.sources.Store
        val ord = Tables.orders(s, dir).select(
          col("o_orderkey"),
          col("o_custkey").as("cust"),
          floor(col("o_totalprice")).cast("long").as("price"))
        val table = "zbox_orders"
        Store.bulkWrite(ord, table, "o_orderkey", buckets = 4, parts = 8,
          validateKeys = true)
        Store.upsert(s, table,
          ord.filter(col("o_orderkey") % 7 === 0)
            .withColumn("price", col("price") + lit(100000L)),
          "o_orderkey", buckets = 4)
        Store.compact(s, table,
          zorder = Some(Store.ZorderSpec(Seq("cust", "price"), bits = 8, bucketBits = 4)))
        // one post-compaction key: its routing partition falls back to the
        // merge-on-read chain; every other partition stays envelope-pruned
        val k = ord.agg(min(col("o_orderkey"))).head().getLong(0)
        // read-modify-write through the routed lookup (the serving path),
        // so the bump stacks on whatever the key's CURRENT price is;
        // checkpoint before the upsert appends to the table it read
        Store.upsert(s, table,
          Store.lookup(s, table, Seq(k))
            .withColumn("price", col("price") + lit(777777L))
            .localCheckpoint(),
          "o_orderkey", buckets = 4)
        val st = Store.read(s, table)
          .agg(min(col("cust")).cast("long"), max(col("cust")).cast("long"),
            min(col("price")), max(col("price"))).head()
        val (mnc, mxc, mnp, mxp) =
          (st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3))
        val box = Seq(
          (mnc + (mxc - mnc) / 4, mnc + (mxc - mnc) / 2),
          (mnp + (mxp - mnp) / 4, mnp + (mxp - mnp) / 2))
        val (admitted, total) = Store.boxGenCounts(s, table, box)
        Store.readBox(s, table, box)
          .groupBy(col("cust"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("price")).cast("long").as("price_sum"))
          .withColumn("gen_pruned", lit(admitted < total))
          .orderBy(col("cust"))
      },
      Some("""
        WITH o AS (
          SELECT o_orderkey, o_custkey AS cust,
            CAST(floor(o_totalprice) AS BIGINT) AS price
          FROM orders),
        m1 AS (
          SELECT o_orderkey, cust,
            CASE WHEN o_orderkey % 7 = 0 THEN price + 100000 ELSE price END AS price
          FROM o),
        m2 AS (
          SELECT o_orderkey, cust,
            CASE WHEN o_orderkey = (SELECT min(o_orderkey) FROM o)
              THEN price + 777777 ELSE price END AS price
          FROM m1),
        b AS (
          SELECT min(cust) AS mnc, max(cust) AS mxc,
                 min(price) AS mnp, max(price) AS mxp
          FROM m2)
        SELECT cust, count(*) AS n_orders,
          CAST(sum(price) AS BIGINT) AS price_sum,
          true AS gen_pruned
        FROM m2, b
        WHERE cust BETWEEN mnc + (mxc - mnc) // 4 AND mnc + (mxc - mnc) // 2
          AND price BETWEEN mnp + (mxp - mnp) // 4 AND mnp + (mxp - mnp) // 2
        GROUP BY cust ORDER BY cust""")),
  )
}
