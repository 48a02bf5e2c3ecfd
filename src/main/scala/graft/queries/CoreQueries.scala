package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{functions => gf}
import graft.Tables

/** Core relational query surface — projections, filters, scalar/string/
  * date functions, joins, aggregations, windows, sort/limit/top-k, set
  * ops (SURVEY.md §2.2-§2.8), expressed over the driver's TPC-H-ish
  * test tables.
  *
  * Scale notes (100 TB): every aggregation here is a partial-agg-able
  * `groupBy` (map-side combine); dimension joins (`nation`, `region`)
  * are broadcast; top-k compiles to TakeOrderedAndProject (no global
  * sort); filters/projections reach the parquet scan via Catalyst
  * pushdown. Doubles in aggregates are rounded so the DuckDB oracle's
  * sequential summation and Spark's partition-tree summation agree.
  */
object CoreQueries {

  val defs: Seq[QueryDef] = Seq(
    // A1/F-group: TPC-H Q1-style pricing summary (reference analog:
    // grouped COUNT over the star — superset query ids 8,11,12).
    QueryDef("q01_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) + 0.0 AS sum_qty,
        |  round(sum(l_extendedprice), 2) + 0.0 AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) + 0.0 AS sum_disc_price,
        |  count(*) AS cnt,
        |  round(round(sum(l_quantity), 2) / count(*), 4) + 0.0 AS avg_qty
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          gf.roundz(sum("l_quantity"), 2).as("sum_qty"),
          gf.roundz(sum("l_extendedprice"), 2).as("sum_base_price"),
          gf.roundz(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          count(lit(1)).as("cnt"),
          gf.roundz(round(sum("l_quantity"), 2) / count(lit(1)), 4).as("avg_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // A2/D8/O2: month-bucketed trend (superset query ids 8, 13).
    QueryDef("q02_monthly_trend",
      """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
        |  count(*) AS cnt
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("month")
    },

    // A3/D2/D3: multi-key trend (superset query id=14).
    QueryDef("q03_multi_key_trend",
      """SELECT year(o_orderdate) AS year_number,
        |  monthname(o_orderdate) AS month_name,
        |  month(o_orderdate) AS month_number,
        |  count(*) AS cnt
        |FROM orders GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(
          year(col("o_orderdate")).cast("long").as("year_number"),
          date_format(col("o_orderdate"), "MMMM").as("month_name"),
          month(col("o_orderdate")).cast("long").as("month_number"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("year_number", "month_number")
    },

    // A4: ungrouped KPI total (superset slice 1).
    QueryDef("q04_kpi_total",
      "SELECT count(*) AS total_rows FROM lineitem") { (s, dir) =>
      Tables.lineitem(s, dir).agg(count(lit(1)).as("total_rows"))
    },

    // A5: max/min watermark (reference extract_postgres_table.py:72).
    QueryDef("q05_watermark",
      """SELECT max(o_orderdate) AS max_ts, min(o_orderdate) AS min_ts
        |FROM orders""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .agg(max("o_orderdate").as("max_ts"), min("o_orderdate").as("min_ts"))
    },

    // A6: distinct as dedup (reference spark_etl_script.py:94 etc.).
    QueryDef("q06_distinct_segments",
      "SELECT DISTINCT c_mktsegment AS segment FROM customer ORDER BY 1") { (s, dir) =>
      Tables.customer(s, dir)
        .select(col("c_mktsegment").as("segment")).distinct().orderBy("segment")
    },

    // A7/J12: count-by-geo via broadcast dim chain (superset slice 2).
    QueryDef("q07_count_by_nation",
      """SELECT r_name, n_name, count(*) AS cnt
        |FROM customer c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("r_name", "n_name")
    },

    // O1: top-k (superset query id=11 "top 15 employers") — plans as
    // TakeOrderedAndProject, no global sort.
    QueryDef("q08_topk_customers",
      """SELECT o_custkey, count(*) AS cnt FROM orders
        |GROUP BY 1 ORDER BY cnt DESC, o_custkey LIMIT 15""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .groupBy("o_custkey").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("o_custkey")).limit(15)
    },

    // J12: BI star flatten — fact joined through dims, aggregated
    // (superset tables rows 2/5).
    QueryDef("q09_star_flatten",
      """SELECT n_name, count(*) AS cnt,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) + 0.0 AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // Aggregate BEFORE each join (r16, guide §2.3): revenue and row
      // count fold per orderkey on the map side (lineitem files are
      // orderkey-clustered, so the partial agg collapses ~4:1 before
      // the exchange the join needed anyway), then per custkey before
      // the customer join — every join input is the smallest frame
      // that still carries the answer. The probe pair
      // (OPTIMIZATION_r16.md, q09): the raw li⨝ord SMJ alone costs
      // ~5.6 s at sf10x — the whole query's wall — and shuffled 4× the
      // bytes.
      val la = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("_c"),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("_r"))
      val oa = la
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum("_c").as("_c"), sum("_r").as("_r"))
      oa.join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(sum("_c").as("cnt"), gf.roundz(sum("_r"), 2).as("revenue"))
        .orderBy("n_name")
    },

    // J10: left-anti (the incremental-dim primitive,
    // populate_star_schema lines 27-28).
    QueryDef("q10_anti_join",
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY 1 LIMIT 100""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey").orderBy("c_custkey").limit(100)
    },

    // Semi join (EXISTS) — complement of J10.
    QueryDef("q11_semi_join",
      """SELECT c_mktsegment, count(*) AS cnt FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 200000)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_totalprice") > 200000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
        .orderBy("c_mktsegment")
    },

    // P1/P2/P5/P7: fixed projection + null-fill + literal provenance +
    // cast (reference test_extraction.py:135-146,
    // extract_postgres_table.py:64-65).
    QueryDef("q12_projection",
      """SELECT c_custkey AS id, upper(trim(c_name)) AS name_norm,
        |  CAST(NULL AS VARCHAR) AS missing_col, 'jsearch' AS source,
        |  CAST(floor(c_acctbal) AS BIGINT) AS acctbal_floor
        |FROM customer ORDER BY 1 LIMIT 500""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir)
        .select(
          col("c_custkey").as("id"),
          gf.normName(col("c_name")).as("name_norm"),
          lit(null).cast("string").as("missing_col"),
          lit("jsearch").as("source"),
          floor(col("c_acctbal")).cast("long").as("acctbal_floor"))
        .orderBy("id").limit(500)
    },

    // F1-F3: trim/upper/initcap/lower normalization (reference
    // spark_etl_script.py:93-103). DuckDB lacks initcap — emulated.
    QueryDef("q13_string_norm",
      """SELECT p_partkey, upper(trim(p_name)) AS name_upper,
        |  array_to_string(list_transform(string_split(lower(trim(p_type)), ' '),
        |    w -> upper(w[1:1]) || w[2:]), ' ') AS type_title,
        |  lower(p_brand) AS brand_lower
        |FROM part ORDER BY 1 LIMIT 500""".stripMargin) { (s, dir) =>
      Tables.part(s, dir)
        .select(
          col("p_partkey"),
          upper(trim(col("p_name"))).as("name_upper"),
          gf.normTitle(col("p_type")).as("type_title"),
          lower(col("p_brand")).as("brand_lower"))
        .orderBy("p_partkey").limit(500)
    },

    // F7: regexp digit extraction (reference spark_etl_script.py:19,22).
    QueryDef("q14_regexp_extract",
      """SELECT c_custkey, regexp_extract(c_name, '(\d+)', 1) AS digits,
        |  CAST(regexp_extract(c_name, '(\d+)', 1) AS BIGINT) AS digits_num
        |FROM customer ORDER BY 1 LIMIT 500""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir)
        .select(
          col("c_custkey"),
          regexp_extract(col("c_name"), "(\\d+)", 1).as("digits"),
          regexp_extract(col("c_name"), "(\\d+)", 1).cast("long").as("digits_num"))
        .orderBy("c_custkey").limit(500)
    },

    // D1-D3: the date dimension (reference spark_etl_script.py:112-120).
    QueryDef("q15_date_dim",
      """SELECT DISTINCT
        |  CAST(strftime(CAST(o_orderdate AS DATE), '%Y%m%d') AS BIGINT) AS date_sk,
        |  CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS full_date,
        |  dayname(o_orderdate) AS day_of_week,
        |  monthname(o_orderdate) AS month_name,
        |  CAST(month(o_orderdate) AS BIGINT) AS month_number,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS quarter_number,
        |  CAST(year(o_orderdate) AS BIGINT) AS year_number
        |FROM orders WHERE o_orderdate IS NOT NULL
        |ORDER BY full_date""".stripMargin) { (s, dir) =>
      graft.star.StarSchemaBuilder
        .buildDateDim(Tables.orders(s, dir), col("o_orderdate"))
        .select(
          col("date_sk").cast("long").as("date_sk"),
          col("full_date").cast("timestamp").as("full_date"),
          col("day_of_week"), col("month_name"),
          col("month_number").cast("long").as("month_number"),
          col("quarter_number").cast("long").as("quarter_number"),
          col("year_number").cast("long").as("year_number"))
        .orderBy("full_date")
    },

    // D6/U1: relative-time parse against an injectable clock (reference
    // spark_etl_script.py:12-29; strings synthesized from events).
    QueryDef("q16_relative_time",
      """SELECT event_id,
        |  CASE WHEN event_type = 'click' THEN CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) || ' hours ago'
        |       WHEN event_type = 'view' THEN CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) || ' days ago'
        |       WHEN event_type = 'signup' THEN 'yesterday'
        |       ELSE 'just posted' END AS posted_at,
        |  CASE WHEN event_type = 'click' THEN TIMESTAMP '2026-01-01 00:00:00' - to_hours(CAST(floor(value) AS INTEGER))
        |       WHEN event_type = 'view' THEN TIMESTAMP '2026-01-01 00:00:00' - to_days(CAST(floor(value) AS INTEGER))
        |       ELSE NULL END AS posted_ts
        |FROM events ORDER BY event_id LIMIT 2000""".stripMargin) { (s, dir) =>
      val n = floor(col("value")).cast("long")
      val rel = when(col("event_type") === "click", concat(n.cast("string"), lit(" hours ago")))
        .when(col("event_type") === "view", concat(n.cast("string"), lit(" days ago")))
        .when(col("event_type") === "signup", lit("yesterday"))
        .otherwise(lit("just posted"))
      val now = lit("2026-01-01 00:00:00").cast("timestamp")
      Tables.events(s, dir)
        .select(
          col("event_id"),
          rel.as("posted_at"),
          gf.parseRelativeTime(rel, now).as("posted_ts"))
        .orderBy("event_id").limit(2000)
    },

    // F5/F6/G1: bracket-string parse + explode (reference
    // spark_etl_script.py:132-138).
    QueryDef("q17_bracket_split",
      """SELECT item, count(*) AS cnt FROM (
        |  SELECT unnest(string_split(
        |    translate('[''' || p_brand || ''', ''' || p_type || ''']', '[]''"', ''),
        |    ', ')) AS item
        |  FROM part
        |) GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val bracketed = concat(lit("['"), col("p_brand"), lit("', '"), col("p_type"), lit("']"))
      Tables.part(s, dir)
        .select(explode(gf.parseBracketList(bracketed)).as("item"))
        .groupBy("item").agg(count(lit(1)).as("cnt"))
        .orderBy("item")
    },

    // W1: dimension build — distinct + global row_number SK (reference
    // spark_etl_script.py:92-95).
    QueryDef("q18_dim_build",
      """SELECT row_number() OVER (ORDER BY brand_name) AS brand_sk, brand_name
        |FROM (SELECT DISTINCT p_brand AS brand_name FROM part
        |      WHERE p_brand IS NOT NULL)
        |ORDER BY brand_sk""".stripMargin) { (s, dir) =>
      graft.star.StarSchemaBuilder
        .buildDim(Tables.part(s, dir), col("p_brand"), "brand_sk", "brand_name")
        .orderBy("brand_sk")
    },

    // Partitioned window (scalable variant of W1 — parallel, no global
    // sort): top order per customer.
    QueryDef("q19_window_partitioned",
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders
        |) WHERE rn = 1 ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), asc("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey")
    },

    // O5: union (multi-shard merge).
    QueryDef("q20_union",
      """SELECT bucket, count(*) AS cnt FROM (
        |  SELECT o_orderkey, 'full' AS bucket FROM orders WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT o_orderkey, 'big' AS bucket FROM orders WHERE o_totalprice > 300000
        |) GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir)
      o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), lit("full").as("bucket"))
        .unionByName(
          o.filter(col("o_totalprice") > 300000)
            .select(col("o_orderkey"), lit("big").as("bucket")))
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))
        .orderBy("bucket")
    },

    // O5b: intersect / except set ops (union is q20).
    QueryDef("q56_set_ops",
      """SELECT 'both' AS tag, c_custkey FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 150000
        |)
        |UNION ALL
        |SELECT 'only_seg', c_custkey FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  EXCEPT
        |  SELECT o_custkey FROM orders
        |)
        |ORDER BY tag, c_custkey""".stripMargin) { (s, dir) =>
      val seg = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val both = seg.intersect(
        Tables.orders(s, dir).filter(col("o_totalprice") > 150000)
          .select(col("o_custkey").as("c_custkey")))
        .select(lit("both").as("tag"), col("c_custkey"))
      val onlySeg = seg.except(
        Tables.orders(s, dir).select(col("o_custkey").as("c_custkey")))
        .select(lit("only_seg").as("tag"), col("c_custkey"))
      both.unionByName(onlySeg).orderBy("tag", "c_custkey")
    },

    // MULTISET set ops — q56 covers the distinct INTERSECT/EXCEPT;
    // the ALL variants keep duplicate multiplicities (Spark's
    // exceptAll/intersectAll, planned as count-based aggregates +
    // replication, never all-pairs): year-over-year order-priority
    // mix, surplus = 1996's excess multiplicity over 1997, common =
    // the shared multiplicity.
    QueryDef("q109_set_ops_all",
      """WITH a AS (
        |  SELECT o_orderpriority AS p FROM orders
        |  WHERE o_orderdate BETWEEN '1996-01-01' AND '1996-12-31'
        |), b AS (
        |  SELECT o_orderpriority AS p FROM orders
        |  WHERE o_orderdate BETWEEN '1997-01-01' AND '1997-12-31'
        |)
        |SELECT 'surplus' AS tag, p, count(*) AS cnt FROM (
        |  SELECT p FROM a EXCEPT ALL SELECT p FROM b
        |) GROUP BY p
        |UNION ALL
        |SELECT 'common', p, count(*) FROM (
        |  SELECT p FROM a INTERSECT ALL SELECT p FROM b
        |) GROUP BY p
        |ORDER BY tag, p""".stripMargin) { (s, dir) =>
      val orders = Tables.orders(s, dir)
      def slice(y: String) = orders
        .filter(col("o_orderdate").between(s"$y-01-01", s"$y-12-31"))
        .select(col("o_orderpriority").as("p"))
      val a = slice("1996")
      val b = slice("1997")
      val surplus = a.exceptAll(b).groupBy("p")
        .agg(count(lit(1)).as("cnt"))
        .select(lit("surplus").as("tag"), col("p"), col("cnt"))
      val common = a.intersectAll(b).groupBy("p")
        .agg(count(lit(1)).as("cnt"))
        .select(lit("common").as("tag"), col("p"), col("cnt"))
      surplus.unionByName(common).orderBy("tag", "p")
    },

    // Analytic window family beyond row_number: lag/lead deltas, rank
    // with ties, running frame aggregates (none exist in the reference;
    // engine breadth for trend analytics).
    QueryDef("q57_analytics_windows",
      """SELECT o_custkey, o_orderkey,
        |  CAST(epoch(CAST(o_orderdate AS TIMESTAMP))
        |       - epoch(CAST(lag(o_orderdate) OVER w AS TIMESTAMP)) AS BIGINT) AS secs_since_prev,
        |  rank() OVER (PARTITION BY o_custkey ORDER BY o_orderstatus) AS status_rank,
        |  round(sum(o_totalprice) OVER (w ROWS UNBOUNDED PRECEDING), 2) + 0.0 AS running_spend
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderdate, o_orderkey LIMIT 5000""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      val rankW = Window.partitionBy("o_custkey").orderBy("o_orderstatus")
      // LIMIT-aware partition prune (r16, guide §2.4): output rows are
      // ordered by (custkey, date, key) and every custkey owns >= 1
      // row, so no custkey beyond the 5000th-smallest distinct can
      // reach the LIMIT. The threshold is a 1-row frame computed in
      // the plan (distinct custkeys -> TakeOrdered 5000 -> max, no
      // driver collect) and broadcast; whole custkey partitions
      // survive the prune, so every window value is unchanged. This
      // swaps two full-table window sorts for a key-column pass plus
      // a ~LIMIT-sized window.
      val thr = Tables.orders(s, dir).select(col("o_custkey").as("ck"))
        .distinct().orderBy("ck").limit(5000).agg(max("ck").as("ck_max"))
      Tables.orders(s, dir)
        .crossJoin(broadcast(thr))
        .filter(col("o_custkey") <= col("ck_max"))
        .select(
          col("o_custkey"), col("o_orderkey"),
          (unix_timestamp(col("o_orderdate")) -
            unix_timestamp(lag("o_orderdate", 1).over(w))).as("secs_since_prev"),
          rank().over(rankW).cast("long").as("status_rank"),
          gf.roundz(sum("o_totalprice")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
            .as("running_spend"))
        .orderBy("o_custkey", "o_orderdate", "o_orderkey").limit(5000)
    },

    // O4: row limit (superset slice 3, row_limit 1000).
    QueryDef("q21_limit",
      """SELECT event_id, event_type FROM events
        |ORDER BY event_id LIMIT 1000""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .select("event_id", "event_type").orderBy("event_id").limit(1000)
    },

    // Min-cost supplier per region (TPC-H Q2 shape): correlated-min via
    // window over a broadcast dim chain — covers the supplier table.
    QueryDef("q49_supplier_minbal",
      """SELECT r_name, s_suppkey, s_name, s_acctbal FROM (
        |  SELECT r.r_name, s.s_suppkey, s.s_name, s.s_acctbal,
        |    row_number() OVER (PARTITION BY r.r_name
        |      ORDER BY s.s_acctbal DESC, s.s_suppkey) AS rk
        |  FROM supplier s
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |) WHERE rk <= 3 ORDER BY r_name, s_acctbal DESC, s_suppkey""".stripMargin) { (s, dir) =>
      // Runs on the engine's custom sort-free TopKPerKey operator
      // (graft.plans): heap per key instead of the window's full sort.
      import graft.plans.TopKPerKey
      val joined = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .select("r_name", "s_suppkey", "s_name", "s_acctbal")
      TopKPerKey(joined, Seq("r_name"),
          Seq(TopKPerKey.desc("s_acctbal"), TopKPerKey.asc("s_suppkey")), 3)
        .orderBy(asc("r_name"), desc("s_acctbal"), asc("s_suppkey"))
    },

    // G3/D9/U2: JSON parse (reference spark_etl_script.py:126;
    // test_extraction.py:148-151).
    QueryDef("q22_json_extract",
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  count(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .select(from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").cast("long").as("k"))
        .groupBy("k").agg(count(lit(1)).as("cnt"))
        .orderBy("k")
    },

    // Z-order layout curve (operators/ZOrder + plans/InterleaveBits):
    // the Morton-key census over fixed-width (orderkey, partkey)
    // buckets — a cross-engine bit-exactness witness for the curve key
    // the clustering write sorts by (the layout itself is spec-gated in
    // ZOrderSpec: per-file min/max spans tighten on BOTH dims). The
    // oracle spells the 8-bit interleave out as 16 shift/mask terms.
    QueryDef("q101_zorder_cells", {
      val terms = (0 until 8).flatMap(i => Seq(
        s"(((xb >> $i) & 1) << ${2 * i})",
        s"(((yb >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
      s"""WITH b AS (
         |  SELECT min(l_orderkey) AS xlo, max(l_orderkey) AS xhi,
         |         min(l_partkey) AS ylo, max(l_partkey) AS yhi
         |  FROM lineitem
         |), r AS (
         |  SELECT ((l_orderkey - xlo) * 256) // (xhi - xlo + 1) AS xb,
         |         ((l_partkey - ylo) * 256) // (yhi - ylo + 1) AS yb
         |  FROM lineitem, b
         |), zv AS (SELECT $terms AS z FROM r)
         |SELECT z >> 8 AS zcell, count(*) AS cnt,
         |  min(z) AS zmin, max(z) AS zmax
         |FROM zv GROUP BY 1 ORDER BY 1""".stripMargin
    }) { (s, dir) =>
      import org.apache.spark.sql.graft.CatalystBridge
      val li = Tables.lineitem(s, dir).select("l_orderkey", "l_partkey")
      val mm = li.agg(
        min("l_orderkey").as("xlo"), max("l_orderkey").as("xhi"),
        min("l_partkey").as("ylo"), max("l_partkey").as("yhi"))
      val bucketed = li.crossJoin(broadcast(mm)).selectExpr(
        "((l_orderkey - xlo) * 256) div (xhi - xlo + 1) AS xb",
        "((l_partkey - ylo) * 256) div (yhi - ylo + 1) AS yb")
      val z = CatalystBridge.column(graft.plans.InterleaveBits(
        Seq(CatalystBridge.expr(col("xb")), CatalystBridge.expr(col("yb"))),
        8))
      bucketed.select(z.as("z"))
        .groupBy(shiftright(col("z"), 8).as("zcell"))
        .agg(count(lit(1)).as("cnt"), min("z").as("zmin"),
          max("z").as("zmax"))
        .orderBy("zcell")
    },

    // Bivariate statistics family (T69): correlation, sample
    // covariance, stddev and the OLS regression line of extendedprice
    // on quantity per returnflag — the statistical-aggregate surface
    // (corr/covar_samp/stddev_samp/regr_*) none of the other aggregates
    // exercise. All are algebraic single-pass aggregates (sum, sum of
    // squares, sum of cross-products) with exact map-side partial
    // merge — one shuffle of 3 partial rows per flag, any scale.
    // Doubles rounded in both engines so accumulation order can't
    // leak into the hash.
    QueryDef("q111_bivar_stats",
      """SELECT l_returnflag, count(*) AS n,
        |  round(corr(l_quantity, l_extendedprice), 6) + 0.0 AS corr_qty_price,
        |  round(covar_samp(l_quantity, l_extendedprice), 4) + 0.0 AS covar_qp,
        |  round(stddev_samp(l_extendedprice), 4) + 0.0 AS sd_price,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) + 0.0 AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) + 0.0 AS intercept
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          gf.roundz(corr("l_quantity", "l_extendedprice"), 6).as("corr_qty_price"),
          gf.roundz(covar_samp("l_quantity", "l_extendedprice"), 4).as("covar_qp"),
          gf.roundz(stddev_samp("l_extendedprice"), 4).as("sd_price"),
          gf.roundz(expr("regr_slope(l_extendedprice, l_quantity)"), 4).as("slope"),
          gf.roundz(expr("regr_intercept(l_extendedprice, l_quantity)"), 4)
            .as("intercept"))
        .orderBy("l_returnflag")
    },

    // Data-quality audit (T77): the constraint census a warehouse runs
    // before trusting a load — referential integrity (FK orphans both
    // directions: dangling children AND unreferenced parents), primary
    // key uniqueness, domain rules (non-positive quantities, blank
    // names, empty documents) — one (check, violations, total, rate)
    // row per rule.
    // Scale note: per-table domain rules fold into ONE conditional
    // aggregate per scan (no per-rule rescans); referential checks
    // aggregate each key column to (key, n) map-side before it crosses
    // an exchange and serve both directions of a relation from one
    // full-outer cogroup (r16) — the shuffle ships aggregated distinct
    // keys, not rows, and AQE picks broadcast when a side is small.
    QueryDef("q120_quality_audit",
      """WITH li AS (
        |  SELECT count(*) AS total,
        |    sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS neg
        |  FROM lineitem
        |), ord AS (
        |  SELECT count(*) AS total,
        |    count(*) - count(DISTINCT o_orderkey) AS dups
        |  FROM orders
        |), cust AS (
        |  SELECT count(*) AS total,
        |    sum(CASE WHEN c_name IS NULL OR trim(c_name) = ''
        |             THEN 1 ELSE 0 END) AS blank
        |  FROM customer
        |), doc AS (
        |  SELECT count(*) AS total,
        |    sum(CASE WHEN text IS NULL OR trim(text) = ''
        |             THEN 1 ELSE 0 END) AS empty
        |  FROM documents
        |), part_total AS (SELECT count(*) AS total FROM part),
        |orphan_li AS (
        |  SELECT count(*) AS v FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                    WHERE o.o_orderkey = l.l_orderkey)
        |), orphan_ord AS (
        |  SELECT count(*) AS v FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                    WHERE c.c_custkey = o.o_custkey)
        |), unref_cust AS (
        |  SELECT count(*) AS v FROM customer c
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                    WHERE o.o_custkey = c.c_custkey)
        |), unref_part AS (
        |  SELECT count(*) AS v FROM part p
        |  WHERE NOT EXISTS (SELECT 1 FROM lineitem l
        |                    WHERE l.l_partkey = p.p_partkey)
        |), checks AS (
        |  SELECT 'domain_lineitem_nonpos_qty' AS check_name,
        |    li.neg AS violations, li.total FROM li
        |  UNION ALL SELECT 'domain_customer_blank_name', cust.blank,
        |    cust.total FROM cust
        |  UNION ALL SELECT 'domain_documents_empty_text', doc.empty,
        |    doc.total FROM doc
        |  UNION ALL SELECT 'pk_orders_duplicate_keys', ord.dups,
        |    ord.total FROM ord
        |  UNION ALL SELECT 'fk_lineitem_orphan_orderkey', orphan_li.v,
        |    li.total FROM orphan_li, li
        |  UNION ALL SELECT 'fk_orders_orphan_custkey', orphan_ord.v,
        |    ord.total FROM orphan_ord, ord
        |  UNION ALL SELECT 'coverage_customers_no_orders', unref_cust.v,
        |    cust.total FROM unref_cust, cust
        |  UNION ALL SELECT 'coverage_parts_never_ordered', unref_part.v,
        |    part_total.total FROM unref_part, part_total
        |)
        |SELECT check_name, CAST(violations AS BIGINT) AS violations,
        |  total, round(violations * 1.0 / total, 6) + 0.0 AS rate
        |FROM checks ORDER BY check_name""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val ord = Tables.orders(s, dir)
      val cust = Tables.customer(s, dir)
      val doc = Tables.documents(s, dir)
      val part = Tables.part(s, dir)
      // Domain + PK rules: one conditional aggregate per table scan.
      val liAgg = li.agg(count(lit(1)).as("li_total"),
        sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).as("neg"))
      val custAgg = cust.agg(count(lit(1)).as("cust_total"),
        sum(when(col("c_name").isNull || trim(col("c_name")) === "", 1L)
          .otherwise(0L)).as("blank"))
      val docAgg = doc.agg(count(lit(1)).as("doc_total"),
        sum(when(col("text").isNull || trim(col("text")) === "", 1L)
          .otherwise(0L)).as("empty"))
      // Referential + PK checks (r16, guide §2.3/§2.4): aggregate each
      // key column to (key, n) BEFORE it crosses an exchange — the
      // map-side partial collapses the raw 60 M-row lineitem key
      // stream to its distinct keys — then serve BOTH directions of a
      // key relation from ONE full-outer cogroup of the two aggregated
      // frames: a row with a null right side is an orphan child (sum
      // its n = raw row count), a null left side an unreferenced
      // parent. The old shape paid one anti-join shuffle of the RAW
      // keys per direction (4 SMJs, orders keys crossing exchanges 4×)
      // plus a separate countDistinct pass for the PK rule; the
      // cogroup gets the PK dup count for free (Σn − #non-null keys).
      // Null keys never equi-match, so both forms count them as
      // orphans; duplicate parent keys sum their row counts — row-for-
      // row the anti-join semantics.
      val og = ord.groupBy(col("o_orderkey")).agg(count(lit(1)).as("_oc"))
      val lk = li.groupBy(col("l_orderkey")).agg(count(lit(1)).as("_lc"))
      val loStats = lk.join(og, col("l_orderkey") === col("o_orderkey"),
          "full_outer")
        .agg(coalesce(sum("_oc"), lit(0L)).as("ord_total"),
          (coalesce(sum("_oc"), lit(0L)) - count(col("o_orderkey")))
            .as("dups"),
          coalesce(sum(when(col("o_orderkey").isNull, col("_lc"))), lit(0L))
            .as("orphan_li"))
      val oc = ord.groupBy(col("o_custkey")).agg(count(lit(1)).as("_occ"))
      val ck = cust.groupBy(col("c_custkey")).agg(count(lit(1)).as("_cc"))
      val custStats = oc.join(ck, col("o_custkey") === col("c_custkey"),
          "full_outer")
        .agg(
          coalesce(sum(when(col("c_custkey").isNull, col("_occ"))), lit(0L))
            .as("orphan_ord"),
          coalesce(sum(when(col("o_custkey").isNull, col("_cc"))), lit(0L))
            .as("unref_cust"))
      val unrefPart = part.select("p_partkey")
        .join(li.select("l_partkey").distinct(),
          col("p_partkey") === col("l_partkey"), "left_anti")
        .agg(count(lit(1)).as("unref_part"))
      val partAgg = part.agg(count(lit(1)).as("part_total"))
      // ONE row carrying every statistic (cross of seven 1-row
      // frames), exploded into the 8 check rows — each subtree above
      // executes exactly once per action, where the old 8-branch UNION
      // re-ran any frame referenced by two branches (ordAgg 3×,
      // liAgg 2×).
      def row(name: String, v: org.apache.spark.sql.Column,
          t: org.apache.spark.sql.Column): org.apache.spark.sql.Column = struct(
        lit(name).as("check_name"), v.cast("long").as("violations"),
        t.as("total"))
      liAgg.crossJoin(custAgg).crossJoin(docAgg).crossJoin(loStats)
        .crossJoin(custStats).crossJoin(unrefPart).crossJoin(partAgg)
        .select(explode(array(
          row("domain_lineitem_nonpos_qty", col("neg"), col("li_total")),
          row("domain_customer_blank_name", col("blank"), col("cust_total")),
          row("domain_documents_empty_text", col("empty"), col("doc_total")),
          row("pk_orders_duplicate_keys", col("dups"), col("ord_total")),
          row("fk_lineitem_orphan_orderkey", col("orphan_li"),
            col("li_total")),
          row("fk_orders_orphan_custkey", col("orphan_ord"),
            col("ord_total")),
          row("coverage_customers_no_orders", col("unref_cust"),
            col("cust_total")),
          row("coverage_parts_never_ordered", col("unref_part"),
            col("part_total")))).as("c"))
        .select(col("c.check_name").as("check_name"),
          col("c.violations").as("violations"), col("c.total").as("total"),
          gf.roundz(col("c.violations") * lit(1.0) / col("c.total"), 6)
            .as("rate"))
        .orderBy("check_name")
    }
  )
}
