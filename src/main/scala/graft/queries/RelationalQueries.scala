package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Generic relational operator surface (SURVEY §2.2, §2.3, §2.5–§2.8) over
  * the TPC-H-ish test tables. Every query has an exact DuckDB oracle in
  * [[oracle]] — aggregate doubles are rounded to 4 decimals on BOTH sides so
  * sum-order ulp drift cannot flip the hash compare.
  *
  * Scale notes are per query; the common posture: filters/projections sit
  * directly on the parquet scan (pushdown), small dimensions are
  * broadcast-joined, aggregations are partial (map-side combine) before the
  * one shuffle on the group keys.
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Q1-style pricing summary: scan-side filter pushdown + 8-way aggregate
    // with map-side partial agg; groups are tiny (6) so the shuffle is trivial
    // at any scale.
    "q01" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 4).as("sum_charge"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_extendedprice")), 4).as("avg_price"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },

    // Pure filter+project: no shuffle at all; the predicate and the 3-column
    // ReadSchema both reach the parquet scan.
    "q02" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1998-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1998-02-01")) &&
          col("l_extendedprice") > 4000.0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"), col("l_quantity"))
    },

    // Q3-style shipping priority: two joins + agg + global top-10. Orders and
    // customer filters push down; Spark plans TakeOrderedAndProject for the
    // limit (no full sort at scale).
    "q03" -> { (s, dir) =>
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders").filter(col("o_orderdate") < to_timestamp(lit("1997-01-01")))
      val li = t(s, dir, "lineitem").filter(col("l_shipdate") > to_timestamp(lit("1997-01-01")))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // Q4-style: left-semi join (EXISTS) then count per priority.
    "q04" -> { (s, dir) =>
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1996-04-01")))
      // no distinct: left_semi already emits each left row at most once
      val li = t(s, dir, "lineitem").select("l_orderkey")
      ord.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    },

    // Q5-style: 6-way join through region; dimensions broadcast, lineitem is
    // the only big side so exactly one shuffle (the final groupBy).
    "q05" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders").filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1998-01-01")))
      val cust = t(s, dir, "customer")
      val supp = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region").filter(col("r_name") === "ASIA")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
    },

    // Q6-style: single filtered sum — everything pushes to the scan.
    "q06" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 4).as("revenue"),
          count(lit(1)).as("n"))
    },

    // Anti join: customers with no order in 1995 H1 (SURVEY F3 semantics).
    "q07" -> { (s, dir) =>
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") < to_timestamp(lit("1995-07-01")))
        .select("o_custkey")
      cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("c_acctbal")), 4).as("sum_acctbal"))
    },

    // Ranking window: top-3 orders per customer (SURVEY §2.6 row_number).
    // Rank on rounded value + unique key so ordering is engine-independent.
    "q08" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(round(col("o_totalprice"), 4).desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 4).as("totalprice"), col("rk"))
    },

    // Running-total window (frame rowsBetween unboundedPreceding..current):
    // sequential adds in identical order on both engines.
    "q09" -> { (s, dir) =>
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-03-01")) &&
          col("l_shipdate") < to_timestamp(lit("1996-04-01")))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          round(sum(col("l_quantity")).over(w), 4).as("running_qty"))
    },

    // ROLLUP (SURVEY §2.5 note: free generalization of the reference's aggs).
    "q10" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 4).as("sum_qty"))
    },

    // CUBE over orders dims.
    "q11" -> { (s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 4).as("sum_price"))
    },

    // GROUPING SETS through the SQL layer (also exercises view registration).
    "q12" -> { (s, dir) =>
      Tables.registerViews(s, dir)
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(1) AS n,
          |       round(sum(l_extendedprice), 4) AS sum_price
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
    },

    // Distinct aggregates (§2.5 "free from Spark" family).
    "q13" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n_rows"))
    },

    // Conditional aggregation / manual pivot (K-family when/otherwise math).
    "q14" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
          count(when(col("o_orderstatus") === "O", 1)).as("n_o"),
          count(when(col("o_orderstatus") === "P", 1)).as("n_p"),
          round(sum(when(col("o_orderstatus") === "F", col("o_totalprice")).otherwise(0.0)), 4).as("f_price"))
    },

    // Monthly time-series rollup: date_trunc month (K18 date functions).
    "q15" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 4).as("sum_price"))
    },

    // String functions (K17 identifier assembly analog).
    "q16" -> { (s, dir) =>
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_uc"),
          substring(col("p_type"), 1, 6).as("type_prefix"),
          concat(col("p_brand"), lit("_"), col("p_type")).as("brand_type"),
          regexp_extract(col("p_name"), "([a-z]+)", 1).as("first_word"),
          length(col("p_name")).as("name_len"),
          lpad(col("p_partkey").cast("string"), 10, "0").as("padded_key"))
    },

    // Scalar subquery (Q17-style): parts ordered in quantities below 50% of
    // their own average. No broadcast hint: partAvg has one row per distinct
    // partkey (unbounded — grows with the fact table), so AQE must be free
    // to pick sort-merge at scale and broadcast only when it measures small.
    "q17" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val partAvg = li.groupBy(col("l_partkey").as("pk"))
        .agg(avg(col("l_quantity")).as("avg_qty"))
      li.join(partAvg, col("l_partkey") === col("pk"))
        .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
        .agg(round(sum(col("l_extendedprice")), 4).as("small_lot_revenue"),
          count(lit(1)).as("n"))
    },

    // Q18-style: HAVING on a big-group aggregate, join back to dims.
    "q18" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val big = li.groupBy(col("l_orderkey"))
        .agg(round(sum(col("l_quantity")), 4).as("total_qty"))
        .filter(col("total_qty") > 150)
      big.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("total_qty"))
    },

    // Deterministic top-1 per group (max_by/A4 first-as-template semantics).
    "q19" -> { (s, dir) =>
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(round(col("c_acctbal"), 4).desc, col("c_custkey"))
      t(s, dir, "customer")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("c_custkey"), round(col("c_acctbal"), 4).as("acctbal"))
    },

    // Remaining analytic window functions: lag/lead, first/last in frame,
    // ntile, percent_rank — per-supplier shipment timeline.
    "q29" -> { (s, dir) =>
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-06-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-07-01")))
        .select(
          col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          lag(col("l_quantity"), 1).over(w).as("prev_qty"),
          lead(col("l_quantity"), 1).over(w).as("next_qty"),
          first(col("l_quantity")).over(wf).as("first_qty"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 4).as("pct_rank"))
    },

    // Exact interpolated percentiles (the approximate path is x02). Both
    // price percentiles come from ONE array-percentile aggregate — each
    // separate percentile() keeps its own per-group value-count map, so
    // folding them halves the aggregation state for the same answer.
    // Exact percentiles via the percentile() aggregate — the right call
    // for THIS data, measured: percentile() buffers a value -> count map
    // per group sized by the DISTINCT value count, and TPC-H prices/
    // quantities are low-cardinality, so the single-scan aggregate wins
    // at every measurable scale (1.77 s vs 8.58 s at the 100x probe
    // against the rank-selection alternative). For genuinely continuous
    // high-cardinality values — where distinct ~ rows and that map is an
    // executor-memory hazard — use operators/ExactPercentile (two-phase
    // rank selection, value-identical by property test); the crossover
    // is a memory ceiling, not a speed curve, so the hashmap form stays
    // the default until it cannot run at all.
    "q25" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          percentile(col("l_extendedprice"), array(lit(0.5), lit(0.9))).as("pp"),
          round(percentile(col("l_quantity"), lit(0.25)), 4).as("p25_qty"))
        .select(col("l_returnflag"),
          round(element_at(col("pp"), 1), 4).as("p50_price"),
          round(element_at(col("pp"), 2), 4).as("p90_price"),
          col("p25_qty"))
    },

    // Moment statistics: correlation / covariance / skewness / kurtosis.
    "q26" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          // + 0.0 folds IEEE -0.0 to 0.0 (engines can disagree on the sign
          // of a ~1e-18 moment before rounding; see s04)
          (round(corr(col("l_quantity"), col("l_extendedprice")), 4) + lit(0.0)).as("corr_qty_price"),
          (round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4) + lit(0.0)).as("covar_qty_price"),
          (round(var_samp(col("l_discount")), 4) + lit(0.0)).as("var_disc"),
          (round(skewness(col("l_quantity")), 4) + lit(0.0)).as("skew_qty"),
          (round(kurtosis(col("l_quantity")), 4) + lit(0.0)).as("kurt_qty"))
    },

    // Full outer join with coalesced keys: per-month order counts vs
    // shipment counts, months present on either side.
    "q27" -> { (s, dir) =>
      val om = t(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("m1"))
        .agg(count(lit(1)).as("n_orders"))
      val sm = t(s, dir, "lineitem")
        .groupBy(date_trunc("month", col("l_shipdate")).as("m2"))
        .agg(count(lit(1)).as("n_ships"))
      om.join(sm, col("m1") === col("m2"), "full_outer")
        .select(coalesce(col("m1"), col("m2")).as("month"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("n_ships"), lit(0L)).as("n_ships"))
    },

    // Generator / lateral unnest with ordinality (posexplode).
    "q28" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 1000 === 0)
        .groupBy(col("l_orderkey"))
        .agg(transform(
          array_sort(collect_list(struct(col("l_linenumber"), col("l_quantity")))),
          x => x.getField("l_quantity")).as("qty_series"))
        .select(col("l_orderkey"), posexplode(col("qty_series")).as(Seq("pos", "qty")))
    },

    // Correlated subqueries through the SQL layer (Catalyst decorrelates
    // both the scalar subquery and the correlated EXISTS into joins).
    "q32" -> { (s, dir) =>
      Tables.registerViews(s, dir)
      s.sql(
        """SELECT c_custkey, c_mktsegment,
          |  (SELECT max(o_orderdate) FROM orders WHERE o_custkey = c_custkey) AS last_order,
          |  (SELECT count(1) FROM orders WHERE o_custkey = c_custkey
          |     AND o_totalprice > 100000) AS n_big_orders
          |FROM customer
          |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
          |              AND o_orderstatus = 'O')""".stripMargin)
    },

    // Time-RANGE window frame: trailing 7-day revenue per customer. RANGE
    // (value-based) frames differ from ROWS frames exactly on same-day ties
    // — every row of a tied day shares the frame. The day offset is
    // computed once (datediff to a fixed epoch) so the frame bound is a
    // plain integer range; one shuffle on the partition key.
    "q35" -> { (s, dir) =>
      val d = datediff(col("o_orderdate"), to_date(lit("1990-01-01")))
      val w = Window.partitionBy(col("o_custkey")).orderBy(d)
        .rangeBetween(-7, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          round(sum(col("o_totalprice")).over(w), 4).as("rev_7d"),
          count(lit(1)).over(w).as("n_7d"))
    },

    // Date/time function battery: extraction, month arithmetic, month-end,
    // quarter bucketing.
    "q30" -> { (s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderkey") % 500 === 0)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("d"),
          quarter(col("o_orderdate")).as("q"),
          add_months(col("o_orderdate"), 3).as("plus3m"),
          last_day(col("o_orderdate")).as("month_end"),
          to_date(col("o_orderdate")).as("as_date"))
    },

    // Set operations: customers active in both Jan-1996 and Jan-1997
    // (INTERSECT) and in Jan-1996 only (EXCEPT), tagged and unioned.
    "q20" -> { (s, dir) =>
      val ord = t(s, dir, "orders")
      def active(from: String, until: String) = ord
        .filter(col("o_orderdate") >= to_timestamp(lit(from)) &&
          col("o_orderdate") < to_timestamp(lit(until)))
        .select(col("o_custkey"))
      val a = active("1996-01-01", "1996-07-01")
      val b = active("1997-01-01", "1997-07-01")
      a.intersect(b).withColumn("op", lit("both"))
        .unionByName(a.except(b).withColumn("op", lit("first_only")))
    },

    // Skew-hardened equi-join (SkewJoin.saltedJoin): l_returnflag has 3
    // values over the whole table — the textbook hot key where an unsalted
    // shuffle join lands a third of the fact table on one reducer. The big
    // side gets a deterministic salt from l_orderkey (not rand(): retries
    // must be idempotent), the 3-row dim replicates once per salt, and the
    // (key, salt) join spreads each hot key over 16 reducers. Semantically
    // identical to the plain join the oracle runs.
    "q36" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val dim = li.groupBy(col("l_returnflag"))
        .agg(round(avg(col("l_tax")), 6).as("avg_tax"),
          round(avg(col("l_discount")), 6).as("avg_disc"))
      graft.operators.SkewJoin.saltedJoin(
          li.filter(col("l_quantity") >= 45)
            .select(col("l_orderkey"), col("l_linenumber"),
              col("l_returnflag"), col("l_extendedprice")),
          dim,
          keys = Seq("l_returnflag"),
          saltSource = col("l_orderkey"),
          nSalts = 16)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          round(col("l_extendedprice") * (lit(1) - col("avg_disc")) *
            (lit(1) + col("avg_tax")), 4).as("adj_price"))
    },

    // Native pivot (RelationalGroupedDataset.pivot) with an EXPLICIT value
    // list — q14 builds the same table by hand with CASE aggregates; this
    // is the operator form. The explicit values matter at 100 TB: omitting
    // them makes Spark run an eager distinct-scan of the pivot column
    // (collected to the driver!) before the real job, and makes the output
    // schema data-dependent — both unacceptable in production. With
    // literal values Catalyst rewrites the pivot into exactly q14's
    // one-pass conditional aggregation: same plan, declared schema, no
    // extra scan.
    "q37" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(round(sum(col("o_totalprice")), 4))
    },

    // Correlated LATERAL subquery with ORDER BY + LIMIT: per-order top-2
    // lineitems by price, driven by a filtered outer table. This is the
    // operator form of top-k-per-group (q19 is the window form) — the
    // SQL surface a reference user writes when the per-group query is
    // richer than one ranking. Catalyst decorrelates the lateral into a
    // ranked window + equi-join (no per-outer-row re-execution), so the
    // plan scales like q19, not like a nested loop; the outer filter
    // stays pushed to the orders scan.
    "q38" -> { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("g_orders")
      t(s, dir, "lineitem").createOrReplaceTempView("g_lineitem")
      s.sql("""
        SELECT o.o_orderkey, l.l_linenumber, l.l_extendedprice
        FROM g_orders o,
        LATERAL (SELECT l_linenumber, l_extendedprice
                 FROM g_lineitem
                 WHERE l_orderkey = o.o_orderkey
                 ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) l
        WHERE o.o_totalprice > 480000
      """)
    },

    // Recursive CTE (Spark 4.x): the date-spine pattern — a gap-FILLED
    // monthly series between the corpus's min and max order month, left-
    // joined to the per-month counts so empty months surface as zero
    // instead of silently vanishing (the classic time-series reporting
    // bug q15 has). The recursion generates one row per month (~80
    // levels here, bounded by the data's span, not its size) — the spine
    // is driver-cheap and the real work stays one scan + one hash agg.
    "q39" -> { (outer, dir) =>
      // Isolated child session (shares the SparkContext and cached data):
      // the recursion limit is enforced while the recursion EXECUTES, not
      // at plan build, so a set/restore around sql() would re-impose the
      // default before the query ever runs — and setting it on the
      // caller's session would leak a 200-level cap into every later user
      // recursive CTE. NOTE newSession() starts from the ORIGINAL
      // SparkConf with EMPTY session state — it does not clone runtime
      // conf.set()s or temp views — so the confs this query's semantics
      // depend on are copied explicitly: the session timezone drives
      // date_format below AND the parse of the TIMESTAMP literals built
      // from it; inheriting the JVM-default zone instead would shift every
      // spine bound by the host offset on any driver session that set UTC
      // at runtime rather than via --conf.
      val s = outer.newSession()
      s.conf.set("spark.sql.session.timeZone",
        outer.conf.get("spark.sql.session.timeZone"))
      // 200 covers any realistic month span while still catching a
      // runaway recursion 10x sooner than the 2000 first tried.
      s.conf.set("spark.sql.cteRecursionLevelLimit", "200")
      // prefetch the two scalar bounds ONCE: a bounds CTE referenced from
      // the recursive term is re-evaluated at every recursion level (80
      // full orders scans — measured 15.8 s at sf0.1 vs 0.5 s inlined).
      // A 1-row scalar fetch is a config read, not a driver collect loop.
      // date_format renders in the SESSION timezone — Timestamp.toString
      // would render in the JVM-default zone and shift every spine value
      // on any host where the two differ.
      val b = t(s, dir, "orders").agg(
        date_format(date_trunc("MONTH", min(col("o_orderdate"))),
          "yyyy-MM-dd HH:mm:ss").as("lo"),
        date_format(date_trunc("MONTH", max(col("o_orderdate"))),
          "yyyy-MM-dd HH:mm:ss").as("hi")).head()
      val (lo, hi) = (b.getString(0), b.getString(1))
      require(lo != null && hi != null,
        s"q39: orders at $dir has no order dates to span")
      t(s, dir, "orders").createOrReplaceTempView("g_orders")
      s.sql(s"""
        WITH RECURSIVE spine(m) AS (
          SELECT TIMESTAMP '$lo'
          UNION ALL
          SELECT m + INTERVAL '1' MONTH FROM spine
          WHERE m < TIMESTAMP '$hi')
        SELECT spine.m AS month, count(o.o_orderkey) AS n_big_orders
        FROM spine LEFT JOIN g_orders o
          ON date_trunc('MONTH', o.o_orderdate) = spine.m
         AND o.o_totalprice > 450000
        GROUP BY spine.m
      """)
    },

    // Global ntile(10) WITHOUT the global sort: Window.orderBy with no
    // partition key funnels the whole table through ONE task — fine for a
    // report, fatal at 100 TB. Instead the global rank is assembled
    // two-phase (the w04/w09 pattern, here over a VALUE histogram): any
    // monotone bucketing of the sort key (cents here) splits the rank
    // into a per-bucket row_number — #buckets-way parallel, each bucket
    // ordered by the FULL sort key so bucket-boundary/FP alignment never
    // matters — plus an exclusive bucket offset cumulated over a spine
    // that is bounded by the VALUE DOMAIN (<= ~1.1M cent values), not the
    // row count. ntile's remainder rule (first N mod n tiles get the
    // extra row) is then a closed-form expression of (rank, N) — checked
    // against Spark's own ntile in QueryEdgeSpec and against DuckDB's in
    // the oracle.
    // RFM customer segmentation — the marketing-analytics staple: per
    // customer, days since last order (anchored to the corpus's max date
    // so the query is deterministic, not wall-clock-dependent), order
    // count, and lifetime spend, classified into fixed segments. The
    // segment GATES are integer comparisons only (recency days,
    // frequency count) — monetary is a double sum whose cross-engine
    // summation-order deltas make threshold gates knife-edged (q42's
    // lesson), so it is REPORTED rounded, never gated on. One hash agg +
    // a 1-row broadcast anchor: the 100 TB shape is a single
    // customer-keyed exchange.
    "q43" -> { (s, dir) =>
      val o = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
      val anchor = o.agg(max(col("o_orderdate")).as("max_date"))
      val rfm = o.crossJoin(broadcast(anchor))
        .groupBy(col("o_custkey"))
        .agg(min(datediff(col("max_date"), col("o_orderdate"))).as("recency"),
          count(lit(1)).as("frequency"),
          round(sum(col("o_totalprice")), 4).as("monetary"))
      rfm.withColumn("segment",
        when(col("recency") <= 365 && col("frequency") >= 10, "champion")
          .when(col("recency") <= 365, "active")
          .when(col("frequency") >= 10, "lapsed_loyal")
          .otherwise(lit("dormant")))
    },

    // Market-basket affinity: parts co-ordered in the same order, with
    // support (co-order count) and lift — association mining's first
    // query. The self-join is keyed by l_orderkey, so pair work is
    // Σ per-order basket² (baskets are small and bounded by business
    // reality, not corpus size — the join never goes quadratic in rows),
    // the pair aggregation combines map-side, and the part-frequency
    // dimension joins back AQE-sized (broadcast when the catalog is
    // small, shuffled when not — pc is one row per part, unbounded on a
    // long-tail catalog, the same regime as the pre-prune below). Lift's
    // double math follows the identical expression tree on both engines
    // and is reported rounded.
    "q44" -> { (s, dir) =>
      // Round-21 restructure (guide §2.3/§2.4): ONE basket aggregation
      // replaces the old distinct + n_part>=2 eligibility prune +
      // order-keyed self-join. collect_set per order both deduplicates
      // (the old `.distinct()`) and co-locates each basket in one row, so
      // the ordered pair expansion is a map-side array transform — no
      // join, and pair work stays Σ per-order basket² exactly as before
      // (baskets are bounded by business reality, not corpus size).
      // Skew bound, MEASURED not assumed (r22 at sf0.1 AND the ×10 rung,
      // BENCH_NOTES "Retired probes"): max basket 17 / avg 4.07 / p99 9 at
      // both — basket size is an ORDER-shape constant (TPC-H orders carry ≤7
      // line items), so the worst single-row expansion is 136 cells at any
      // corpus scale and the collect_set buffer cannot become a straggler. If
      // the data model ever admits unbounded baskets, the max_basket-vs-SF
      // trend is the tripwire; the fallback is the pre-r21 order-keyed
      // self-join, which spreads one order's pair work across tasks.
      // Everything derives from the SAME basket exchange: pc explodes it
      // and the order total counts its rows (count(parts), never
      // count(1) — referencing the column keeps the subtree identical
      // under column pruning, so both consumers read a ReusedExchange;
      // the old plan paid 3 lineitem scans and 6 aggregation exchanges
      // for the same numbers). The old pre-prune is subsumed exactly: a
      // pair kept by n_orders >= 2 has both parts in >= 2 baskets by
      // construction, and ca/cb always came from the UNpruned counts.
      val baskets = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      val pc = baskets
        .select(explode(col("parts")).as("l_partkey"))
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_part"))
      val tot = baskets.agg(count(col("parts")).as("n_orders_total"))
      // parts is sorted ascending, so pairing each element with its
      // successors yields exactly the a < b ordered pairs of the old
      // self-join (slice is 1-based: element i pairs with i+2 onward).
      val pairsArr = flatten(transform(col("parts"), (x, i) =>
        transform(slice(col("parts"), i + lit(2), size(col("parts"))),
          y => struct(x.as("a"), y.as("b")))))
      baskets.select(explode(pairsArr).as("p"))
        .select(col("p.a").as("part_a"), col("p.b").as("part_b"))
        .groupBy(col("part_a"), col("part_b"))
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 2)
        .join(pc.select(col("l_partkey").as("part_a"),
          col("n_part").as("ca")), Seq("part_a"))
        .join(pc.select(col("l_partkey").as("part_b"),
          col("n_part").as("cb")), Seq("part_b"))
        .crossJoin(broadcast(tot))
        .select(col("part_a"), col("part_b"), col("n_orders"),
          round(col("n_orders").cast("double") * col("n_orders_total") /
            (col("ca") * col("cb")), 4).as("lift"))
    },

    // Pareto concentration: how many customers carry 80% of revenue.
    // Round-13 rewrite (VERDICT r12 #2): the old form ran row_number +
    // prefix-sum over an UNPARTITIONED window — one task carrying the
    // whole customer-revenue frame, which is one row per CUSTOMER and
    // grows with the business (w06's one-row-per-SOURCE justification did
    // not transfer). This is the q40/w12 two-phase value-domain spine:
    // customers bucket into a ≤65,536-band revenue histogram (integer
    // band math, bounded regardless of corpus size), ranks and running
    // sums are bucket-PARTITIONED windows plus exclusive offsets
    // cumulated over the bounded spine — the identical global
    // (rev DESC, o_custkey) order with #buckets-way parallelism. The one
    // remaining partition-less window runs on the spine aggregate, whose
    // row count is capped by the band constant, never the corpus (the
    // same bounded-frame exception q40 carries). Degenerate case: if
    // every customer has the same revenue the histogram collapses to one
    // band — accepted, same exposure as q40's single-value domain.
    // FP discipline, upgraded for the regrouping: revenue is summed in
    // EXACT integer cents (o_totalprice is 2-decimal), so bucket partial
    // sums combine associatively and the 80% gate (5·cum ≥ 4·total,
    // compared in decimal(38,0) / HUGEINT so ×5 cannot overflow a long
    // at any SF) is bit-identical across engines regardless of summation
    // order — a double prefix sum would drift under the two-phase
    // regrouping exactly at the knife-edge the gate sits on.
    "q45" -> { (s, dir) =>
      val bands = 65536L
      val rev = t(s, dir, "orders")
        .select(col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("o_custkey")).agg(sum(col("cents")).as("rev"))
      val bounds = rev.agg(min(col("rev")).as("lo"), max(col("rev")).as("hi"))
      // band 0 = highest-revenue band; pure long arithmetic so the
      // bucketing is deterministic and monotone in rev (rev1 > rev2 ⇒
      // bucket1 <= bucket2), which keeps per-bucket order + offsets equal
      // to the global order
      val bucketed = rev.crossJoin(broadcast(bounds))
        .withColumn("bucket",
          expr(s"(hi - rev) div ((hi - lo) div $bands + 1)"))
        .select(col("o_custkey"), col("rev"), col("bucket"))
      val wSpine = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val spine = bucketed.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("rev")).as("srev"))
        .withColumn("cnt_off", coalesce(sum(col("n")).over(wSpine), lit(0L)))
        .withColumn("rev_off", coalesce(sum(col("srev")).over(wSpine), lit(0L)))
        .select(col("bucket"), col("cnt_off"), col("rev_off"))
      // exact longs make total order-free — no max(cum)-as-total needed
      val tot = rev.agg(sum(col("rev")).as("total_rev"),
        count(lit(1)).as("n_customers"))
      val wIn = Window.partitionBy(col("bucket"))
        .orderBy(col("rev").desc, col("o_custkey"))
      bucketed.join(broadcast(spine), Seq("bucket"))
        .withColumn("rank", col("cnt_off") + row_number().over(wIn))
        .withColumn("cum_rev", col("rev_off") +
          sum(col("rev")).over(wIn.rowsBetween(Window.unboundedPreceding, 0)))
        .crossJoin(broadcast(tot))
        .filter(col("cum_rev").cast("decimal(38,0)") * 5 >=
          col("total_rev").cast("decimal(38,0)") * 4)
        .agg(min(col("rank")).cast("long").as("n80"),
          max(col("n_customers")).as("n_customers"))
        .select(col("n80"), col("n_customers"),
          round(col("n80").cast("double") / col("n_customers"), 4)
            .as("pareto_frac"))
    },

    "q40" -> { (s, dir) =>
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"))
        .withColumn("bucket", floor(col("c_acctbal") * 100).cast("long"))
      val spine = cust.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .withColumn("bucket_offset",
          coalesce(sum(col("n")).over(Window.orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("bucket"), col("bucket_offset"))
      val total = cust.agg(count(lit(1)).as("n_total"))
      val wIn = Window.partitionBy(col("bucket"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      // else-arm `div (n_total div 10)` cannot divide by zero: with
      // n_total < 10 every rank satisfies r <= cut (cut = n_total) and
      // the case never reaches the else arm
      val decile = expr(
        """case when r <= (n_total % 10) * (n_total div 10 + 1)
          |  then (r - 1) div (n_total div 10 + 1) + 1
          |  else (n_total % 10) +
          |    (r - (n_total % 10) * (n_total div 10 + 1) - 1)
          |      div (n_total div 10) + 1 end""".stripMargin)
      cust.join(broadcast(spine), Seq("bucket"))
        .withColumn("r", col("bucket_offset") + row_number().over(wIn))
        .crossJoin(total)
        .withColumn("decile", decile.cast("int"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_cust"),
          round(min(col("c_acctbal")), 4).as("min_bal"),
          round(max(col("c_acctbal")), 4).as("max_bal"),
          round(avg(col("c_acctbal")), 4).as("avg_bal"))
    })

  val oracle: Map[String, String] = Map(
    "q01" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),4) AS sum_qty,
        | round(sum(l_extendedprice),4) AS sum_base_price,
        | round(sum(l_extendedprice*(1-l_discount)),4) AS sum_disc_price,
        | round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),4) AS sum_charge,
        | round(avg(l_quantity),4) AS avg_qty,
        | round(avg(l_extendedprice),4) AS avg_price,
        | round(avg(l_discount),4) AS avg_disc,
        | count(1)::BIGINT AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1998-02-01'
        |  AND l_extendedprice > 4000.0""".stripMargin,

    "q03" ->
      """SELECT l_orderkey, o_orderdate,
        | round(sum(l_extendedprice*(1-l_discount)),4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate > TIMESTAMP '1997-01-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    "q04" ->
      """SELECT o_orderpriority, count(1)::BIGINT AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |GROUP BY o_orderpriority""".stripMargin,

    "q05" ->
      """SELECT n_name,
        | round(sum(l_extendedprice*(1-l_discount)),4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name""".stripMargin,

    "q06" ->
      """SELECT round(sum(l_extendedprice*l_discount),4) AS revenue, count(1)::BIGINT AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,

    "q07" ->
      """SELECT c_mktsegment, count(1)::BIGINT AS n_customers,
        | round(sum(c_acctbal),4) AS sum_acctbal
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate < TIMESTAMP '1995-07-01')
        |GROUP BY c_mktsegment""".stripMargin,

    "q08" ->
      """SELECT o_custkey, o_orderkey, totalprice, rk FROM (
        | SELECT o_custkey, o_orderkey, round(o_totalprice,4) AS totalprice,
        |  row_number() OVER (PARTITION BY o_custkey
        |                     ORDER BY round(o_totalprice,4) DESC, o_orderkey)::INT AS rk
        | FROM orders) WHERE rk <= 3""".stripMargin,

    "q09" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        | round(sum(l_quantity) OVER (PARTITION BY l_suppkey
        |   ORDER BY l_shipdate, l_orderkey, l_linenumber
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),4) AS running_qty
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin,

    "q10" ->
      """SELECT l_returnflag, l_linestatus, count(1)::BIGINT AS n,
        | round(sum(l_quantity),4) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q11" ->
      """SELECT o_orderstatus, o_orderpriority, count(1)::BIGINT AS n,
        | round(sum(o_totalprice),4) AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,

    "q12" ->
      """SELECT l_returnflag, l_linestatus, count(1)::BIGINT AS n,
        | round(sum(l_extendedprice),4) AS sum_price
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin,

    "q13" ->
      """SELECT l_returnflag,
        | count(DISTINCT l_suppkey)::BIGINT AS n_supp,
        | count(DISTINCT l_partkey)::BIGINT AS n_part,
        | count(1)::BIGINT AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q14" ->
      """SELECT o_orderpriority,
        | count(CASE WHEN o_orderstatus='F' THEN 1 END)::BIGINT AS n_f,
        | count(CASE WHEN o_orderstatus='O' THEN 1 END)::BIGINT AS n_o,
        | count(CASE WHEN o_orderstatus='P' THEN 1 END)::BIGINT AS n_p,
        | round(sum(CASE WHEN o_orderstatus='F' THEN o_totalprice ELSE 0.0 END),4) AS f_price
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q15" ->
      """SELECT date_trunc('month', o_orderdate)::TIMESTAMP AS month,
        | count(1)::BIGINT AS n_orders, round(sum(o_totalprice),4) AS sum_price
        |FROM orders GROUP BY 1""".stripMargin,

    "q16" ->
      """SELECT p_partkey,
        | upper(p_brand) AS brand_uc,
        | substr(p_type, 1, 6) AS type_prefix,
        | p_brand || '_' || p_type AS brand_type,
        | coalesce(regexp_extract(p_name, '([a-z]+)', 1), '') AS first_word,
        | length(p_name)::INT AS name_len,
        | lpad(p_partkey::VARCHAR, 10, '0') AS padded_key
        |FROM part""".stripMargin,

    "q17" ->
      """SELECT round(sum(l_extendedprice),4) AS small_lot_revenue, count(1)::BIGINT AS n
        |FROM lineitem l
        |JOIN (SELECT l_partkey AS pk, avg(l_quantity) AS avg_qty
        |      FROM lineitem GROUP BY 1) p ON l.l_partkey = p.pk
        |WHERE l.l_quantity < 0.5 * p.avg_qty""".stripMargin,

    "q18" ->
      """SELECT o_orderkey, o_custkey, o_orderdate, total_qty
        |FROM (SELECT l_orderkey, round(sum(l_quantity),4) AS total_qty
        |      FROM lineitem GROUP BY 1 HAVING round(sum(l_quantity),4) > 150) b
        |JOIN orders ON b.l_orderkey = o_orderkey""".stripMargin,

    "q19" ->
      """SELECT n_name, c_custkey, acctbal FROM (
        | SELECT c_nationkey, c_custkey, round(c_acctbal,4) AS acctbal,
        |  row_number() OVER (PARTITION BY c_nationkey
        |                     ORDER BY round(c_acctbal,4) DESC, c_custkey) AS rk
        | FROM customer) c
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE rk = 1""".stripMargin,

    "q29" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        | lag(l_quantity, 1) OVER w AS prev_qty,
        | lead(l_quantity, 1) OVER w AS next_qty,
        | first_value(l_quantity) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_qty,
        | (ntile(4) OVER w)::INT AS quartile,
        | round(percent_rank() OVER w, 4) AS pct_rank
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-06-01' AND l_shipdate < TIMESTAMP '1997-07-01'
        |WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)""".stripMargin,

    "q25" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.5),4) AS p50_price,
        | round(quantile_cont(l_extendedprice, 0.9),4) AS p90_price,
        | round(quantile_cont(l_quantity, 0.25),4) AS p25_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q26" ->
      """SELECT l_returnflag,
        | round(corr(l_quantity, l_extendedprice),4) + 0.0 AS corr_qty_price,
        | round(covar_samp(l_quantity, l_extendedprice),4) + 0.0 AS covar_qty_price,
        | round(var_samp(l_discount),4) + 0.0 AS var_disc,
        | round(skewness(l_quantity),4) + 0.0 AS skew_qty,
        | round(kurtosis(l_quantity),4) + 0.0 AS kurt_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q27" ->
      """SELECT coalesce(m1, m2) AS month,
        | coalesce(n_orders, 0)::BIGINT AS n_orders,
        | coalesce(n_ships, 0)::BIGINT AS n_ships
        |FROM (SELECT date_trunc('month', o_orderdate)::TIMESTAMP AS m1, count(1) AS n_orders
        |      FROM orders GROUP BY 1) o
        |FULL OUTER JOIN (SELECT date_trunc('month', l_shipdate)::TIMESTAMP AS m2, count(1) AS n_ships
        |      FROM lineitem GROUP BY 1) s ON m1 = m2""".stripMargin,

    "q28" ->
      """WITH g AS (
        | SELECT l_orderkey, list(l_quantity ORDER BY l_linenumber, l_quantity) AS qty_series
        | FROM lineitem WHERE l_orderkey % 1000 = 0 GROUP BY 1)
        |SELECT l_orderkey, (generate_subscripts(qty_series, 1) - 1)::INT AS pos,
        |       unnest(qty_series) AS qty
        |FROM g""".stripMargin,

    "q32" ->
      """SELECT c_custkey, c_mktsegment,
        |  (SELECT max(o_orderdate) FROM orders WHERE o_custkey = c_custkey) AS last_order,
        |  (SELECT count(1) FROM orders WHERE o_custkey = c_custkey
        |     AND o_totalprice > 100000)::BIGINT AS n_big_orders
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |              AND o_orderstatus = 'O')""".stripMargin,

    "q35" ->
      """SELECT o_orderkey, o_custkey, o_orderdate,
        | round(sum(o_totalprice) OVER w, 4) AS rev_7d,
        | count(1) OVER w AS n_7d
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY date_diff('day', TIMESTAMP '1990-01-01', o_orderdate)
        |  RANGE BETWEEN 7 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q30" ->
      """SELECT o_orderkey,
        | year(o_orderdate)::INT AS y,
        | month(o_orderdate)::INT AS m,
        | day(o_orderdate)::INT AS d,
        | quarter(o_orderdate)::INT AS q,
        | (o_orderdate + INTERVAL 3 MONTH)::DATE AS plus3m,
        | last_day(o_orderdate::DATE) AS month_end,
        | o_orderdate::DATE AS as_date
        |FROM orders WHERE o_orderkey % 500 = 0""".stripMargin,

    "q20" ->
      """WITH a AS (SELECT o_custkey FROM orders
        |           WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'),
        |     b AS (SELECT o_custkey FROM orders
        |           WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01')
        |SELECT o_custkey, 'both' AS op FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
        |UNION ALL
        |SELECT o_custkey, 'first_only' AS op FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)""".stripMargin,

    "q36" ->
      """WITH dim AS (
        |  SELECT l_returnflag, round(avg(l_tax), 6) AS avg_tax,
        |         round(avg(l_discount), 6) AS avg_disc
        |  FROM lineitem GROUP BY 1)
        |SELECT l_orderkey, l_linenumber, l_returnflag,
        |  round(l_extendedprice * (1 - avg_disc) * (1 + avg_tax), 4) AS adj_price
        |FROM lineitem JOIN dim USING (l_returnflag)
        |WHERE l_quantity >= 45""".stripMargin,

    "q37" ->
      """SELECT o_orderpriority,
        | round(sum(CASE WHEN o_orderstatus='F' THEN o_totalprice END), 4) AS "F",
        | round(sum(CASE WHEN o_orderstatus='O' THEN o_totalprice END), 4) AS "O",
        | round(sum(CASE WHEN o_orderstatus='P' THEN o_totalprice END), 4) AS "P"
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q38" ->
      """SELECT o.o_orderkey, l.l_linenumber, l.l_extendedprice
        |FROM orders o,
        |LATERAL (SELECT l_linenumber, l_extendedprice
        |         FROM lineitem
        |         WHERE l_orderkey = o.o_orderkey
        |         ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) l
        |WHERE o.o_totalprice > 480000""".stripMargin,

    "q39" ->
      """WITH RECURSIVE bounds AS (
        |  SELECT date_trunc('month', min(o_orderdate)) AS lo,
        |         date_trunc('month', max(o_orderdate)) AS hi
        |  FROM orders),
        |spine(m) AS (
        |  SELECT lo FROM bounds
        |  UNION ALL
        |  SELECT m + INTERVAL '1' MONTH FROM spine, bounds WHERE m < hi)
        |SELECT spine.m::TIMESTAMP AS month,
        |       count(o.o_orderkey)::BIGINT AS n_big_orders
        |FROM spine LEFT JOIN orders o
        |  ON date_trunc('month', o.o_orderdate) = spine.m
        | AND o.o_totalprice > 450000
        |GROUP BY spine.m""".stripMargin,

    "q45" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT o_custkey, rev,
        |    row_number() OVER (ORDER BY rev DESC, o_custkey) AS rank,
        |    sum(rev) OVER (ORDER BY rev DESC, o_custkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
        |  FROM rev),
        |tot AS (
        |  SELECT sum(rev) AS total_rev, count(*)::BIGINT AS n_customers
        |  FROM rev)
        |SELECT min(rank)::BIGINT AS n80, max(tot.n_customers) AS n_customers,
        |  round(min(rank)::DOUBLE / max(tot.n_customers), 4) AS pareto_frac
        |FROM r CROSS JOIN tot
        |WHERE cum_rev * 5 >= tot.total_rev * 4""".stripMargin,

    "q44" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pc AS (SELECT l_partkey, count(*)::BIGINT AS n_part FROM li GROUP BY 1),
        |tot AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n_orders_total
        |        FROM li),
        |pr AS (
        |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |    count(*)::BIGINT AS n_orders
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT part_a, part_b, n_orders,
        |  round(n_orders::DOUBLE * tot.n_orders_total
        |        / (ca.n_part * cb.n_part), 4) AS lift
        |FROM pr
        |JOIN pc ca ON part_a = ca.l_partkey
        |JOIN pc cb ON part_b = cb.l_partkey
        |CROSS JOIN tot""".stripMargin,

    "q43" ->
      """WITH mx AS (SELECT max(o_orderdate) AS max_date FROM orders),
        |r AS (
        |  SELECT o_custkey,
        |    min(datediff('day', o_orderdate::DATE, mx.max_date::DATE))::INT
        |      AS recency,
        |    count(*)::BIGINT AS frequency,
        |    round(sum(o_totalprice), 4) AS monetary
        |  FROM orders CROSS JOIN mx GROUP BY 1)
        |SELECT o_custkey, recency, frequency, monetary,
        |  CASE WHEN recency <= 365 AND frequency >= 10 THEN 'champion'
        |       WHEN recency <= 365 THEN 'active'
        |       WHEN frequency >= 10 THEN 'lapsed_loyal'
        |       ELSE 'dormant' END AS segment
        |FROM r""".stripMargin,

    "q40" ->
      """WITH r AS (
        |  SELECT c_acctbal,
        |    ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
        |  FROM customer)
        |SELECT decile::INT AS decile, count(1)::BIGINT AS n_cust,
        |  round(min(c_acctbal), 4) AS min_bal,
        |  round(max(c_acctbal), 4) AS max_bal,
        |  round(avg(c_acctbal), 4) AS avg_bal
        |FROM r GROUP BY decile""".stripMargin)
}
