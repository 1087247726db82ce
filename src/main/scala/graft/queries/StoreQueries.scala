package graft
package queries

import graft.api._
import graft.builder._
import graft.query.{MongoFilter, QueryParams}
import graft.store.TableStore
import graft.store.views._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import SparkEntry._

/** The store plane: Store queries, predicates, joins, aggregations,
  * windows, set operations, view stores and the API compile paths. */
private[graft] object StoreQueries {
  val all: Seq[BenchQuery] = Seq(
    BenchQuery("s1_query_fold", (s, dir) => {
      val store = new TableStore(s, t(s, dir, "orders"), "orders", "o_orderkey", "o_orderdate")
      store.query(QueryParams(
        criteria = Some("""{"o_orderstatus": "O", "o_totalprice": {"$gt": 150000},
          "o_orderpriority": {"$in": ["1-URGENT", "2-HIGH"]}}"""),
        properties = Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"),
        sort = Seq("o_totalprice" -> -1, "o_orderkey" -> 1),
        skip = 10, limit = Some(100)))
    }, oracleSql = ("SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders " +
        "WHERE o_orderstatus = 'O' AND o_totalprice > 150000 " +
        "AND o_orderpriority IN ('1-URGENT','2-HIGH') " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100 OFFSET 10")),

    BenchQuery("s2_query_one", (s, dir) => {
      val store = new TableStore(s, t(s, dir, "orders"), "orders", "o_orderkey", "o_orderdate")
      store.query(QueryParams(
        criteria = Some("""{"o_orderstatus": "F"}"""),
        properties = Seq("o_orderkey", "o_totalprice"),
        sort = Seq("o_totalprice" -> -1, "o_orderkey" -> 1), limit = Some(1)))
    }, oracleSql = ("SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F' " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 1")),

    BenchQuery("s3_count", (s, dir) => {
      val store = new TableStore(s, t(s, dir, "lineitem"), "lineitem", "l_orderkey", "l_shipdate")
      MongoFilter(store.df,
        """{"l_shipdate": {"$gte": {"$date": "1995-01-01T00:00:00Z"}},
           "l_discount": {"$lte": 0.05}}""")
        .agg(count(lit(1)).alias("n"))
    }, oracleSql = ("SELECT count(*) AS n FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00' AND l_discount <= 0.05")),

    BenchQuery("s4_distinct", (s, dir) => {
      val store = new TableStore(s, t(s, dir, "customer"), "customer", "c_custkey")
      store.distinct("c_mktsegment", Some("""{"c_acctbal": {"$gt": 0}}"""))
        .orderBy("c_mktsegment")
    }, oracleSql = "SELECT DISTINCT c_mktsegment FROM customer WHERE c_acctbal > 0 ORDER BY 1"),

    BenchQuery("s4b_distinct_array", (s, dir) => {
      // distinct over an array field unravels it (mongolike.py:176-181)
      val df = t(s, dir, "documents").withColumn("toks", split(col("text"), " "))
      val store = new TableStore(s, df, "docs", "doc_id")
      store.distinct("toks").orderBy("toks")
    }, oracleSql = ("SELECT DISTINCT t.tok AS toks FROM documents, " +
        "UNNEST(string_split(text, ' ')) AS t(tok) ORDER BY 1")),

    BenchQuery("s5_groupby", (s, dir) => {
      val store = new TableStore(s, t(s, dir, "orders"), "orders", "o_orderkey", "o_orderdate")
      store.groupby(Seq("o_orderstatus", "o_orderpriority"))
        .select(col("o_orderstatus"), col("o_orderpriority"),
          size(col("docs")).alias("n_docs"))
        .orderBy("o_orderstatus", "o_orderpriority")
    }, oracleSql = ("SELECT o_orderstatus, o_orderpriority, count(*) AS n_docs FROM orders " +
        "GROUP BY 1, 2 ORDER BY 1, 2")),

    BenchQuery("s9_last_updated", (s, dir) =>
      t(s, dir, "orders").agg(max(col("o_orderdate")).alias("last_updated")),
      oracleSql = "SELECT max(o_orderdate) AS last_updated FROM orders"),

    BenchQuery("s10_newer_in", (s, dir) => {
      val ev = events(s, dir)
      val srcStore = new TableStore(s,
        ev.filter(col("event_id") < 800).select(col("event_id"), col("ts").alias("lu")),
        "src", "event_id", "lu")
      val tgtStore = new TableStore(s,
        ev.select(col("event_id"),
          when(col("event_id") % 10 === 0, col("ts") + expr("INTERVAL 1 HOUR"))
            .otherwise(col("ts")).alias("lu")),
        "tgt", "event_id", "lu")
      srcStore.newerIn(tgtStore).orderBy("event_id")
    }, oracleSql = ("SELECT t.event_id FROM " +
        "(SELECT event_id, CASE WHEN event_id % 10 = 0 THEN ts + INTERVAL 1 HOUR ELSE ts END AS lu FROM events) t " +
        "LEFT JOIN (SELECT event_id, ts AS lu FROM events WHERE event_id < 800) s " +
        "ON t.event_id = s.event_id WHERE s.lu IS NULL OR t.lu > s.lu ORDER BY 1")),

    BenchQuery("pred_expr_elem_at", (s, dir) => {
      val df = t(s, dir, "orders").withColumn("prio_parts", split(col("o_orderpriority"), "-"))
      MongoFilter(df, """{"$expr": {"$eq": [{"$arrayElemAt": ["$prio_parts", -1]}, "URGENT"]}}""")
        .select(col("o_orderkey")).orderBy("o_orderkey")
    }, oracleSql = ("SELECT o_orderkey FROM orders " +
        "WHERE (string_split(o_orderpriority, '-'))[-1] = 'URGENT' ORDER BY 1")),

    BenchQuery("pred_regex_in_nin", (s, dir) => {
      MongoFilter(t(s, dir, "part"),
        """{"p_size": {"$in": [1, 5, 9, 13]}, "p_type": {"$regex": "^(ECONOMY|PROMO)"},
           "p_brand": {"$nin": ["Brand#11", "Brand#22"]}}""")
        .select(col("p_partkey")).orderBy("p_partkey")
    }, oracleSql = ("SELECT p_partkey FROM part WHERE p_size IN (1,5,9,13) " +
        "AND regexp_matches(p_type, '^(ECONOMY|PROMO)') " +
        "AND p_brand NOT IN ('Brand#11','Brand#22') ORDER BY 1")),

    BenchQuery("pred_exists", (s, dir) => {
      val df = t(s, dir, "orders").withColumn("maybe",
        when(col("o_orderkey") % 7 === 0, lit(null)).otherwise(col("o_orderpriority")))
      MongoFilter(df, """{"maybe": {"$exists": false}}""").agg(count(lit(1)).alias("n"))
    }, oracleSql = "SELECT count(*) AS n FROM orders WHERE o_orderkey % 7 = 0"),

    BenchQuery("pred_and_or_range", (s, dir) => {
      MongoFilter(t(s, dir, "lineitem"),
        """{"$or": [{"l_quantity": {"$gte": 45}},
                    {"$and": [{"l_discount": {"$gt": 0.08}}, {"l_returnflag": {"$ne": "N"}}]}]}""")
        .agg(count(lit(1)).alias("n"))
    }, oracleSql = ("SELECT count(*) AS n FROM lineitem WHERE l_quantity >= 45 " +
        "OR (l_discount > 0.08 AND l_returnflag <> 'N')")),

    BenchQuery("pred_array_contains", (s, dir) => {
      val df = t(s, dir, "documents").withColumn("toks", split(col("text"), " "))
      MongoFilter(df, """{"toks": "spark"}""")
        .select(col("doc_id")).orderBy("doc_id")
    }, oracleSql = ("SELECT doc_id FROM documents " +
        "WHERE list_contains(string_split(text, ' '), 'spark') ORDER BY 1")),

    BenchQuery("pred_elem_match", (s, dir) => {
      val df = t(s, dir, "part").withColumn("arr",
        array(col("p_size").cast("double"), col("p_retailprice")))
      MongoFilter(df, """{"arr": {"$elemMatch": {"$lt": 5}}}""")
        .select(col("p_partkey")).orderBy("p_partkey")
    }, oracleSql = ("SELECT p_partkey FROM part WHERE len(list_filter(" +
        "[CAST(p_size AS DOUBLE), p_retailprice], x -> x < 5)) > 0 ORDER BY 1")),

    BenchQuery("pred_all_size", (s, dir) => {
      val df = t(s, dir, "documents").withColumn("toks", split(col("text"), " "))
      MongoFilter(df, """{"toks": {"$all": ["spark", "data"]}}""")
        .select(col("doc_id"), size(col("toks")).alias("n_toks"))
        .orderBy("doc_id")
    }, oracleSql = ("SELECT doc_id, len(string_split(text, ' ')) AS n_toks FROM documents " +
        "WHERE list_has_all(string_split(text, ' '), ['spark', 'data']) ORDER BY 1")),

    BenchQuery("pred_dot_path", (s, dir) => {
      val df = t(s, dir, "customer")
        .select(col("c_custkey"), struct(col("c_name"), col("c_acctbal")).alias("cust"))
      val store = new TableStore(s, df, "cust", "c_custkey")
      store.query(QueryParams(
        criteria = Some("""{"cust.c_acctbal": {"$gt": 5000}}"""),
        properties = Seq("c_custkey", "cust.c_acctbal"),
        sort = Seq("c_custkey" -> 1)))
    }, oracleSql = ("SELECT c_custkey, c_acctbal AS cust_c_acctbal FROM customer " +
        "WHERE c_acctbal > 5000 ORDER BY 1")),

    BenchQuery("c13_joint_lookup", (s, dir) => {
      val main = new TableStore(s, t(s, dir, "orders"), "orders", "o_custkey", "o_orderdate")
      val cust = new TableStore(s, t(s, dir, "customer"), "customer", "c_custkey")
      new JointStore(main, Seq("cust" -> cust)).df
        .select(col("o_orderkey"), col("o_totalprice"),
          col("cust.c_name").alias("c_name"),
          col("cust.c_mktsegment").alias("c_mktsegment"))
        .orderBy("o_orderkey")
    }, oracleSql = ("SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment " +
        "FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey " +
        "ORDER BY o_orderkey")),

    BenchQuery("c13_joint_merge_root", (s, dir) => {
      val main = new TableStore(s, t(s, dir, "lineitem"), "lineitem", "l_orderkey", "l_shipdate")
      val ord = new TableStore(s, t(s, dir, "orders"), "orders", "o_orderkey", "o_orderdate")
      new JointStore(main, Seq("ord" -> ord), mergeAtRoot = true).df
        .select(col("l_orderkey"), col("l_linenumber"), col("o_totalprice"),
          col("o_orderstatus"), col("l_shipdate").alias("joint_lu"))
        .orderBy("l_orderkey", "l_linenumber")
    }, oracleSql = ("SELECT l.l_orderkey, l.l_linenumber, o.o_totalprice, o.o_orderstatus, " +
        "greatest(l.l_shipdate, o.o_orderdate) AS joint_lu " +
        "FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey " +
        "ORDER BY 1, 2")),

    BenchQuery("join_anti_orphans", (s, dir) => {
      t(s, dir, "customer").join(t(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey")).orderBy("c_custkey")
    }, oracleSql = ("SELECT c_custkey FROM customer c WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) ORDER BY 1")),

    BenchQuery("join_semi", (s, dir) => {
      t(s, dir, "supplier").join(
          t(s, dir, "lineitem").filter(col("l_shipdate") >= lit("1997-01-01")),
          col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey")).orderBy("s_suppkey")
    }, oracleSql = ("SELECT s_suppkey FROM supplier s WHERE EXISTS (SELECT 1 FROM lineitem l " +
        "WHERE l.l_suppkey = s.s_suppkey AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00') " +
        "ORDER BY 1")),

    BenchQuery("join_asof", (s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
      graft.ext.TemporalJoins.asofJoin(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        purchases, keys = Seq("user_id"), tsCol = "ts",
        payload = Map("last_purchase_id" -> "event_id"))
        .select(col("event_id"), col("user_id"), col("last_purchase_id"))
        .orderBy("event_id")
    }, oracleSql = ("SELECT l.event_id, l.user_id, r.event_id AS last_purchase_id " +
        "FROM events l ASOF LEFT JOIN (SELECT user_id, ts, event_id FROM events " +
        "WHERE event_type = 'purchase') r ON l.user_id = r.user_id AND l.ts >= r.ts " +
        "ORDER BY l.event_id")),

    BenchQuery("join_asof_forward", (s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
      graft.ext.TemporalJoins.asofJoin(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        purchases, keys = Seq("user_id"), tsCol = "ts",
        payload = Map("next_purchase_id" -> "event_id"),
        direction = "forward")
        .select(col("event_id"), col("user_id"), col("next_purchase_id"))
        .orderBy("event_id")
    }, oracleSql = ("SELECT l.event_id, l.user_id, r.event_id AS next_purchase_id " +
        "FROM events l ASOF LEFT JOIN (SELECT user_id, ts, event_id FROM events " +
        "WHERE event_type = 'purchase') r ON l.user_id = r.user_id AND l.ts <= r.ts " +
        "ORDER BY l.event_id")),

    BenchQuery("join_asof_tolerance", (s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
      graft.ext.TemporalJoins.asofJoin(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        purchases, keys = Seq("user_id"), tsCol = "ts",
        payload = Map("recent_purchase_id" -> "event_id"),
        toleranceMs = Some(86400000L)) // 1 day
        .select(col("event_id"), col("user_id"), col("recent_purchase_id"))
        .orderBy("event_id")
    }, oracleSql = ("SELECT l.event_id, l.user_id, CASE WHEN epoch_ms(l.ts) - epoch_ms(r.ts) " +
        "<= 86400000 THEN r.event_id END AS recent_purchase_id " +
        "FROM events l ASOF LEFT JOIN (SELECT user_id, ts, event_id FROM events " +
        "WHERE event_type = 'purchase') r ON l.user_id = r.user_id AND l.ts >= r.ts " +
        "ORDER BY l.event_id")),

    BenchQuery("join_range", (s, dir) => {
      val sampled = t(s, dir, "orders").filter(col("o_orderkey") % 100 === 0)
      graft.ext.TemporalJoins.rangeJoinCount(
        sampled, "o_orderdate", t(s, dir, "lineitem"), "l_shipdate",
        windowMs = 604800000L, lKeyCols = Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }, oracleSql = ("SELECT o_orderkey, count(*) AS n_in_range FROM orders o JOIN lineitem l " +
        "ON l.l_shipdate >= o.o_orderdate " +
        "AND epoch_ms(l.l_shipdate) < epoch_ms(o.o_orderdate) + 604800000 " +
        "WHERE o_orderkey % 100 = 0 GROUP BY 1 ORDER BY 1")),

    BenchQuery("q1_agg", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(fxSum(col("l_quantity"), 100L).alias("sum_qty"),
          fxSum(col("l_extendedprice"), 100L).alias("sum_price"),
          count(lit(1)).alias("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }, oracleSql = ("SELECT l_returnflag, l_linestatus, " +
        s"${fxSumSql("l_quantity", 100L)} AS sum_qty, " +
        s"${fxSumSql("l_extendedprice", 100L)} AS sum_price, " +
        "count(*) AS count_order FROM lineitem " +
        "WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00' GROUP BY 1, 2 ORDER BY 1, 2")),

    // grouping-set queries pre-aggregate to the base grain BEFORE the
    // Expand: Spark implements rollup/cube by replicating its INPUT once
    // per grouping set, so expanding the raw corpus shuffles |corpus|×
    // |sets| rows while expanding the base-grain pre-aggregate shuffles
    // |distinct groups|×|sets|. count and the fixed-point sum are
    // decomposable (long sums re-aggregate exactly), so results are
    // bit-identical — this is the 100 TB shape for grouping sets.
    BenchQuery("agg_rollup", (s, dir) => {
      val pre = t(s, dir, "orders")
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).alias("__n"),
          sum(round(col("o_totalprice") * 100L).cast("long")).alias("__fx"))
      pre.rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(sum(col("__n")).alias("n"),
          (sum(col("__fx")) / 100.0d).alias("sum_price"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).alias("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).alias("prio"),
          col("n"), col("sum_price"))
        .orderBy("status", "prio")
    }, oracleSql = ("SELECT COALESCE(o_orderstatus, 'ALL') AS status, " +
        "COALESCE(o_orderpriority, 'ALL') AS prio, count(*) AS n, " +
        s"${fxSumSql("o_totalprice", 100L)} AS sum_price " +
        "FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority) ORDER BY 1, 2")),

    // exact percentile, spelled as sorted-array interpolation rather
    // than the builtin `percentile` aggregate: the builtin's buffer is
    // an OpenHashMap[boxed value, count] updated per row (generic
    // hashing + boxing on the hot path — measured 3.3 s at sf0.1),
    // while collect_list appends flat unsafe bytes and one final
    // sort_array per group orders them (0.4 s, same output). The
    // interpolation reproduces Spark Percentile.getPercentile
    // bit-for-bit — `(hi−pos)·v[lo] + (pos−lo)·v[hi]` with
    // pos = q·(n−1), NOT the algebraically-equal v[lo]+frac·Δ, which
    // rounds differently — and that formula is the r1 finding that
    // hash-matches DuckDB's quantile_cont. SCALE CAVEAT (unchanged
    // from the builtin): per-group state is all values, unbounded —
    // at 100 TB the documented path is `agg_percentile_approx` below
    // (fixed-size GK sketch, rank error ≤ n/accuracy).
    BenchQuery("agg_percentile", (s, dir) => {
      import graft.functions.GraftFunctions.quantileCont
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(sort_array(collect_list(col("l_quantity").cast("double")))
            .alias("__aq"),
          sort_array(collect_list(col("l_extendedprice").cast("double")))
            .alias("__ap"))
        .select(col("l_returnflag"),
          quantileCont(col("__aq"), 0.5).alias("med_qty"),
          quantileCont(col("__ap"), 0.25).alias("q25_price"),
          quantileCont(col("__ap"), 0.75).alias("q75_price"))
        .orderBy("l_returnflag")
    }, oracleSql = ("SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med_qty, " +
        "quantile_cont(l_extendedprice, 0.25) AS q25_price, " +
        "quantile_cont(l_extendedprice, 0.75) AS q75_price " +
        "FROM lineitem GROUP BY 1 ORDER BY 1")),

    // the 100 TB percentile path: approx_percentile's per-group state is
    // a fixed-size Greenwald-Khanna sketch (rank error ≤ n/accuracy =
    // n/10000) instead of the exact variant's all-distinct-values buffer.
    // Oracle-verifiable because the quantile points are chosen OFF the
    // cdf plateau boundaries of the (integer-plateaued) columns: both
    // engines' discrete-quantile ranks land mid-plateau, so the returned
    // DATA VALUES agree exactly even though the sketches differ.
    BenchQuery("agg_percentile_approx", (s, dir) => {
      // both discount quantiles read ONE QuantileSummaries sketch (the
      // array form) instead of building two identical ones — same values
      // (same sketch, same accuracy), one-third less aggregation work
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(expr("approx_percentile(l_quantity, 0.51, 10000)").alias("med_qty"),
          expr("approx_percentile(l_discount, array(0.30D, 0.70D), 10000)")
            .alias("__qd"))
        .select(col("l_returnflag"), col("med_qty"),
          col("__qd")(0).alias("q30_disc"), col("__qd")(1).alias("q70_disc"))
        .orderBy("l_returnflag")
    }, oracleSql = ("SELECT l_returnflag, quantile_disc(l_quantity, 0.51) AS med_qty, " +
        "quantile_disc(l_discount, 0.30) AS q30_disc, " +
        "quantile_disc(l_discount, 0.70) AS q70_disc " +
        "FROM lineitem GROUP BY 1 ORDER BY 1")),

    // pre-aggregate before the cube Expand — see agg_rollup
    BenchQuery("agg_cube", (s, dir) => {
      val pre = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).alias("__n"),
          sum(round(col("l_quantity") * 100L).cast("long")).alias("__fx"))
      pre.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("__n")).alias("n"),
          (sum(col("__fx")) / 100.0d).alias("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).alias("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).alias("ls"),
          col("n"), col("sum_qty"))
        .orderBy("rf", "ls")
    }, oracleSql = ("SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls, " +
        s"count(*) AS n, ${fxSumSql("l_quantity", 100L)} AS sum_qty " +
        "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) ORDER BY 1, 2")),

    BenchQuery("agg_time_window", (s, dir) => {
      events(s, dir)
        .groupBy(date_trunc("day", col("ts")).alias("d"), col("event_type"))
        .agg(count(lit(1)).alias("n"),
          fxSum(col("value"), 1000000L).alias("sum_val"))
        .orderBy("d", "event_type")
    }, oracleSql = ("SELECT date_trunc('day', ts) AS d, event_type, count(*) AS n, " +
        s"${fxSumSql("value", 1000000L)} AS sum_val FROM events " +
        "GROUP BY 1, 2 ORDER BY 1, 2")),

    BenchQuery("window_latest_per_user", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      events(s, dir)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"))
        .orderBy("user_id")
    }, oracleSql = ("SELECT user_id, event_id, event_type FROM events QUALIFY " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1 " +
        "ORDER BY user_id")),

    BenchQuery("window_running", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .select(col("event_id"),
          count(lit(1)).over(w).alias("rn"),
          (sum(round(col("value") * 1000000L).cast("long")).over(w) / 1e6)
            .alias("run_sum"))
        .orderBy("event_id")
    }, oracleSql = ("SELECT event_id, count(*) OVER w AS rn, " +
        s"${fxSumOverSql("value", 1000000L, "OVER w")} AS run_sum FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) ORDER BY event_id")),

    BenchQuery("window_sessionize", (s, dir) => {
      sortedPairs(
        graft.streaming.Sessionize.sessionsBatch(events(s, dir), gapMs = 3600000)
          .select(col("user_id"), col("n_events"), col("total"),
            unix_millis(col("start_ts")).alias("start_ms"),
            unix_millis(col("end_ts")).alias("end_ms")),
        "user_id", "start_ms")
    }, oracleSql = ("WITH e AS (SELECT user_id, ts, value, CASE WHEN lag(ts) OVER w IS NULL " +
        "OR ts - lag(ts) OVER w > INTERVAL 1 HOUR THEN 1 ELSE 0 END AS nss FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts)), " +
        "s AS (SELECT *, sum(nss) OVER (PARTITION BY user_id ORDER BY ts " +
        "ROWS UNBOUNDED PRECEDING) AS sid FROM e) " +
        "SELECT user_id, count(*) AS n_events, " +
        s"${fxSumSql("value", 1000000L)} AS total, " +
        "epoch_ms(min(ts)) AS start_ms, epoch_ms(max(ts)) AS end_ms " +
        "FROM s GROUP BY user_id, sid ORDER BY user_id, start_ms")),

    BenchQuery("topk", (s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
          col("l_linenumber").asc)
        .limit(15)
    }, oracleSql = ("SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem " +
        "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 15")),

    BenchQuery("c14_concat_union", (s, dir) => {
      val ev = events(s, dir)
      val a = new TableStore(s, ev.filter(col("value") < 0.3), "a", "event_id")
      val b = new TableStore(s, ev.filter(col("value") >= 0.7), "b", "event_id")
      new ConcatStore(Seq(a, b)).df
        .groupBy(col("event_type")).agg(count(lit(1)).alias("n"))
        .orderBy("event_type")
    }, oracleSql = ("SELECT event_type, count(*) AS n FROM (SELECT * FROM events WHERE value < 0.3 " +
        "UNION ALL SELECT * FROM events WHERE value >= 0.7) GROUP BY 1 ORDER BY 1")),

    BenchQuery("setop_except", (s, dir) => {
      val p = t(s, dir, "part")
      p.select(col("p_brand")).distinct()
        .except(p.filter(col("p_size") < 10).select(col("p_brand")))
        .orderBy("p_brand")
    }, oracleSql = ("SELECT * FROM ((SELECT DISTINCT p_brand FROM part) EXCEPT " +
        "(SELECT p_brand FROM part WHERE p_size < 10)) ORDER BY 1")),

    BenchQuery("setop_intersect", (s, dir) => {
      val p = t(s, dir, "part")
      p.filter(col("p_size") < 10).select(col("p_brand"))
        .intersect(p.filter(col("p_size") > 40).select(col("p_brand")))
        .orderBy("p_brand")
    }, oracleSql = ("SELECT * FROM ((SELECT p_brand FROM part WHERE p_size < 10) INTERSECT " +
        "(SELECT p_brand FROM part WHERE p_size > 40)) ORDER BY 1")),

    BenchQuery("c15_aliasing", (s, dir) => {
      val inner = new TableStore(s, t(s, dir, "orders"), "orders", "o_orderkey", "o_orderdate")
      val aliased = new AliasingStore(inner,
        Map("id" -> "o_orderkey", "price" -> "o_totalprice", "status" -> "o_orderstatus"))
      aliased.query(QueryParams(
        criteria = Some("""{"price": {"$gt": 200000}, "status": "F"}"""),
        properties = Seq("id", "price"), sort = Seq("id" -> 1)))
    }, oracleSql = ("SELECT o_orderkey AS id, o_totalprice AS price FROM orders " +
        "WHERE o_totalprice > 200000 AND o_orderstatus = 'F' ORDER BY 1")),

    BenchQuery("c16_sandbox", (s, dir) => {
      val ev = events(s, dir).withColumn("sbxn",
        when(col("event_id") % 3 === 0, array(lit("core")))
          .when(col("event_id") % 3 === 1, array(lit("other")))
          .otherwise(lit(null).cast("array<string>")))
      val inner = new TableStore(s, ev, "events", "event_id")
      new SandboxStore(inner, "core").df
        .groupBy(col("event_type")).agg(count(lit(1)).alias("n"))
        .orderBy("event_type")
    }, oracleSql = ("SELECT event_type, count(*) AS n FROM events " +
        "WHERE event_id % 3 = 0 OR event_id % 3 = 2 GROUP BY 1 ORDER BY 1")),

    BenchQuery("c8_object_covered", (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_os").toString
      val os = new graft.store.ObjectStore(s, s"$base/d", s"$base/i",
        key = "o_orderkey", searchableFields = Seq("o_orderstatus"),
        lastUpdatedField = "o_orderdate")
      os.update(t(s, dir, "orders"))
      os.query(QueryParams(criteria = Some("""{"o_orderstatus": "F"}"""),
        properties = Seq("o_orderkey", "o_orderstatus"), sort = Seq("o_orderkey" -> 1)))
    }, oracleSql = ("SELECT o_orderkey, o_orderstatus FROM orders " +
        "WHERE o_orderstatus = 'F' ORDER BY 1")),

    BenchQuery("c7_blob_latest", (s, dir) => {
      // GridFS-analogue blob plane: zlib-on-write, newest-per-key dedup,
      // metadata.-prefixed criteria, inflate-on-read round trip
      val base = java.nio.file.Files.createTempDirectory("graft_blob").toString
      val bs = new graft.store.BlobStore(s, base, key = "doc_id",
        lastUpdatedField = "lu", searchableFields = Seq("source"),
        compression = true)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"),
          timestamp_millis(col("doc_id") * 1000).alias("lu"))
      bs.put(docs, "text")
      bs.put(docs.filter(col("doc_id") % 10 === 0)
        .withColumn("text", concat(col("text"), lit(" v2")))
        .withColumn("lu", timestamp_millis(col("doc_id") * 1000 + 3600000L)),
        "text")
      bs.inflated(bs.query(QueryParams(criteria =
          Some("""{"length": {"$gt": 0}, "source": {"$exists": true}}"""))))
        .select(col("doc_id"),
          col("metadata.length").alias("length"),
          col("metadata.content_md5").alias("content_md5"),
          col("metadata.compression").alias("compression"),
          col("metadata.source").alias("source"),
          md5(col("payload")).alias("payload_md5"),
          unix_millis(col("metadata.lu")).alias("lu_ms"))
        .orderBy("doc_id")
    }, oracleSql = ("WITH base AS (SELECT doc_id, text, source, doc_id * 1000 AS lu_ms, 1 AS ver FROM documents), " +
        "upd AS (SELECT doc_id, text || ' v2' AS text, source, doc_id * 1000 + 3600000 AS lu_ms, 2 AS ver " +
        "FROM documents WHERE doc_id % 10 = 0), " +
        "latest AS (SELECT * FROM (SELECT * FROM base UNION ALL SELECT * FROM upd) " +
        "QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY ver DESC) = 1) " +
        "SELECT doc_id, octet_length(encode(text)) AS length, md5(text) AS content_md5, " +
        "'zlib' AS compression, source, md5(text) AS payload_md5, lu_ms " +
        "FROM latest ORDER BY doc_id")),

    BenchQuery("c10_query_expr", (s, dir) => {
      // C10 pandas-query-string surface: SQL expression filter on a store
      val store = new TableStore(s, t(s, dir, "orders"), "orders", "o_orderkey", "o_orderdate")
      store.queryExpr("o_totalprice > 200000 AND o_orderstatus = 'F'")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_orderkey")
    }, oracleSql = ("SELECT o_orderkey, o_totalprice FROM orders " +
        "WHERE o_totalprice > 200000 AND o_orderstatus = 'F' ORDER BY 1")),

    BenchQuery("a12_agg_sql", (s, dir) => {
      // A12 aggregation escape hatch: raw SQL over the store's documents
      val store = new TableStore(s, t(s, dir, "lineitem"), "lineitem", "l_orderkey", "l_shipdate")
      // 100.0D: in Spark SQL text a bare `100.0` parses as DECIMAL(4,1)
      // (unlike the DataFrame API's lit(100.0)=double), which would make
      // the division DECIMAL-typed — the exact rendering trap fxSum avoids
      store.aggregateSql(
        "SELECT l_returnflag, count(*) AS n, " +
        "CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) / 100.0D AS sum_disc " +
        "FROM docs GROUP BY l_returnflag ORDER BY l_returnflag")
    }, oracleSql = ("SELECT l_returnflag, count(*) AS n, " +
        s"${fxSumSql("l_discount", 100L)} AS sum_disc " +
        "FROM lineitem GROUP BY 1 ORDER BY 1")),

    BenchQuery("s5b_groupby_paged", (s, dir) => {
      // S5 parity params: criteria + properties + sort + skip + limit
      // fold before the grouping
      val store = new TableStore(s, t(s, dir, "orders"), "orders", "o_orderkey", "o_orderdate")
      store.groupby(Seq("o_orderpriority"),
        criteria = Some("""{"o_orderstatus": "O"}"""),
        properties = Seq("o_orderkey", "o_totalprice"),
        sort = Seq("o_orderkey" -> 1), skip = 100, limit = Some(1000))
        .select(col("o_orderpriority"), size(col("docs")).alias("n_docs"),
          aggregate(col("docs"),
            lit(0L), (acc, d) => acc + d.getField("o_orderkey")).alias("sum_keys"))
        .orderBy("o_orderpriority")
    }, oracleSql = ("WITH page AS (SELECT o_orderpriority, o_orderkey FROM orders " +
        "WHERE o_orderstatus = 'O' ORDER BY o_orderkey LIMIT 1000 OFFSET 100) " +
        "SELECT o_orderpriority, count(*) AS n_docs, CAST(sum(o_orderkey) AS BIGINT) AS sum_keys " +
        "FROM page GROUP BY 1 ORDER BY 1")),

    BenchQuery("c12_opendata_pruned", (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_od").toString
      val od = new graft.store.OpenDataStore(s, base, Seq("o_orderstatus"),
        key = "o_orderkey", lastUpdatedField = "o_orderdate")
      od.update(t(s, dir, "orders"))
      od.query("""{"o_orderstatus": "O"}""")
        .select(col("o_orderkey")).orderBy("o_orderkey")
    }, oracleSql = "SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O' ORDER BY 1"),

    // C4 JSON store end-to-end: documents rendered to JSONL with a BSON
    // $date-wrapped timestamp, read back through JsonStore ($date →
    // timestamp unwrap), upserted (write-back overlay + last-wins merge),
    // then queried with a $date criteria — the oracle replays the merge
    // arithmetically from the parquet table.
    BenchQuery("c4_json_store", (s, dir) => {
      val base = java.nio.file.Files.createTempDirectory("graft_js").toString + "/docs"
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          struct(date_format(timestamp_millis(col("doc_id") * 1000),
            "yyyy-MM-dd'T'HH:mm:ss.SSSXXX").alias("$date")).alias("lu"))
        .write.json(base)
      val js = new graft.store.JsonStore(s, Seq(base), key = "doc_id",
        lastUpdatedField = "lu", multiLine = false, readOnly = false)
      js.update(t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), lit("xx").alias("lang"), col("source"),
          timestamp_millis(col("doc_id") * 1000 + 60000).alias("lu")))
      js.query(QueryParams(
        criteria = Some("""{"lu": {"$gt": {"$date": "1970-01-01T00:05:00Z"}}}"""),
        properties = Seq("doc_id", "lang", "source", "lu"),
        sort = Seq("doc_id" -> 1)))
    }, oracleSql = ("WITH base AS (SELECT doc_id, lang, source, epoch_ms(doc_id * 1000) AS lu FROM documents), " +
        "upd AS (SELECT doc_id, 'xx' AS lang, source, epoch_ms(doc_id * 1000 + 60000) AS lu " +
        "FROM documents WHERE doc_id % 10 = 0), " +
        "merged AS (SELECT * FROM base WHERE doc_id NOT IN (SELECT doc_id FROM upd) " +
        "UNION ALL SELECT * FROM upd) " +
        "SELECT doc_id, lang, source, lu FROM merged WHERE lu > epoch_ms(300000) ORDER BY doc_id")),

    // C6 FileStore end-to-end: one real file per doc (bounded subset —
    // each doc must be its OWN file for the binaryFile source, so the
    // fixture writes driver-side under an explicit doc_id < 500 cap),
    // sidecar metadata merged by file_id, one orphan metadata row whose
    // file never existed. Every output column is derivable from the
    // parquet table (sizes/md5s/paths), so the oracle replays it all.
    BenchQuery("c6_file_store", (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_fsr").toString
      def md5hex(v: String): String =
        java.security.MessageDigest.getInstance("MD5")
          .digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
        .select(col("doc_id"), col("text"), col("lang")).collect() // ≤ 500 by the cap
      docs.foreach { r =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(root, s"d${r.getLong(0)}.txt"),
          r.getString(1).getBytes("UTF-8"))
      }
      val fs = new graft.store.FileStore(s, root)
      val sImp = s; import sImp.implicits._
      val meta = docs.filter(_.getLong(0) % 2 == 0)
        .map(r => (md5hex(s"d${r.getLong(0)}.txt"), r.getString(2))).toSeq
        .:+((md5hex("ghost.txt"), "orphan-tag"))
        .toDF("file_id", "tag")
      fs.update(meta)
      fs.df.select(col("file_id"), col("name"), col("path_relative"),
          col("parent"), col("size"), col("hash"), col("orphan"), col("tag"))
        .orderBy("file_id")
    }, oracleSql = ("WITH f AS (SELECT doc_id, 'd' || CAST(doc_id AS VARCHAR) || '.txt' AS name, text, lang " +
        "FROM documents WHERE doc_id < 500), " +
        "files AS (SELECT md5(name) AS file_id, name, name AS path_relative, '' AS parent, " +
        "CAST(octet_length(encode(text)) AS BIGINT) AS size, md5(text) AS hash FROM f), " +
        "meta AS (SELECT md5('d' || CAST(doc_id AS VARCHAR) || '.txt') AS file_id, lang AS tag " +
        "FROM f WHERE doc_id % 2 = 0 UNION ALL SELECT md5('ghost.txt'), 'orphan-tag') " +
        "SELECT coalesce(fi.file_id, m.file_id) AS file_id, fi.name, fi.path_relative, " +
        "fi.parent, fi.size, fi.hash, (fi.file_id IS NULL) AS orphan, m.tag " +
        "FROM files fi FULL OUTER JOIN meta m ON fi.file_id = m.file_id ORDER BY 1")),

    BenchQuery("validator_invalid", (s, dir) => {
      val v = new graft.store.DocValidator(Seq(
        graft.store.FieldRule("o_orderkey", required = true),
        graft.store.FieldRule("o_totalprice", max = Some(300000.0))))
      val (_, invalid) = v.split(t(s, dir, "orders"))
      invalid.select(col("o_orderkey")).orderBy("o_orderkey")
    }, oracleSql = "SELECT o_orderkey FROM orders WHERE o_totalprice > 300000 ORDER BY 1"),

    BenchQuery("api_compile", (s, dir) => {
      val df = t(s, dir, "orders")
      val params = Map(
        "o_totalprice_min" -> "50000", "o_totalprice_max" -> "150000",
        "o_orderstatus" -> "O",
        "_sort_fields" -> "-o_orderdate,o_orderkey",
        "_fields" -> "o_orderkey,o_orderdate,o_totalprice",
        "_page" -> "2", "_per_page" -> "50")
      val qp = QueryOperator.compile(params, Seq(
        new DynamicQuery(df.schema), new SortQuery, new SparseFieldsQuery,
        new PaginationQuery))
      qp(df)
    }, oracleSql = ("SELECT o_orderkey, o_orderdate, o_totalprice FROM orders " +
        "WHERE o_totalprice >= 50000 AND o_totalprice <= 150000 AND o_orderstatus = 'O' " +
        "ORDER BY o_orderdate DESC, o_orderkey LIMIT 50 OFFSET 50")),

    BenchQuery("a10_text_facets", (s, dir) => {
      // $text search + facet counts (A10 generate_atlas_search_pipeline).
      // All facets come out of ONE scan: each matching doc explodes into
      // one (facet, value) row per facet dimension, then a single
      // hash-agg counts them — a union of per-facet groupBys would re-run
      // the $text tokenization scan once per facet.
      val m = MongoFilter(t(s, dir, "documents"),
        """{"$text": {"$search": "spark data"}}""")
      m.select(explode(array(
          struct(lit("source").alias("facet"), col("source").alias("value")),
          struct(lit("lang").alias("facet"), col("lang").alias("value"))))
          .alias("fv"))
        .groupBy(col("fv.facet").alias("facet"), col("fv.value").alias("value"))
        .agg(count(lit(1)).alias("n"))
        .orderBy("facet", "value")
    }, oracleSql = ("SELECT 'source' AS facet, source AS value, count(*) AS n FROM documents " +
        "WHERE contains(lower(text), 'spark') AND contains(lower(text), 'data') GROUP BY 2 " +
        "UNION ALL SELECT 'lang', lang, count(*) FROM documents " +
        "WHERE contains(lower(text), 'spark') AND contains(lower(text), 'data') GROUP BY 2 " +
        "ORDER BY 1, 2")),

    // A10 compound semantics: quoted phrase (contiguous containment) in
    // the must clause, $mustNot exclusion — the reference's Atlas
    // compound {must, mustNot} operator (api/resource/utils.py:80-82)
    BenchQuery("a10_text_mustnot", (s, dir) =>
      MongoFilter(t(s, dir, "documents"),
        """{"$text": {"$search": "\"table value\"", "$mustNot": "slow"}}""")
        .select(col("doc_id"), col("source"), col("lang"))
        .orderBy("doc_id"),
      oracleSql = ("SELECT doc_id, source, lang FROM documents " +
        "WHERE contains(lower(text), 'table value') " +
        "AND NOT contains(lower(text), 'slow') ORDER BY doc_id")),

    // top-level scalar pull via the compiled single-pass scanner
    // (property-pinned byte-equal to get_json_object in JsonGetSpec;
    // the builtin's per-row Jackson parser was a 24x constant at sf1)
    BenchQuery("json_scalar_extract", (s, dir) => {
      events(s, dir)
        .select((graft.functions.GraftFunctions.jsonGetTop(s, col("props"), "k")
          .cast("long") % 10).alias("kb"))
        .groupBy("kb").agg(count(lit(1)).alias("n"))
        .orderBy("kb")
    }, oracleSql = ("SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS kb, " +
        "count(*) AS n FROM events GROUP BY 1 ORDER BY 1"))
  )
}
