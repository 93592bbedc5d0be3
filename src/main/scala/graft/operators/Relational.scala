package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational surface: scans, filters, projections, joins (inner / semi /
  * anti / broadcast), aggregations, sorts, limits, set ops, SQL window
  * functions, scalar functions.
  *
  * The reference (responsive-pub) delegates all of this to the Kafka
  * Streams DSL (filter/map/selectKey — see
  * /root/reference/tools/README.md analyzer surface and
  * kafka-client-examples/e2e-test/src/main/java/dev/responsive/examples/regression/tests/STJoinExample.java:54-101);
  * here each op is a declarative Spark plan so Catalyst performs
  * pushdown / pruning / join selection / codegen (SURVEY §4).
  *
  * Scale notes (100 TB): every query below either broadcasts its dimension
  * side (nation/region/customer/supplier are small in TPC-H proportions)
  * or shuffles on the aggregation/join key exactly once; no driver-side
  * collection anywhere.
  */
object Relational {

  private def ts(lit0: String) = to_timestamp(lit(lit0))

  /** Q1 — scan + filter + project; filter and 4-column pruning reach the
    * parquet scan (PushedFilters in .explain). */
  val q01 = QueryDef(
    "q01_filter_project",
    (s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= ts("1998-09-02 00:00:00"))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("net_price"))
    },
    Some("""SELECT l_orderkey, l_linenumber,
           |  round(l_extendedprice * (1 - l_discount), 4) AS net_price
           |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'""".stripMargin)
  )

  /** Q2 — unwindowed grouped aggregation (TPC-H Q1 shape); map-side
    * partial aggregation then one shuffle on the (tiny) group key. */
  val q02 = QueryDef(
    "q02_agg",
    (s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= ts("1998-09-02 00:00:00"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_extendedprice")), 4).as("avg_price"),
          count(lit(1)).as("count_order"))
    },
    Some("""SELECT l_returnflag, l_linestatus,
           |  round(sum(l_quantity), 2) AS sum_qty,
           |  round(sum(l_extendedprice), 4) AS sum_base_price,
           |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           |  round(avg(l_quantity), 4) AS avg_qty,
           |  round(avg(l_extendedprice), 4) AS avg_price,
           |  count(*) AS count_order
           |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
           |GROUP BY l_returnflag, l_linestatus""".stripMargin)
  )

  /** Q3 — stream–table equi join (kafka-client-examples/e2e-test/src/main/java/dev/responsive/examples/regression/tests/STJoinExample.java:68-77 analog:
    * orders enriched with customer). Customer is the "table" side and is
    * broadcast — the GlobalKTable pattern at Spark scale. */
  val q03 = QueryDef(
    "q03_stream_table_join",
    (s, d) => {
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_name"), col("c_mktsegment"),
          round(col("o_totalprice"), 2).as("total"))
    },
    Some("""SELECT o_orderkey, c_name, c_mktsegment, round(o_totalprice, 2) AS total
           |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin)
  )

  /** Q4 — FK join chain (TPC-H Q5 shape). lineitem shuffles once on
    * l_orderkey; customer/nation/region are broadcast; Catalyst reorders
    * the dim joins behind the fact join. */
  val q04 = QueryDef(
    "q04_join_chain",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
                col("o_orderdate") < ts("1997-01-01 00:00:00"))
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"))
    },
    Some("""SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation ON c_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |WHERE r_name = 'ASIA'
           |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
           |GROUP BY n_name""".stripMargin)
  )

  /** Lakehouse-landed fact tables for [[q04b]]: lineitem and orders
    * bucketed on the order key via [[graft.sources.Lakehouse.writeBucketed]]
    * (one-time landing per (session, dir), memoized). The join between
    * them then reads co-located and plans with NO Exchange on either
    * side — at 100 TB this replaces the big⋈big shuffle that is the
    * scale probe's one superlinear point (the bucket-join runs in NOTES.md
    * measured 66.7 → 21.0 s at 1000× with the same landing). */
  private val bucketedFactsCache = Memo.newCache[(DataFrame, DataFrame)]()
  private[graft] def bucketedFacts(s: SparkSession, d: String): (DataFrame, DataFrame) =
    Memo.get(bucketedFactsCache, s, d) {
      // collision-resistant name suffix: two dataset dirs with colliding
      // 32-bit hashCodes in one JVM would share catalog table names, and
      // the second landing's Overwrite would silently re-point the first
      // session's memoized s.table(...) at the wrong data (ADVICE r8)
      val suffix = java.security.MessageDigest.getInstance("MD5")
        .digest(d.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
      // landBucketed reuses a previous JVM's landing when the
      // fingerprint (dir + row count + column list + layout version)
      // still matches — the landing is a true one-time ingest cost, not
      // a per-session one (VERDICT r10 #2). Row counts are metadata-
      // cheap on parquet and catch an in-place fixture regen.
      val li = graft.sources.Lakehouse.landBucketed(
        s, s"graft_bk_lineitem_$suffix", Seq("l_orderkey"), 16,
        s"q04b|v1|$d|n=${Tables.lineitem(s, d).count()}|cols=l_orderkey,l_extendedprice,l_discount")(
        Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice", "l_discount"))
      val o = graft.sources.Lakehouse.landBucketed(
        s, s"graft_bk_orders_$suffix", Seq("o_orderkey"), 16,
        s"q04b|v1|$d|n=${Tables.orders(s, d).count()}|cols=o_orderkey,o_custkey,o_orderdate")(
        Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_orderdate"))
      (li, o)
    }

  /** Q4b — the q04 join chain with both fact tables read from the
    * bucketed lakehouse landing instead of raw parquet: identical
    * result (same DuckDB oracle as q04), but the lineitem⋈orders join
    * is Exchange-free under the SortMergeJoin (asserted on this
    * registered query's plan in LakehouseSpec). The dims stay
    * broadcast. This is the registry-graded form of that scale answer. */
  val q04b = QueryDef(
    "q04b_join_chain_bucketed",
    (s, d) => {
      val (li, o0) = bucketedFacts(s, d)
      val o = o0.filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
                        col("o_orderdate") < ts("1997-01-01 00:00:00"))
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"))
    },
    q04.oracle,
    doc = "q04 over the bucketed lakehouse landing: zero-exchange fact join, same oracle"
  )

  /** Q5a — left-semi join (EXISTS). */
  val q05a = QueryDef(
    "q05_semi_join",
    (s, d) => {
      val bigOrders = Tables.orders(s, d).filter(col("o_totalprice") > 300000.0)
      Tables.customer(s, d)
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    },
    Some("""SELECT c_custkey, c_name FROM customer
           |WHERE EXISTS (SELECT 1 FROM orders
           |              WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin)
  )

  /** Q5b — left-anti join (NOT EXISTS). */
  val q05b = QueryDef(
    "q05_anti_join",
    (s, d) => {
      val bigOrders = Tables.orders(s, d).filter(col("o_totalprice") > 300000.0)
      Tables.customer(s, d)
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    },
    Some("""SELECT c_custkey, c_name FROM customer
           |WHERE NOT EXISTS (SELECT 1 FROM orders
           |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin)
  )

  /** Q6 — global-table / broadcast join (kafka-client/src/main/java/dev/responsive/kafka/internal/stores/GlobalOperations.java:36-75
    * analog): fact stream joined to two replicated dims with zero fact
    * shuffle before aggregation. */
  val q06 = QueryDef(
    "q06_broadcast_join",
    (s, d) => {
      Tables.lineitem(s, d)
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_items"), round(sum(col("l_quantity")), 2).as("sum_qty"))
    },
    Some("""SELECT n_name, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
           |FROM lineitem
           |JOIN supplier ON l_suppkey = s_suppkey
           |JOIN nation ON s_nationkey = n_nationkey
           |GROUP BY n_name""".stripMargin)
  )

  /** Q15 — key range + prefix scan (kafka-client/src/main/java/dev/responsive/kafka/internal/stores/PartitionedOperations.java:393-424
    * range/prefixScan analog, expressed as pushed-down predicates). */
  val q15 = QueryDef(
    "q15_range_prefix",
    (s, d) => {
      Tables.part(s, d)
        .filter(col("p_partkey").between(50, 150) && col("p_name").startsWith("small"))
        .select(col("p_partkey"), col("p_name"), col("p_brand"))
    },
    Some("""SELECT p_partkey, p_name, p_brand FROM part
           |WHERE p_partkey BETWEEN 50 AND 150 AND p_name LIKE 'small%'""".stripMargin)
  )

  /** Q16 — reverseRange (the reference throws UnsupportedOperation,
    * kafka-client/src/main/java/dev/responsive/kafka/internal/stores/ResponsiveKeyValueStore.java:413-417; we support it). */
  val q16 = QueryDef(
    "q16_reverse_range",
    (s, d) =>
      Tables.customer(s, d)
        .orderBy(col("c_custkey").desc)
        .limit(20)
        .select(col("c_custkey"), col("c_name")),
    Some("SELECT c_custkey, c_name FROM customer ORDER BY c_custkey DESC LIMIT 20")
  )

  /** Q17 — top-k by aggregate (sort + limit with deterministic
    * tiebreak). Spark plans this as TakeOrderedAndProject — no global
    * sort at scale. */
  val q17 = QueryDef(
    "q17_topk",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("o_custkey"))
        .limit(10),
    Some("""SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
           |FROM orders GROUP BY o_custkey
           |ORDER BY revenue DESC, o_custkey LIMIT 10""".stripMargin)
  )

  /** Q18 — set ops: UNION / INTERSECT / EXCEPT. */
  val q18 = QueryDef(
    "q18_setops",
    (s, d) => {
      val o = Tables.orders(s, d)
      val a = o.filter(col("o_totalprice") > 250000.0).select(col("o_orderkey"))
      val b = o.filter(col("o_totalprice") < 10000.0).select(col("o_orderkey"))
      val c = o.filter(col("o_orderstatus").isin("F", "O")).select(col("o_orderkey"))
      val dd = o.filter(col("o_orderstatus") === "O").select(col("o_orderkey"))
      a.union(b).intersect(c).except(dd)
    },
    Some("""(SELECT o_orderkey FROM orders WHERE o_totalprice > 250000
           | UNION
           | SELECT o_orderkey FROM orders WHERE o_totalprice < 10000)
           |INTERSECT
           |SELECT o_orderkey FROM orders WHERE o_orderstatus IN ('F','O')
           |EXCEPT
           |SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin)
  )

  /** Q19 — SQL window functions: rank / row_number / running sum / lag
    * (declared engine surface, SURVEY §2.6 note). One shuffle on the
    * partition key; frames evaluated within partitions. */
  val q19 = QueryDef(
    "q19_window_functions",
    (s, d) => {
      val wRank = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc)
      val wDet = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d).select(
        col("o_orderkey"), col("o_custkey"),
        rank().over(wRank).as("rk"),
        row_number().over(wDet).as("rn"),
        round(sum(col("o_totalprice"))
          .over(wDet.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2).as("running_total"),
        round(coalesce(lag(col("o_totalprice"), 1).over(wDet), lit(0.0)), 2).as("prev_price"))
    },
    Some("""SELECT o_orderkey, o_custkey,
           |  rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rk,
           |  row_number() OVER w AS rn,
           |  round(sum(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
           |  round(coalesce(lag(o_totalprice, 1) OVER w, 0), 2) AS prev_price
           |FROM orders
           |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin)
  )

  /** Q20 — scalar function surface: string / date / math / JSON access
    * (events.props is a JSON payload, FIXTURES.md). All codegen'd
    * built-ins, no UDFs. */
  val q20 = QueryDef(
    "q20_scalar_functions",
    (s, d) =>
      Tables.events(s, d).select(
        col("event_id"),
        upper(col("event_type")).as("et_upper"),
        substring(col("event_type"), 1, 3).as("et3"),
        concat(col("event_type"), lit("_"), col("user_id").cast("string")).as("tag"),
        hour(col("ts")).as("h"),
        date_trunc("day", col("ts")).cast("long").as("day_start"),
        (col("ts") + expr("INTERVAL 1 DAY")).cast("long").as("next_day_sec"),
        get_json_object(col("props"), "$.k").cast("int").as("k"),
        floor(col("value")).cast("long").as("v_floor"),
        round(abs(col("value")), 2).as("v_round")),
    Some("""SELECT event_id,
           |  upper(event_type) AS et_upper,
           |  substring(event_type, 1, 3) AS et3,
           |  event_type || '_' || CAST(user_id AS VARCHAR) AS tag,
           |  CAST(date_part('hour', ts) AS INTEGER) AS h,
           |  CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_start,
           |  CAST(floor(epoch(ts + INTERVAL 1 DAY)) AS BIGINT) AS next_day_sec,
           |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           |  CAST(floor(value) AS BIGINT) AS v_floor,
           |  round(abs(value), 2) AS v_round
           |FROM events""".stripMargin)
  )

  /** Q23 — approximate distinct count (approximateNumEntries analog,
    * kafka-client/src/main/java/dev/responsive/kafka/internal/db/RemoteKVTable.java:89-96). HLL sketches differ across engines, so
    * the checked contract is the 5%-tolerance flag plus the exact count.
    *
    * The sketch is Spark's DataSketches HLL at lgK = 14 (~0.8% standard
    * error): its aggregation buffer is one binary sketch. The earlier
    * `approx_count_distinct(o_custkey, 0.01)` (HLL++ at p = 14, same
    * error) keeps 1,639 long fields in its buffer — past
    * `spark.sql.codegen.maxFields` — so the aggregate ran uncompiled
    * behind huge generated projections, the cost `count()` used to hide
    * (ROADMAP #1; before/after in BASELINE.md "q23"). */
  val q23 = QueryDef(
    "q23_approx_count",
    (s, d) =>
      Tables.orders(s, d).agg(
        countDistinct(col("o_custkey")).as("exact_cnt"),
        when(abs(hll_sketch_estimate(hll_sketch_agg(col("o_custkey"), 14)) - countDistinct(col("o_custkey")))
          <= countDistinct(col("o_custkey")) * 0.05, lit(1)).otherwise(lit(0)).as("ok")),
    Some("SELECT count(DISTINCT o_custkey) AS exact_cnt, 1 AS ok FROM orders")
  )

  /** Q24 — table–table FK join + re-key (kafka-client/src/test/java/dev/responsive/kafka/integration/ResponsiveForeignKeyJoinIntegrationTest.java:150-157
    * analog): orders re-keyed through
    * customer's nation FK, aggregated per nation. */
  val q24 = QueryDef(
    "q24_fk_join",
    (s, d) => {
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("total"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("n_orders"), col("total"))
    },
    Some("""SELECT n_name, n_orders, total FROM (
           |  SELECT c_nationkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
           |  FROM orders JOIN customer ON o_custkey = c_custkey
           |  GROUP BY c_nationkey) agg
           |JOIN nation ON c_nationkey = n_nationkey""".stripMargin)
  )

  /** Q27 — outer-join variants (SURVEY §2.4 "left/outer variants"):
    * customers left-joined to their big orders; customers without one
    * survive with nulls (vs q05's semi/anti which drop them). */
  val q27 = QueryDef(
    "q27_outer_join",
    (s, d) => {
      val bigOrders = Tables.orders(s, d).filter(col("o_totalprice") > 400000.0)
        .select(col("o_custkey"), col("o_orderkey"), round(col("o_totalprice"), 2).as("big_total"))
      Tables.customer(s, d)
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("big_total"))
    },
    Some("""SELECT c_custkey, c_name, o_orderkey, big_total
           |FROM customer LEFT OUTER JOIN
           |  (SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS big_total
           |   FROM orders WHERE o_totalprice > 400000) big
           |ON c_custkey = o_custkey""".stripMargin)
  )

  /** Q28 — rollup (grouping-sets surface, SURVEY §2.5 note: absent from
    * the reference, free in Spark/Catalyst): order totals by
    * (status, priority) with subtotals and a grand total. */
  val q28 = QueryDef(
    "q28_rollup",
    (s, d) =>
      Tables.orders(s, d)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total")),
    Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           |  round(sum(o_totalprice), 2) AS total
           |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin)
  )

  /** Q31 — cube: all grouping-set combinations over two dimensions. */
  val q31 = QueryDef(
    "q31_cube",
    (s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .cube(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(avg(col("c_acctbal")), 4).as("avg_bal")),
    Some("""SELECT n_name, c_mktsegment, count(*) AS n, round(avg(c_acctbal), 4) AS avg_bal
           |FROM customer JOIN nation ON c_nationkey = n_nationkey
           |GROUP BY CUBE (n_name, c_mktsegment)""".stripMargin)
  )

  /** Q32 — grouped array aggregation (complex-typed output): per-user
    * sorted event-id list and distinct event types. collect_set order is
    * nondeterministic, so both engines sort the arrays; arrays are then
    * serialized to comma-joined strings so the driver's row comparator
    * (which cannot hash array cells) can grade them. */
  val q32 = QueryDef(
    "q32_array_agg",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(
          array_join(sort_array(collect_list(col("event_id"))), ",").as("event_ids"),
          array_join(sort_array(collect_set(col("event_type"))), ",").as("types")),
    Some("""SELECT user_id,
           |  array_to_string(list_sort(list(event_id)), ',') AS event_ids,
           |  array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types
           |FROM events GROUP BY user_id""".stripMargin)
  )

  /** Q33 — pivot: event counts per user with one column per event type
    * (explicit value list keeps the schema deterministic; the oracle is
    * the portable conditional-aggregation form). */
  val q33 = QueryDef(
    "q33_pivot",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L),
    Some("""SELECT user_id,
           |  count(*) FILTER (event_type = 'click') AS click,
           |  count(*) FILTER (event_type = 'error') AS error,
           |  count(*) FILTER (event_type = 'purchase') AS purchase,
           |  count(*) FILTER (event_type = 'signup') AS signup,
           |  count(*) FILTER (event_type = 'view') AS view
           |FROM events GROUP BY user_id""".stripMargin)
  )

  /** Q34 — exact percentiles (interpolated), per event type. */
  val q34 = QueryDef(
    "q34_percentiles",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.9)"), 4).as("p90"),
          round(expr("percentile(value, 0.99)"), 4).as("p99")),
    Some("""SELECT event_type,
           |  round(quantile_cont(value, 0.5), 4) AS p50,
           |  round(quantile_cont(value, 0.9), 4) AS p90,
           |  round(quantile_cont(value, 0.99), 4) AS p99
           |FROM events GROUP BY event_type""".stripMargin)
  )

  /** Q35 — deterministic content-hash dataset split (train/val/test):
    * the reproducible-holdout primitive every training pipeline needs.
    * Split on the first two hex chars of md5(doc content) — stable
    * across engines, runs, and partitionings (never row_number or
    * rand()). ~87.5/6.25/6.25. */
  val q35 = QueryDef(
    "q35_deterministic_split",
    (s, d) =>
      Tables.documents(s, d)
        .withColumn("bucket", conv(substring(md5(col("text")), 1, 2), 16, 10).cast("int"))
        .withColumn("split",
          when(col("bucket") < 224, "train")
            .when(col("bucket") < 240, "val")
            .otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc")),
    Some("""WITH b AS (SELECT doc_id,
           |    CAST(('0x' || substring(md5(text), 1, 2))::INTEGER AS INTEGER) AS bucket
           |  FROM documents)
           |SELECT CASE WHEN bucket < 224 THEN 'train'
           |            WHEN bucket < 240 THEN 'val' ELSE 'test' END AS split,
           |  count(*) AS n_docs, min(doc_id) AS first_doc
           |FROM b GROUP BY 1""".stripMargin)
  )

  /** Q38 — deterministic stratified sampling: per-class keep rates
    * (downsample the over-represented event types, keep the rare ones
    * whole — the class-rebalancing primitive of corpus curation). Like
    * q35, membership hangs on a content hash bucket (md5 of the id, 16
    * bits), never rand()/sampleBy: reproducible across engines, runs,
    * partitionings, and retries. Scale: a codegen'd filter on the scan —
    * no shuffle until the audit aggregation. */
  val q38 = QueryDef(
    "q38_stratified_sample",
    (s, d) => {
      val threshold =
        when(col("event_type") === "view", 3277L)        // 5%
          .when(col("event_type") === "click", 13107L)   // 20%
          .when(col("event_type") === "error", 32768L)   // 50%
          .otherwise(65536L)                             // purchase/signup: keep all
      Tables.events(s, d)
        .withColumn("bucket",
          conv(substring(md5(col("event_id").cast("string")), 1, 4), 16, 10).cast("long"))
        .filter(col("bucket") < threshold)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_kept"),
          min(col("event_id")).as("first_id"),
          max(col("event_id")).as("last_id"))
    },
    Some("""WITH b AS (
           |  SELECT event_type, event_id,
           |    CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 4))::INTEGER AS BIGINT) AS bucket
           |  FROM events),
           |k AS (SELECT * FROM b WHERE bucket <
           |  CASE event_type WHEN 'view' THEN 3277 WHEN 'click' THEN 13107
           |                  WHEN 'error' THEN 32768 ELSE 65536 END)
           |SELECT event_type, count(*) AS n_kept,
           |  min(event_id) AS first_id, max(event_id) AS last_id
           |FROM k GROUP BY event_type""".stripMargin)
  )

  /** Q39 — corpus mixing: per-source keep rates (the training-mixture
    * reweighting step — downweight low-quality sources, keep scarce ones
    * whole). Rates derive from the source index (src0 keeps all, src19
    * keeps 5%: rate = (20 - i)/20); membership hangs on the same md5
    * content-hash bucket as q35/q38 — reproducible across engines, runs,
    * partitionings, retries, never rand(). Scale: a codegen'd filter
    * expression on the scan, one aggregation shuffle on `source`. */
  val q39 = QueryDef(
    "q39_corpus_mix",
    (s, d) => {
      val threshold = expr("CAST(65536 * (20 - CAST(substring(source, 4) AS INT)) AS BIGINT) div 20")
      Tables.documents(s, d)
        .withColumn("bucket",
          conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10).cast("long"))
        .withColumn("kept", (col("bucket") < threshold).cast("int"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("kept")).as("n_kept"),
          min(when(col("kept") === 1, col("doc_id"))).as("first_kept"))
    },
    Some("""WITH b AS (
           |  SELECT source, doc_id,
           |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER AS BIGINT) AS bucket,
           |    (65536 * (20 - CAST(substring(source, 4) AS INT))) // 20 AS threshold
           |  FROM documents)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(CASE WHEN bucket < threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |  min(CASE WHEN bucket < threshold THEN doc_id END) AS first_kept
           |FROM b GROUP BY source""".stripMargin)
  )

  /** Q40 — sequence packing: greedy token-budget packing of documents
    * into fixed-size training sequences (the context-window packing step
    * of an LLM data pipeline). Docs are laid out in doc_id order within
    * each source shard; a running token sum assigns each doc to pack
    * `floor(previous_cum / budget)` — deterministic, oracle-replayable,
    * and the exact shape of a packer that tolerates packs overflowing
    * the budget boundary by one doc (no reset-on-threshold scan needed).
    * Scale: the naive plan (one window per source shard) pushes an
    * entire shard through ONE task; instead the running sum is
    * decomposed two-level — prefix-sum within contiguous doc_id range
    * blocks of PackBlock ids (order-consistent with the global doc_id
    * order, unlike hash sub-shards, so the decomposition is exact), plus
    * a broadcast per-(source, block) prefix offset computed on the tiny
    * per-block totals (input/PackBlock rows). Parallelism is ∝ #blocks,
    * not #sources; same output, oracle unchanged. PackBlock is the
    * n-proportional knob (like dd7's anchor count): size it so #blocks
    * lands in the 10⁴–10⁶ range at the target corpus — offsets stay
    * broadcastable while every core gets blocks. 256 suits the
    * fixtures' 0–5k doc_id range. */
  val PackBudget = 200
  val PackBlock = 256

  /** Two-level per-source running sum over doc_id order — q40's exact
    * prefix-sum decomposition, reusable (td3 packs chunk counts through
    * the same path). Input needs (source, doc_id, `v`) columns; output
    * adds `cum` = running sum of `v` by doc_id within source. */
  def runningSumBySource(df: DataFrame, v: Column): DataFrame = {
    val reserved = Seq("blk", "__v", "lcum", "off", "cum").filter(df.columns.contains)
    require(reserved.isEmpty,
      s"runningSumBySource reserves column names ${reserved.mkString(", ")} — rename them first")
    val wLocal = Window.partitionBy(col("source"), col("blk"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOff = Window.partitionBy(col("source")).orderBy(col("blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = df
      .withColumn("blk", expr(s"doc_id div $PackBlock"))
      .withColumn("__v", v)
      .withColumn("lcum", sum(col("__v")).over(wLocal))
    // block totals come from the WINDOWED output (a block's last lcum is
    // its sum), not a second pass over the source — the offsets branch
    // shares the window's (source, blk) exchange via ReuseExchange
    // instead of re-scanning and re-tokenizing the input
    val offsets = local.groupBy(col("source"), col("blk"))
      .agg(max(col("lcum")).as("btot"))
      .select(col("source"), col("blk"),
        coalesce(sum(col("btot")).over(wOff), lit(0L)).as("off"))
    local.join(broadcast(offsets), Seq("source", "blk"))
      .withColumn("cum", col("lcum") + col("off"))
      .drop("blk", "lcum", "off", "__v")
  }

  val q40 = QueryDef(
    "q40_sequence_packing",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("tokens"))
      runningSumBySource(docs, col("tokens"))
        .withColumn("pack_id", expr(s"(cum - tokens) div $PackBudget"))
        .groupBy(col("source"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("pack_tokens"),
          min(col("doc_id")).as("first_doc"))
    },
    Some(s"""WITH t AS (SELECT source, doc_id,
            |  CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens FROM documents),
            |c AS (SELECT source, doc_id, tokens,
            |        sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
            |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            |      FROM t)
            |SELECT source, CAST((cum - tokens) // $PackBudget AS BIGINT) AS pack_id,
            |  CAST(count(*) AS BIGINT) AS n_docs,
            |  CAST(sum(tokens) AS BIGINT) AS pack_tokens, min(doc_id) AS first_doc
            |FROM c GROUP BY source, pack_id""".stripMargin),
    doc = "token-budget sequence packing per source shard (running-sum pack assignment)"
  )

  /** Q41 — CDC snapshot diff: the engine's changelog-capture semantics
    * (reference: every store write doubles as a changelog record,
    * kafka-client/src/main/java/dev/responsive/kafka/internal/clients/ResponsiveProducer.java)
    * expressed as a batch operator — diff two latest-event-per-user
    * snapshots taken over sliding 7-day retention windows and emit
    * insert/update/delete rows. Latest = max_by on (ts, event_id), the
    * same LWW order the streaming KV store applies; users whose state is
    * identical in both snapshots produce no row (CDC emits changes
    * only). Scale: two filtered scans partial-aggregated on user_id,
    * one full-outer merge join on the same key — no fact-table shuffle
    * beyond the per-user aggregation. */
  val q41 = QueryDef(
    "q41_cdc_snapshot_diff",
    (s, d) => {
      def snap(lo: String, hi: String) =
        Tables.eventsBetween(s, d, lo, hi) // raw-ns range pushed to the scan
          .groupBy(col("user_id"))
          .agg(expr("max_by(event_id, struct(ts, event_id))").as("event_id"))
      val a = snap("2024-01-13", "2024-01-20")
      val b = snap("2024-01-16", "2024-01-23")
      a.select(col("user_id"), col("event_id").as("old_id"))
        .join(b.select(col("user_id"), col("event_id").as("new_id")), Seq("user_id"), "full_outer")
        .withColumn("op",
          when(col("old_id").isNull, lit("I"))
            .when(col("new_id").isNull, lit("D"))
            .when(col("old_id") =!= col("new_id"), lit("U")))
        .filter(col("op").isNotNull)
        .select(col("user_id"), col("op"),
          coalesce(col("old_id"), lit(-1L)).as("old_id"),
          coalesce(col("new_id"), lit(-1L)).as("new_id"))
    },
    Some("""WITH s1 AS (SELECT user_id, event_id FROM (
           |         SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id
           |           ORDER BY ts DESC, event_id DESC) AS rn
           |         FROM events WHERE ts >= TIMESTAMP '2024-01-13' AND ts < TIMESTAMP '2024-01-20')
           |       WHERE rn = 1),
           |s2 AS (SELECT user_id, event_id FROM (
           |         SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id
           |           ORDER BY ts DESC, event_id DESC) AS rn
           |         FROM events WHERE ts >= TIMESTAMP '2024-01-16' AND ts < TIMESTAMP '2024-01-23')
           |       WHERE rn = 1)
           |SELECT coalesce(s1.user_id, s2.user_id) AS user_id,
           |  CASE WHEN s1.user_id IS NULL THEN 'I'
           |       WHEN s2.user_id IS NULL THEN 'D'
           |       ELSE 'U' END AS op,
           |  coalesce(s1.event_id, -1) AS old_id,
           |  coalesce(s2.event_id, -1) AS new_id
           |FROM s1 FULL JOIN s2 ON s1.user_id = s2.user_id
           |WHERE s1.user_id IS NULL OR s2.user_id IS NULL OR s1.event_id <> s2.event_id""".stripMargin),
    doc = "changelog-as-batch: I/U/D diff of two latest-per-key retention-window snapshots"
  )

  /** Q42 — incremental aggregate maintenance (the materialized-view
    * refresh the reference's state stores embody: a KTable aggregate is
    * never recomputed from scratch, new records merge into stored
    * partials). Batch form: the per-user aggregate over [Jan 1, Jan 16)
    * is the stored "view"; the (Jan 16, Feb 1) delta aggregates
    * separately and MERGES — count adds, integer-cent sums add (cents,
    * not doubles: float addition is non-associative, so a mergeable sum
    * must be exact to equal the recompute bit-for-bit). The oracle IS
    * the from-scratch recompute over the full range, so the driver
    * hash-check proves merge(view, delta) == recompute. Scale: each leg
    * partial-aggregates map-side behind a pushed raw-ns range scan; the
    * union re-aggregates rows-per-user, never raw events — the view
    * refresh touches |delta| + |view| rows, not the full history. */
  val q42 = QueryDef(
    "q42_incremental_agg",
    (s, d) => {
      def leg(lo: String, hi: String) =
        Tables.eventsBetween(s, d, lo, hi)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100).cast("long")).as("cents"))
      leg("2024-01-01", "2024-01-16").union(leg("2024-01-16", "2024-02-01"))
        .groupBy(col("user_id"))
        .agg(sum(col("n")).as("n_events"), sum(col("cents")).as("sum_cents"))
    },
    Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
           |FROM events
           |WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
           |GROUP BY user_id""".stripMargin),
    doc = "incremental view maintenance: merge(stored partials, delta partials) == full recompute"
  )

  /** Q43 — approximate percentiles: q34's scale path. Exact
    * `percentile` buffers every value per group (a sort at 100 TB);
    * `approx_percentile` (Spark's built-in KLL-style quantile sketch)
    * is single-pass with bounded memory and mergeable partials — the
    * same exact-vs-sketch split as q34/q23. The sketch's answer is not
    * bit-portable across engines, so like q23 the query gates itself —
    * in RANK space, the space the sketch actually guarantees (accuracy
    * 1000 ⇒ rank error ≲ 0.1%): the fraction of the group's values at
    * or below the estimate must sit within p ± (0.02 + 2/n), the slack
    * covering rank discreteness in small groups (a value-space gate is
    * ill-posed: the estimate is a real data value while the exact
    * percentile interpolates between sparse neighbors). The oracle
    * asserts the flags. */
  val q43 = QueryDef(
    "q43_approx_percentiles",
    (s, d) => {
      val ests = Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(expr("approx_percentile(value, array(0.5, 0.9, 0.99), 1000)").as("est"))
      def ok(i: Int, p: Double, name: String) =
        (abs(avg((col("value") <= col("est")(i)).cast("int")) - p) <=
          lit(0.02) + lit(2.0) / count(lit(1))).cast("int").as(name)
      Tables.events(s, d)
        .join(broadcast(ests), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(ok(0, 0.5, "ok_p50"), ok(1, 0.9, "ok_p90"), ok(2, 0.99, "ok_p99"))
    },
    Some("""SELECT event_type, 1 AS ok_p50, 1 AS ok_p90, 1 AS ok_p99
           |FROM events GROUP BY event_type""".stripMargin),
    doc = "approximate percentiles (quantile sketch) gated within 5% of exact per group"
  )

  val CmsDepth = 4
  val CmsWidth = 1024
  val HhK = 10

  /** Fan each input row out to CmsDepth sketch rows, tagging each with
    * its (r, bucket) coordinate — bucket = xxhash64(key, r) mod
    * CmsWidth. Shared by q46 (sketch build AND probe side) and the
    * no-undercount property spec, so the test exercises the exact
    * construction the query ships rather than a parallel copy that can
    * drift. */
  def cmsRows(df: DataFrame, key: Column, depth: Int = CmsDepth,
              width: Int = CmsWidth): DataFrame =
    df.select(df.columns.map(col) :+
        expr(s"explode(sequence(0, ${depth - 1}))").as("r"): _*)
      .withColumn("bucket", pmod(xxhash64(key, col("r")), lit(width)))

  /** The count-min sketch itself: (r, bucket) → counter. Map-side
    * partial aggregation caps each partition's shuffle contribution at
    * depth × width counters regardless of input size. */
  def cmsSketch(df: DataFrame, key: Column, depth: Int = CmsDepth,
                width: Int = CmsWidth): DataFrame =
    cmsRows(df, key, depth, width)
      .groupBy(col("r"), col("bucket")).agg(count(lit(1)).as("c"))

  /** Q46 — approximate heavy hitters via a count-min sketch, completing
    * the sketch family (q23 HLL cardinality, q43 quantile sketch, q46
    * frequency sketch). The CMS is built declaratively: each event fans
    * out to CmsDepth rows, lands in bucket xxhash64(key, row) mod
    * CmsWidth, and the (row, bucket) groupBy IS the sketch — map-side
    * partial aggregation means each partition ships at most
    * CmsDepth × CmsWidth counters regardless of input size, exactly the
    * mergeable-buffer property that makes CMS a 100 TB structure (the
    * sketch table is ≤ 4096 rows total, broadcastable anywhere).
    * Estimates (min over rows of the key's bucket counts) are checked
    * for the exact top-HhK keys against the CMS guarantees: est ≥ exact
    * always (buckets only over-count, arithmetic is exact), and
    * est ≤ exact + 8·N/width — vastly wider than the expected error
    * (N/width per row, min over CmsDepth independent rows) — so the
    * flags are stable at every SF while still failing on any real
    * sketch defect. Like q23/q43 the gate itself is what the oracle
    * asserts: sketch contents are not bit-portable across engines, the
    * guarantee is. */
  val q46 = QueryDef(
    "q46_heavy_hitters",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"))
      val sketch = cmsSketch(ev, col("user_id"))
      val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("user_id")).limit(HhK)
      val probes = cmsRows(exact, col("user_id"))
      val totals = ev.agg(count(lit(1)).as("total"))
      sketch.join(broadcast(probes), Seq("r", "bucket"))
        .groupBy(col("user_id"), col("n_exact")).agg(min(col("c")).as("est"))
        .crossJoin(broadcast(totals))
        .select(col("user_id"), col("n_exact"),
          (col("est") >= col("n_exact") &&
            col("est") <= col("n_exact") + lit(8) * col("total") / lit(CmsWidth))
            .cast("int").as("ok"))
    },
    Some(s"""SELECT user_id, n_exact, 1 AS ok FROM (
            |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact
            |  FROM events GROUP BY user_id
            |  ORDER BY n_exact DESC, user_id LIMIT $HhK)""".stripMargin),
    doc = "count-min heavy hitters: declarative CMS, estimates gated by the sketch's own bounds"
  )

  val GroupTopK = 5

  /** Q47 — per-group top-k (top-GroupTopK users by spend per event
    * type) via the bounded-heap TopKAgg: the aggregate form sim1/sim2
    * use, applied to the relational surface. The row_number-window form
    * (q19/q37, fine for small groups) shuffles and sorts EVERY group
    * row; TopKAgg's map-side partial aggregation ships k (score, id)
    * pairs per (group, partition) and never sorts — per-group
    * TakeOrdered. Scores are integer cents cast to double (exact in
    * IEEE range), so ordering and output agree with the oracle
    * bit-for-bit; ties break by user_id inside the buffer exactly as
    * the oracle's ORDER BY. */
  val q47 = QueryDef(
    "q47_topk_per_group",
    (s, d) => {
      val per = Tables.events(s, d)
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      per.groupBy(col("event_type"))
        .agg(graft.functions.SketchAggs.topk(
          col("cents").cast("double"), col("user_id"), GroupTopK).as("top"))
        .select(col("event_type"), posexplode(col("top")))
        .select(col("event_type"), (col("pos") + 1).cast("int").as("rank"),
          col("col.id").as("user_id"), col("col.score").cast("long").as("cents"))
    },
    Some(s"""WITH per AS (
            |  SELECT event_type, user_id,
            |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
            |  FROM events GROUP BY 1, 2),
            |r AS (
            |  SELECT event_type, user_id, cents,
            |    row_number() OVER (PARTITION BY event_type
            |                       ORDER BY cents DESC, user_id) AS rank
            |  FROM per)
            |SELECT event_type, CAST(rank AS INTEGER) AS rank, user_id, cents
            |FROM r WHERE rank <= $GroupTopK""".stripMargin),
    doc = "per-group top-k via bounded-heap aggregate: k pairs per partition cross the wire, zero sorts"
  )

  val BloomBits = 1 << 16
  val BloomHashes = 5

  /** Fan each row out to BloomHashes (i, pos) coordinates — pos =
    * xxhash64(key, i) mod BloomBits. Shared by q48 (build AND probe
    * side), q52's pruning pre-filter, the streaming BloomProcessor, and
    * the parity spec — one construction, no drift (same policy as
    * cmsRows). */
  def bloomRows(df: DataFrame, key: Column): DataFrame =
    df.select(df.columns.map(col) :+
        expr(s"explode(sequence(0, ${BloomHashes - 1}))").as("i"): _*)
      .withColumn("pos", pmod(xxhash64(key, col("i")), lit(BloomBits)))

  /** False-positive allowance shared by q48's ok_fp and q52's ok_prune:
    * 3× the analytic rate (1−e^{−kn/m})^k times the non-member
    * population, plus one for rank discreteness in tiny groups. One
    * implementation so the two Bloom gates cannot drift. */
  def bloomFpBound(nSeen: Column, population: Column): Column =
    ceil(lit(3.0) *
      pow(lit(1.0) - exp(lit(-1.0) * BloomHashes * nSeen / BloomBits), BloomHashes) *
      population) + lit(1)

  /** Q48 — declarative Bloom-filter membership, the runtime-filter /
    * decontamination structure (Spark's own InjectRuntimeFilter builds
    * the same BloomFilterAggregate shape to prune a fact scan by a
    * dimension's key set). The "seen" set is orders' o_custkey; each
    * element sets BloomHashes positions xxhash64(key, i) mod BloomBits;
    * the filter is the DISTINCT position relation — map-side partial
    * distinct caps each partition's shuffle at BloomBits rows and the
    * whole bitset (≤ 2^16 rows) broadcasts to the probe side, which is
    * exactly how a 100 TB fact scan gets pre-filtered without shuffling
    * the fact table. A probe is positive iff ALL its positions are set.
    * Gates (oracle-portable, like q23/q43/q46 — sketch bits are not
    * bit-portable across engines, the guarantee is): no false negatives
    * (a customer with orders must test positive; structural, arithmetic
    * exact), and per-nation false positives within 3× the analytic rate
    * (1−e^{−kn/m})^k plus one (rank-discreteness slack for tiny
    * nations). */
  val q48 = QueryDef(
    "q48_bloom_membership",
    (s, d) => {
      val seen = Tables.orders(s, d).select(col("o_custkey")).distinct()
      val bits = bloomRows(seen, col("o_custkey")).select(col("pos")).distinct()
      val probes = bloomRows(
        Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey")),
        col("c_custkey"))
      val tested = probes
        .join(broadcast(bits.withColumn("hit", lit(1))), Seq("pos"), "left")
        .groupBy(col("c_custkey"), col("c_nationkey"))
        .agg((min(coalesce(col("hit"), lit(0))) === 1).cast("int").as("bloom_pos"))
      val truth = seen.select(col("o_custkey").as("c_custkey"), lit(1).as("has_orders"))
      val n = seen.agg(count(lit(1)).as("n_seen"))
      tested.join(broadcast(truth), Seq("c_custkey"), "left")
        .na.fill(0, Seq("has_orders"))
        .crossJoin(broadcast(n))
        .groupBy(col("c_nationkey"))
        .agg(
          count(lit(1)).as("n_customers"),
          sum(col("has_orders")).cast("long").as("n_with_orders"),
          min(when(col("has_orders") === 1, col("bloom_pos")).otherwise(lit(1)))
            .cast("int").as("ok_fn"),
          (sum(when(col("has_orders") === 0, col("bloom_pos")).otherwise(lit(0))) <=
            bloomFpBound(first(col("n_seen")), sum(lit(1) - col("has_orders"))))
            .cast("int").as("ok_fp"))
    },
    Some("""SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_customers,
           |  CAST(sum(CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_with_orders,
           |  1 AS ok_fn, 1 AS ok_fp
           |FROM customer c
           |LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
           |  ON c.c_custkey = o.o_custkey
           |GROUP BY c_nationkey""".stripMargin),
    doc = "declarative Bloom filter: broadcastable bitset, no-false-negative + bounded-FP gates"
  )

  val RsK = 8

  /** Q49 — deterministic per-group reservoir sample: k uniform docs per
    * group without rand(), so the sample is replayable across runs and
    * engines (the uniform-subsampling step of a corpus pipeline, and the
    * same hash-priority trick as q35's split). Priority = first 48 bits
    * of md5(event_id) — exact in a double, identically computable in
    * DuckDB; the k smallest priorities per event_type are an exact
    * uniform sample. Executed with the bounded-heap TopKAgg (score =
    * −priority): k pairs per (group, partition) cross the wire, zero
    * sorts — reservoir sampling's merge property, expressed as partial
    * aggregation. */
  val q49 = QueryDef(
    "q49_reservoir_sample",
    (s, d) => {
      val prio = expr("CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 12), 16, 10) AS DOUBLE)")
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"), prio.as("prio"))
        .groupBy(col("event_type"))
        .agg(graft.functions.SketchAggs.topk(-col("prio"), col("event_id"), RsK).as("top"))
        .select(col("event_type"), posexplode(col("top")))
        .select(col("event_type"), (col("pos") + 1).cast("int").as("rank"),
          col("col.id").as("event_id"), (-col("col.score")).cast("long").as("prio"))
    },
    Some(s"""WITH p AS (
            |  SELECT event_type, event_id,
            |    CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 12)) AS BIGINT) AS prio
            |  FROM events),
            |r AS (
            |  SELECT event_type, event_id, prio,
            |    row_number() OVER (PARTITION BY event_type ORDER BY prio, event_id) AS rank
            |  FROM p)
            |SELECT event_type, CAST(rank AS INTEGER) AS rank, event_id, prio
            |FROM r WHERE rank <= $RsK""".stripMargin),
    doc = "deterministic reservoir sample: hash-priority bounded heap, replayable across engines"
  )

  val HllP = 12
  val HllM = 1 << HllP

  /** Project a keyed DataFrame to its HLL observation per row: bucket =
    * low HllP bits of xxhash64(key), rho = position of the first 1-bit
    * in the remaining 52 bits (counted from the MSB side, 1-based;
    * 53 when they are all zero). rho is computed integer-exactly via
    * length(bin(x)) — bin() of a positive long has exactly
    * ⌊log2 x⌋ + 1 characters, so no float ever enters the register
    * math. Shared by q53 and the streaming HllProcessor (same policy
    * as cmsRows / bloomRows). */
  def hllRows(df: DataFrame, key: Column): DataFrame = {
    val h = xxhash64(key)
    val rest = shiftrightunsigned(h, HllP)
    df.withColumn("bucket", pmod(h, lit(HllM)))
      .withColumn("rho",
        when(rest === 0, lit(64 - HllP + 1))
          .otherwise(lit(64 - HllP + 1) - length(bin(rest))).cast("int"))
  }

  /** The register table: bucket → max(rho), ≤ HllM rows total, map-side
    * partial max — the mergeable-sketch property again. */
  def hllRegisters(df: DataFrame, key: Column): DataFrame =
    hllRows(df, key).groupBy(col("bucket")).agg(max(col("rho")).as("rho"))

  /** Fold a register table (optionally per group) to one `est` column:
    * the standard HLL estimator with the small-range linear-counting
    * correction. ONE implementation shared by q53 (global) and q54
    * (per window) — same no-drift policy as cmsRows/bloomRows. */
  def hllEstimate(regs: DataFrame, groupCols: String*): DataFrame = {
    val alpha = 0.7213 / (1.0 + 1.079 / HllM)
    regs.groupBy(groupCols.map(col): _*)
      .agg(sum(pow(lit(2.0), -col("rho"))).as("z_used"), count(lit(1)).as("used"))
      .withColumn("z", col("z_used") + (lit(HllM) - col("used")))
      .withColumn("v", lit(HllM) - col("used"))
      .select(groupCols.map(col) :+
        when(col("v") > 0 &&
            lit(alpha * HllM.toDouble * HllM) / col("z") <= lit(2.5 * HllM),
          lit(HllM.toDouble) * log(lit(HllM.toDouble) / col("v")))
          .otherwise(lit(alpha * HllM.toDouble * HllM) / col("z")).as("est"): _*)
  }

  /** HLL gate shared by q53/q54: |est − exact| ≤ max(5%·exact, 3). */
  def hllOk(est: Column, exact: Column): Column =
    (abs(est - exact) <= greatest(lit(0.05) * exact, lit(3.0))).cast("int")

  /** Q53 — declarative HyperLogLog cardinality, completing the
    * hand-built sketch family (q46 CMS frequency, q48 Bloom membership,
    * q49 reservoir sample — each with a streaming twin; q23 exercises
    * Spark's own DataSketches HLL, this one is ours and therefore
    * stream-mergeable). Registers are a ≤ 4096-row aggregation;
    * the estimate applies the standard small-range linear-counting
    * correction (m·ln(m/V) when the raw estimate ≤ 2.5m and empty
    * buckets remain — always the regime at the fixture cardinalities,
    * and the correction is what makes the 5% gate honest there).
    * Like q23/q43/q46/q48 the oracle asserts the GATE, not the sketch
    * bits: |est − exact| ≤ max(5% · exact, 3). */
  val q53 = QueryDef(
    "q53_hll_cardinality",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"))
      val est = hllEstimate(hllRegisters(ev, col("user_id")))
      val exact = ev.agg(countDistinct(col("user_id")).as("n_exact"))
      exact.crossJoin(broadcast(est))
        .select(col("n_exact"), hllOk(col("est"), col("n_exact")).as("ok"))
    },
    Some("""SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact, 1 AS ok
           |FROM events""".stripMargin),
    doc = "declarative HyperLogLog: integer-exact registers, linear-counting correction, 5% gate"
  )

  /** Q55 — HLL set algebra: the payoff of OWNING the registers (vs an
    * opaque built-in sketch) is that sketches compose — the union of
    * two populations is the register-wise max-merge, and intersection
    * follows by inclusion–exclusion, WITHOUT re-scanning either input.
    * Estimates |purchasers|, |error users|, their union (merged
    * registers) and intersection (est_a + est_b − est_union), gated
    * against the exact counts: union within the q53 gate, intersection
    * within max(5% of the exact union, 5) — inclusion–exclusion
    * compounds the absolute errors of three estimates, each of which
    * scales with its population, so the slack is union-relative (the
    * standard caveat for HLL intersections). */
  val q55 = QueryDef(
    "q55_hll_set_ops",
    (s, d) => {
      val ev = Tables.events(s, d)
      def users(t: String) =
        ev.filter(col("event_type") === t).select(col("user_id"))
      val a = users("purchase")
      val b = users("error")
      def est(df: DataFrame, name: String) =
        hllEstimate(hllRegisters(df, col("user_id"))).withColumnRenamed("est", name)
      val exact = a.select(col("user_id"), lit(1).as("in_a"))
        .distinct()
        .join(b.select(col("user_id"), lit(1).as("in_b")).distinct(),
          Seq("user_id"), "full_outer")
        .agg(
          sum(coalesce(col("in_a"), lit(0))).as("n_a"),
          sum(coalesce(col("in_b"), lit(0))).as("n_b"),
          count(lit(1)).as("n_union"),
          sum(when(col("in_a") === 1 && col("in_b") === 1, 1).otherwise(0)).as("n_inter"))
      exact
        .crossJoin(broadcast(est(a, "est_a")))
        .crossJoin(broadcast(est(b, "est_b")))
        .crossJoin(broadcast(est(a.union(b), "est_union")))
        .select(col("n_a"), col("n_b"), col("n_union"), col("n_inter"),
          hllOk(col("est_union"), col("n_union")).as("ok_union"),
          (abs(col("est_a") + col("est_b") - col("est_union") - col("n_inter")) <=
            greatest(lit(0.05) * col("n_union"), lit(5.0))).cast("int").as("ok_inter"))
    },
    Some("""WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
           |b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
           |SELECT
           |  CAST((SELECT count(*) FROM a) AS BIGINT) AS n_a,
           |  CAST((SELECT count(*) FROM b) AS BIGINT) AS n_b,
           |  CAST((SELECT count(*) FROM (SELECT user_id FROM a UNION SELECT user_id FROM b)) AS BIGINT) AS n_union,
           |  CAST((SELECT count(*) FROM a WHERE user_id IN (SELECT user_id FROM b)) AS BIGINT) AS n_inter,
           |  1 AS ok_union, 1 AS ok_inter""".stripMargin),
    doc = "HLL set algebra: union = register max-merge, intersection by inclusion-exclusion, gated vs exact"
  )

  /** Q52 — the Bloom filter USED: q48 builds and gates the sketch; this
    * query applies it as a runtime pre-filter on a fact table, the
    * InjectRuntimeFilter pattern. The "seen" set is BUILDING-segment
    * customers; orders pass the filter only if ALL BloomHashes positions
    * are set, expressed as BloomHashes broadcast LEFT SEMI joins against
    * the ≤ 2^16-row bitset — the fact table is never shuffled, each semi
    * join is a broadcast hash probe. False positives are then removed by
    * the exact (broadcast) semi join, so the OUTPUT is exact and the
    * oracle is the plain semi-join aggregate — a runtime filter must be
    * transparent. The gates make the pruning measurable: ok_contain
    * (bloom never drops a true row — per-year passed ≥ exact) and
    * ok_prune (per-year passed ≤ exact + 3× the analytic FP rate × the
    * non-matching population + 1). At fixture scale the exact set is
    * broadcastable anyway; at 100 TB the point is the 8 KB bitset prunes
    * the scan long before the (much larger) exact probe structure is
    * needed. */
  val q52 = QueryDef(
    "q52_bloom_pruned_join",
    (s, d) => {
      val seen = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val bits = bloomRows(seen, col("c_custkey")).select(col("pos")).distinct()
      val orders = Tables.orders(s, d)
        .select(col("o_custkey"), year(col("o_orderdate")).as("o_year"))
      val passed = (0 until BloomHashes).foldLeft(orders) { (df, i) =>
        df.withColumn("pos", pmod(xxhash64(col("o_custkey"), lit(i)), lit(BloomBits)))
          .join(broadcast(bits), Seq("pos"), "left_semi")
      }.drop("pos")
      val exact = orders.join(
        broadcast(seen.withColumnRenamed("c_custkey", "o_custkey")),
        Seq("o_custkey"), "left_semi")
      val nSeen = seen.agg(count(lit(1)).as("n_seen"))
      exact.groupBy(col("o_year")).agg(count(lit(1)).as("n_orders"))
        .join(passed.groupBy(col("o_year")).agg(count(lit(1)).as("n_passed")), Seq("o_year"))
        .join(orders.groupBy(col("o_year")).agg(count(lit(1)).as("n_total")), Seq("o_year"))
        .crossJoin(broadcast(nSeen))
        .select(col("o_year").cast("int").as("o_year"), col("n_orders"),
          (col("n_passed") >= col("n_orders")).cast("int").as("ok_contain"),
          (col("n_passed") - col("n_orders") <=
            bloomFpBound(col("n_seen"), col("n_total") - col("n_orders")))
            .cast("int").as("ok_prune"))
    },
    Some("""SELECT CAST(date_part('year', o_orderdate) AS INTEGER) AS o_year,
           |  CAST(count(*) AS BIGINT) AS n_orders, 1 AS ok_contain, 1 AS ok_prune
           |FROM orders o
           |WHERE EXISTS (SELECT 1 FROM customer c
           |              WHERE c.c_custkey = o.o_custkey
           |                AND c.c_mktsegment = 'BUILDING')
           |GROUP BY 1""".stripMargin),
    doc = "Bloom-pruned fact join: broadcast bitset semi-joins prune the scan, exact verify keeps the output oracle-clean"
  )

  val all: Seq[QueryDef] =
    Seq(q01, q02, q03, q04, q04b, q05a, q05b, q06, q15, q16, q17, q18, q19, q20, q23, q24,
      q27, q28, q31, q32, q33, q34, q35, q38, q39, q40, q41, q42, q43, q46, q47,
      q48, q49, q52, q53, q55)
}
