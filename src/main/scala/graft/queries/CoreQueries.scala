package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference-parity operator inventory (SURVEY.md §2) expressed on the
  * driver testdata star schema, one named query per operator family.
  *
  * Every query here has an exact DuckDB oracle in [[oracles]]; column
  * names and types are aligned on both sides (aggregates aliased, ranks
  * cast to bigint to match DuckDB window-function types, float aggs
  * rounded so summation order cannot flip the hash).
  *
  * Scale notes (designed for 100 TB, tested at sf≤0.1):
  *  - dimension joins (supplier/part/customer) are explicit `broadcast`;
  *  - aggregations are plain groupBy → partial+final hash agg;
  *  - top-k goes through sort+limit → TakeOrderedAndProject (no global sort);
  *  - NOT IN uses spark.sql so Catalyst plans the null-aware anti join
  *    (DataFrame left_anti is NOT null-aware — SURVEY §7.4.2).
  */
object CoreQueries {

  private type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** A1/A2: multi-key hash aggregation with computed measure.
    * Ref pattern: `queries.py:4-8,11-17` group-by counts. */
  val q01Agg: Q = (s, dir) => {
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
  }

  /** W1/W2: dense_rank over an aggregate, top-5 (ref `queries.py:11-17`
    * "cutlets" leaderboard). Tie-broken on the key so LIMIT is
    * deterministic. Ranked via [[graft.operators.TopK.withDenseRank]]
    * (broadcast rank map — no unpartitioned window). */
  val q02TopkRank: Q = (s, dir) => {
    val cnt = t(s, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("cnt"))
    graft.operators.TopK.withDenseRank(cnt, "cnt", 5)
      .select(col("l_suppkey"), col("cnt"), col("rank"))
      .orderBy(col("rank"), col("l_suppkey"))
      .limit(5)
  }

  /** J1+A2: fact ⋈ broadcast dimension, then aggregate
    * (ref `queries.py:13` frags ⋈ d_players). */
  val q03JoinAgg: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val supp = t(s, dir, "supplier")
    li.join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(
        count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice")), 2).as("total"))
  }

  /** J2+W3: double left join against two dimensions + top-1 earliest
    * (ref `queries.py:28-35` first-blood with killer+victim nickname). */
  val q04DoubleLeftJoin: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val part = t(s, dir, "part")
    val supp = t(s, dir, "supplier")
    li.join(broadcast(part), li("l_partkey") === part("p_partkey"), "left")
      .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"), "left")
      .select(
        li("l_orderkey"),
        li("l_linenumber"),
        part("p_name"),
        supp("s_name"),
        li("l_shipdate"),
        li("l_quantity"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .limit(1)
  }

  /** J4: NOT IN subquery → null-aware anti join (ref `queries.py:59`
    * survivors). Kept in SQL so the plan is NullAwareAntiJoin, matching
    * PG semantics when the subquery side could hold NULLs. */
  val q05AntijoinNotin: Q = (s, dir) => {
    t(s, dir, "customer").createOrReplaceTempView("customer")
    t(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql("""SELECT c_custkey, c_name FROM customer
             WHERE c_custkey NOT IN
               (SELECT o_custkey FROM orders WHERE o_totalprice > 250000)""")
  }

  /** A3+F12: CASE/WHEN decode then group-count (ref `queries.py:62-74`
    * survivors-per-side with emoji labels). */
  val q06CaseAgg: Q = (s, dir) => {
    t(s, dir, "orders")
      .select(
        when(col("o_orderstatus") === "O", "open")
          .when(col("o_orderstatus") === "F", "finished")
          .otherwise("partial")
          .as("status"),
        col("o_totalprice"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"), round(avg(col("o_totalprice")), 2).as("avg_price"))
  }

  /** P7: existence probe as a left-semi join (ref `main.py:47-54`
    * is_exists membership test, distributed form). */
  val q07SemiJoin: Q = (s, dir) => {
    val supp = t(s, dir, "supplier")
    val big = t(s, dir, "lineitem").filter(col("l_quantity") > 49)
    supp
      .join(big, supp("s_suppkey") === big("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
  }

  /** W5: NULLS LAST ordering over a nullable measure (ref `queries.py:52`
    * `ORDER BY distance IS NULL, distance DESC`). NULLs synthesized via
    * nullif since testdata has none. */
  val q08NullsLast: Q = (s, dir) => {
    t(s, dir, "lineitem")
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        when(col("l_quantity") === 50.0, lit(null)).otherwise(col("l_quantity")).as("q"))
      .orderBy(col("q").desc_nulls_last, col("l_orderkey"), col("l_linenumber"))
      .limit(3)
  }

  /** Window-function depth beyond the reference: row_number / lag / lead /
    * running sum, partitioned (no single-partition exchange at scale). */
  val q09Windows: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .filter(col("user_id") < 5)
      .select(
        col("event_id"),
        col("user_id"),
        col("value"),
        row_number().over(w).cast("bigint").as("rn"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"),
        round(sum(col("value")).over(running), 2).as("running_value"))
  }

  /** K3: last-write-wins upsert resolution — row_number over the key,
    * newest wins (ref `main.py:146-151` d_players ON CONFLICT DO UPDATE). */
  val q10UpsertLww: Q = (s, dir) => {
    val w = Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
  }

  /** P6+A4: high-watermark filter via scalar subquery (ref
    * `functions.py:19-36` max(replay_number) watermark). */
  val q11Watermark: Q = (s, dir) => {
    t(s, dir, "events").createOrReplaceTempView("events")
    s.sql("""SELECT event_id, user_id, event_type, value FROM events
             WHERE event_id > (SELECT max(event_id) - 100 FROM events)""")
  }

  /** E1-E4 analog: explode/unnest of an array column then re-aggregate
    * (ref `main.py:132-168` map-explode family). */
  val q12ExplodeTokens: Q = (s, dir) => {
    t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
  }

  /** F1/F7/F15: string scalar family — upper, translate (quote-strip),
    * regexp_replace, substring, length. */
  val q13StringFuncs: Q = (s, dir) => {
    t(s, dir, "customer")
      .select(
        col("c_custkey"),
        upper(col("c_name")).as("uname"),
        translate(col("c_name"), "#", "").as("no_hash"),
        regexp_replace(col("c_name"), "[0-9]", "N").as("masked"),
        substring(col("c_name"), 1, 8).as("prefix8"),
        length(col("c_name")).cast("bigint").as("name_len"))
  }

  /** F8/F9: date part extraction + formatting (ref `main.py:123,171`). */
  val q14DateFuncs: Q = (s, dir) => {
    t(s, dir, "orders")
      .select(
        year(col("o_orderdate")).cast("bigint").as("yr"),
        month(col("o_orderdate")).cast("bigint").as("mo"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
      .groupBy(col("yr"), col("mo"), col("ym"))
      .agg(count(lit(1)).as("n"))
  }

  /** F13/F14: JSON path extraction then aggregate (ref `functions.py:267`
    * text_data JSON round-trip). */
  val q15Json: Q = (s, dir) => {
    t(s, dir, "events")
      .select(
        col("event_type"),
        get_json_object(col("props"), "$.k").cast("bigint").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"))
  }

  /** F2/F3: regex extract group-1 and extract-all count
    * (ref `main.py:69-88` HTML field scraping). */
  val q16RegexExtract: Q = (s, dir) => {
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        regexp_extract(col("text"), "^(\\w+)", 1).as("first_word"),
        size(expr("regexp_extract_all(text, '(spark)', 1)")).cast("bigint").as("n_spark"))
  }

  /** A5: group-collect — the reference's driver-side dict grouping
    * (functions.py:223-231) as a distributed collect_list; sorted so the
    * array is deterministic. */
  val q17GroupCollect: Q = (s, dir) => {
    t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      // csv-joined so the driver compares a scalar (array cells hash
      // differently across parquet readers); the raw collect_list form
      // is exercised by the group_vehicles test oracle
      // (ReplayQueriesOracle)
      .agg(array_join(sort_array(collect_list(col("o_orderkey"))), ",")
        .as("order_ids_csv"),
        count(lit(1)).as("n_orders"))
  }

  /** J5: decode through a small literal map with passthrough default
    * (the reference's 10-entry vehicle-type dict, functions.py:211-222). */
  val q18MapDecode: Q = (s, dir) => {
    val labels = typedlit(Map(
      "ALGERIA" -> "DZ", "ARGENTINA" -> "AR", "BRAZIL" -> "BR"))
    t(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"),
        coalesce(element_at(labels, col("n_name")), col("n_name")).as("label"))
  }

  /** F18: timezone shift + interval-window predicate (ref
    * bot/botrun.py:35-42 Moscow UTC+3 display, :256-262 "within last
    * 8 h" check) — expressed on the events stream: shift to Moscow
    * wall-clock and keep only events in the trailing 8 h window. */
  val q19TzShift: Q = (s, dir) => {
    Tables.load(s, dir, "events").createOrReplaceTempView("events")
    s.sql("""SELECT event_id, ts, ts + INTERVAL 3 HOURS AS moscow_ts, event_type
             FROM events
             WHERE ts > (SELECT max(ts) - INTERVAL 8 HOURS FROM events)""")
  }

  val defs: Map[String, Q] = Map(
    "q01_agg" -> q01Agg,
    "q02_topk_rank" -> q02TopkRank,
    "q03_join_agg" -> q03JoinAgg,
    "q04_double_left_join" -> q04DoubleLeftJoin,
    "q05_antijoin_notin" -> q05AntijoinNotin,
    "q06_case_agg" -> q06CaseAgg,
    "q07_semi_join" -> q07SemiJoin,
    "q08_nulls_last" -> q08NullsLast,
    "q09_windows" -> q09Windows,
    "q10_upsert_lww" -> q10UpsertLww,
    "q11_watermark" -> q11Watermark,
    "q12_explode_tokens" -> q12ExplodeTokens,
    "q13_string_funcs" -> q13StringFuncs,
    "q14_date_funcs" -> q14DateFuncs,
    "q15_json" -> q15Json,
    "q16_regex_extract" -> q16RegexExtract,
    "q17_group_collect" -> q17GroupCollect,
    "q18_map_decode" -> q18MapDecode,
    "q19_tz_shift" -> q19TzShift,
  )

  val oracles: Map[String, String] = Map(
    "q01_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q02_topk_rank" ->
      """SELECT l_suppkey, cnt, rank FROM (
           SELECT l_suppkey, count(*) AS cnt,
                  DENSE_RANK() OVER (ORDER BY count(*) DESC) AS rank
           FROM lineitem GROUP BY l_suppkey)
         ORDER BY rank, l_suppkey LIMIT 5""",
    "q03_join_agg" ->
      """SELECT s_name, count(*) AS n_items,
                round(sum(l_extendedprice), 2) AS total
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY s_name""",
    "q04_double_left_join" ->
      """SELECT l_orderkey, l_linenumber, p_name, s_name, l_shipdate, l_quantity
         FROM lineitem
         LEFT JOIN part ON l_partkey = p_partkey
         LEFT JOIN supplier ON l_suppkey = s_suppkey
         ORDER BY l_shipdate, l_orderkey, l_linenumber LIMIT 1""",
    "q05_antijoin_notin" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey NOT IN
           (SELECT o_custkey FROM orders WHERE o_totalprice > 250000)""",
    "q06_case_agg" ->
      """SELECT CASE WHEN o_orderstatus = 'O' THEN 'open'
                     WHEN o_orderstatus = 'F' THEN 'finished'
                     ELSE 'partial' END AS status,
                count(*) AS n, round(avg(o_totalprice), 2) AS avg_price
         FROM orders GROUP BY 1""",
    "q07_semi_join" ->
      """SELECT s_suppkey, s_name FROM supplier
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_suppkey = s_suppkey AND l_quantity > 49)""",
    "q08_nulls_last" ->
      """SELECT l_orderkey, l_linenumber, nullif(l_quantity, 50) AS q
         FROM lineitem
         ORDER BY (q IS NULL), q DESC, l_orderkey, l_linenumber LIMIT 3""",
    "q09_windows" ->
      """SELECT event_id, user_id, value,
                ROW_NUMBER() OVER w AS rn,
                LAG(value, 1) OVER w AS prev_value,
                LEAD(value, 1) OVER w AS next_value,
                round(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                  AS running_value
         FROM events WHERE user_id < 5
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
    "q10_upsert_lww" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
           FROM orders) WHERE rn = 1""",
    "q11_watermark" ->
      """SELECT event_id, user_id, event_type, value FROM events
         WHERE event_id > (SELECT max(event_id) - 100 FROM events)""",
    "q12_explode_tokens" ->
      """SELECT word, count(*) AS n FROM (
           SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         GROUP BY word""",
    "q13_string_funcs" ->
      """SELECT c_custkey, upper(c_name) AS uname,
                translate(c_name, '#', '') AS no_hash,
                regexp_replace(c_name, '[0-9]', 'N', 'g') AS masked,
                substr(c_name, 1, 8) AS prefix8,
                CAST(length(c_name) AS BIGINT) AS name_len
         FROM customer""",
    "q14_date_funcs" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
                CAST(month(o_orderdate) AS BIGINT) AS mo,
                strftime(o_orderdate, '%Y-%m') AS ym,
                count(*) AS n
         FROM orders GROUP BY 1, 2, 3""",
    "q15_json" ->
      """SELECT event_type, count(*) AS n,
                CAST(sum(k) AS BIGINT) AS sum_k,
                CAST(max(k) AS BIGINT) AS max_k
         FROM (SELECT event_type, CAST(props->>'k' AS BIGINT) AS k FROM events)
         GROUP BY event_type""",
    "q16_regex_extract" ->
      """SELECT doc_id, regexp_extract(text, '^(\w+)', 1) AS first_word,
                CAST(len(regexp_extract_all(text, 'spark')) AS BIGINT) AS n_spark
         FROM documents""",
    "q17_group_collect" ->
      """SELECT o_custkey,
                array_to_string(list(o_orderkey ORDER BY o_orderkey), ',')
                  AS order_ids_csv,
                count(*) AS n_orders
         FROM orders GROUP BY o_custkey""",
    "q18_map_decode" ->
      """SELECT n_nationkey, n_name,
                CASE WHEN n_name = 'ALGERIA' THEN 'DZ'
                     WHEN n_name = 'ARGENTINA' THEN 'AR'
                     WHEN n_name = 'BRAZIL' THEN 'BR'
                     ELSE n_name END AS label
         FROM nation""",
    "q19_tz_shift" ->
      """SELECT event_id, ts, ts + INTERVAL 3 HOUR AS moscow_ts, event_type
         FROM events
         WHERE ts > (SELECT max(ts) - INTERVAL 8 HOUR FROM events)""",
  )
}
