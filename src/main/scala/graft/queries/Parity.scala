package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Cleanse, Exact}

/** Reference-parity graded queries — one per operator row of SURVEY.md §2,
  * phrased over the driver testdata (FIXTURES.md §B maps the insurance
  * semantics onto the TPC-H-ish tables). Each query has an ANSI-SQL oracle
  * (DuckDB) producing identical column names and bit-identical values
  * (money aggregates via [[Exact.moneySum]]; dates formatted to strings).
  *
  * Scale notes (100 TB design point): every query here is either a narrow
  * scan+project+filter (pushdown to parquet), a single hash-partial/final
  * aggregate on the natural key, or a broadcast-able dimension join. The
  * only wide shuffles are the groupBy(custkey) aggregates and the
  * lineitem⋈orders FK join, which is exactly the shuffle the semantics
  * require (co-partition on the join key; AQE converts the post-agg joins
  * to broadcast since agg output ≈ |customers|).
  */
object Parity extends QuerySet {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** DuckDB rendering of [[Cleanse.wsTrim]] (plain trim() strips only
    * spaces in both engines; reference .strip() takes all whitespace). */
  private def dWsTrim(col: String): String =
    s"regexp_replace($col, '^\\s+|\\s+$$', '', 'g')"

  /** DuckDB has no initcap (v1.0) — equivalent expression with Spark
    * initcap semantics (capitalize after space, lowercase the rest). */
  private def dInitcap(col: String): String =
    s"array_to_string(list_transform(string_split(${dWsTrim(col)}, ' '), " +
      s"w -> upper(w[1]) || lower(w[2:])), ' ')"

  private def dTitleClean(col: String): String =
    s"CASE WHEN length(${dWsTrim(col)}) > 0 THEN ${dInitcap(col)} END"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- projections (SURVEY §2.2) ----
    "p1_project" -> ((s, d) =>
      t(s, d, "customer").select("c_custkey", "c_name", "c_mktsegment")),

    "p5_surrogate_key" -> ((s, d) =>
      t(s, d, "part")
        .withColumn("part_key", col("p_partkey"))
        .select("part_key", "p_partkey", "p_name", "p_brand")),

    "p6_derived_ratio" -> ((s, d) =>
      t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        Cleanse.safeDiv(col("l_extendedprice") * (lit(1) - col("l_discount")),
          col("l_extendedprice")).as("discounted_ratio"))),

    // ---- filters (SURVEY §2.3) ----
    "f1_notnull" -> ((s, d) =>
      t(s, d, "orders").na.drop(Seq("o_custkey"))
        .select("o_orderkey", "o_custkey")),

    "f3_notnull_multi" -> ((s, d) =>
      t(s, d, "lineitem").na.drop(Seq("l_partkey", "l_suppkey"))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")),

    "f5_drop_nonpositive" -> ((s, d) =>
      t(s, d, "lineitem").filter(col("l_discount") > 0)
        .select("l_orderkey", "l_linenumber", "l_discount")),

    // ---- cleansing expressions (SURVEY §2.4) ----
    "e1_titlecase" -> ((s, d) =>
      t(s, d, "customer").select(col("c_custkey"),
        Cleanse.titleCase(col("c_name")).as("name_clean"))),

    "e2_upper_trim" -> ((s, d) =>
      t(s, d, "part").select(col("p_partkey"),
        Cleanse.upperTrim(col("p_brand")).as("brand_clean"))),

    "e3_email_valid" -> ((s, d) =>
      t(s, d, "customer").select(col("c_custkey"),
        Cleanse.validEmail(
          when(col("c_custkey") % 3 === 0, col("c_name"))
            .otherwise(concat(lower(regexp_replace(col("c_name"), "#", "")),
              lit("@example.com")))).as("email_clean"))),

    "e4_phone_norm" -> ((s, d) =>
      t(s, d, "customer").select(col("c_custkey"),
        Cleanse.normalizePhone(col("c_name")).as("phone_digits"))),

    "e6_range_valid" -> ((s, d) =>
      t(s, d, "part").select(col("p_partkey"),
        Cleanse.validRange(col("p_size"), 10, 40).as("size_valid"))),

    "e7_plate_norm" -> ((s, d) =>
      t(s, d, "part").select(col("p_partkey"),
        Cleanse.normalizePlate(col("p_type")).as("type_norm"))),

    "e8_domain_whitelist" -> ((s, d) =>
      t(s, d, "customer").select(col("c_custkey"),
        Cleanse.domainWhitelistRaw(col("c_mktsegment"),
          Seq("AUTOMOBILE", "BUILDING", "MACHINERY")).as("segment_valid"))),

    "e9_domain_status" -> ((s, d) =>
      t(s, d, "orders").select(col("o_orderkey"),
        Cleanse.domainWhitelistRaw(col("o_orderstatus"), Seq("O", "F"))
          .as("status_valid"))),

    "e10_domain_titlecased" -> ((s, d) =>
      t(s, d, "customer").select(col("c_custkey"),
        Cleanse.domainWhitelist(col("c_mktsegment"),
          Seq("Automobile", "Building", "Machinery")).as("segment_title"))),

    "e11_round_positive" -> ((s, d) =>
      t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        Cleanse.positiveRound2(col("l_extendedprice")).as("amount_clean"))),

    "e12_date_asof" -> ((s, d) =>
      t(s, d, "orders").select(col("o_orderkey"),
        date_format(Cleanse.tsUpTo(col("o_orderdate"), "1997-06-30 00:00:00"),
          "yyyy-MM-dd").as("orderdate_valid"))),

    "e13_date_coerce" -> ((s, d) =>
      t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        date_format(
          Cleanse.coerceLenient(
            when(col("l_linenumber") % 5 === 0, lit("not-a-date"))
              .otherwise(date_format(col("l_shipdate"), "yyyy-MM-dd")),
            "yyyy-MM-dd"),
          "yyyy-MM-dd").as("ship_coerced"))),

    // ---- joins (SURVEY §2.5) ----
    // documents.text is punctuation-rich, so this exercises every boundary
    // where Python title() and initcap disagree (apostrophes, hyphens,
    // digits) — the oracle replays Python's cased/uncased walk char-wise.
    "e14_titlecase_py" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        Cleanse.titleCasePy(col("text")).as("title_py"))),

    "j1_left_join" -> ((s, d) =>
      t(s, d, "orders").join(
        broadcast(t(s, d, "customer")
          .select("c_custkey", "c_name", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"), "left")
        .select("o_orderkey", "o_custkey", "c_name", "c_mktsegment")),

    "j2_fk_join" -> ((s, d) => {
      val fk = t(s, d, "orders").select("o_orderkey", "o_custkey")
        .dropDuplicates("o_orderkey")
      val li = t(s, d, "lineitem")
      li.join(fk, li("l_orderkey") === fk("o_orderkey"), "left")
        .select("l_orderkey", "l_linenumber", "o_custkey")
    }),

    "dim_customer" -> ((s, d) =>
      t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"), "left")
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"), "left")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col("n_name").as("nation"), col("r_name").as("region"))),

    "dim_part" -> ((s, d) =>
      t(s, d, "part")
        .withColumn("part_key", col("p_partkey"))
        .select("part_key", "p_partkey", "p_brand", "p_type", "p_size")
        .dropDuplicates()),

    // ---- aggregations (SURVEY §2.6) ----
    "a1_agg_count_sum" -> ((s, d) =>
      t(s, d, "orders").groupBy("o_custkey").agg(
        count(col("o_orderkey")).as("total_orders"),
        Exact.moneySum(col("o_totalprice")).as("total_spent"))),

    "a2_countif" -> ((s, d) =>
      t(s, d, "orders").groupBy("o_custkey").agg(
        Exact.countIf(col("o_orderstatus") === "O").as("open_orders"))),

    // custom-aggregate surface (SURVEY §2.9): the same conditional count
    // as a typed Aggregator UDAF; oracle identical to a2_countif
    "a2_countif_udaf" -> ((s, d) => {
      val countIfU = udaf(graft.functions.CountIfAgg)
      t(s, d, "orders").groupBy("o_custkey").agg(
        countIfU(col("o_orderstatus") === "O").as("open_orders"))
    }),

    "a3_agg_sum_count_max" -> ((s, d) =>
      t(s, d, "lineitem").groupBy("l_orderkey").agg(
        Exact.moneySum(col("l_extendedprice")).as("total_charge"),
        count(col("l_linenumber")).as("n_items"),
        date_format(max(col("l_shipdate")), "yyyy-MM-dd").as("last_ship"))),

    "a5_distinct_full" -> ((s, d) =>
      t(s, d, "part").select("p_brand", "p_type").distinct()),

    "a6_distinct_subset" -> ((s, d) =>
      t(s, d, "orders").select("o_custkey").distinct()),

    "a8_row_counts" -> ((s, d) => {
      val o = t(s, d, "orders").agg(count(lit(1)).as("n")).select(lit("orders").as("tbl"), col("n"))
      val l = t(s, d, "lineitem").agg(count(lit(1)).as("n")).select(lit("lineitem").as("tbl"), col("n"))
      val c = t(s, d, "customer").agg(count(lit(1)).as("n")).select(lit("customer").as("tbl"), col("n"))
      o.union(l).union(c)
    }),

    // ---- sampling (SURVEY §2.7) — deterministic modulo "sample" so the
    // oracle can reproduce it; the true rand(seed) sample is exercised in
    // the ScalaTest suite (GenSpec). ----
    "g1_det_sample" -> ((s, d) =>
      t(s, d, "customer").filter(col("c_custkey") % 10 < 7)
        .select("c_custkey", "c_name")),

    // ---- the gold fact pipeline (flagship: A1+A2+A3+A7+J2+J4-J6+P4) ----
    "q_fact_summary" -> ((s, d) => factSummary(s, d)),

    // same pipeline through the spark.sql text interface (temp views) —
    // demonstrates the SQL API surface; plan is identical to the DSL form
    "sql_fact_summary" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("g_orders")
      t(s, d, "lineitem").createOrReplaceTempView("g_lineitem")
      t(s, d, "customer").createOrReplaceTempView("g_customer")
      s.sql("""
        WITH ord_agg AS (
          SELECT o_custkey AS custkey, COUNT(o_orderkey) AS total_orders,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
                 COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS open_orders
          FROM g_orders GROUP BY o_custkey),
        li_agg AS (
          SELECT o_custkey AS custkey, COUNT(l_linenumber) AS total_items,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_charge,
                 date_format(MAX(l_shipdate), 'yyyy-MM-dd') AS last_ship
          FROM g_lineitem
          LEFT JOIN (SELECT DISTINCT o_orderkey, o_custkey FROM g_orders) o
            ON l_orderkey = o_orderkey
          GROUP BY o_custkey)
        SELECT c.custkey, total_orders, total_spent, open_orders,
               total_items, total_charge, last_ship,
               CASE WHEN total_spent IS NOT NULL AND total_spent <> 0
                    THEN total_charge / total_spent END AS charge_to_spent_ratio,
               CASE WHEN total_items IS NOT NULL AND total_items <> 0
                    THEN total_charge / total_items END AS avg_item_charge
        FROM (SELECT DISTINCT c_custkey AS custkey FROM g_customer) c
        LEFT JOIN ord_agg USING (custkey)
        LEFT JOIN li_agg USING (custkey)""")
    }),

    "fact_payments_shape" -> ((s, d) => {
      val fk = t(s, d, "orders").select("o_orderkey", "o_custkey")
        .dropDuplicates("o_orderkey")
      val li = t(s, d, "lineitem")
      li.join(fk, li("l_orderkey") === fk("o_orderkey"), "left")
        .select(col("l_orderkey"), col("l_linenumber"), col("o_custkey"),
          col("l_extendedprice"))
    })
  )

  /** fact_client_summary analog (load_gold.py:94-140): three aggregates
    * joined back onto the distinct customer list, with guarded ratios. */
  private def factSummary(s: SparkSession, d: String): DataFrame = {
    val orders = t(s, d, "orders")
    val li = t(s, d, "lineitem")
    val cust = t(s, d, "customer")

    val ordAgg = orders.groupBy(col("o_custkey").as("custkey")).agg(
      count(col("o_orderkey")).as("total_orders"),
      Exact.moneySum(col("o_totalprice")).as("total_spent"),
      Exact.countIf(col("o_orderstatus") === "O").as("open_orders"))

    val fk = orders.select("o_orderkey", "o_custkey").dropDuplicates("o_orderkey")
    val liAgg = li.join(fk, li("l_orderkey") === fk("o_orderkey"), "left")
      .groupBy(col("o_custkey").as("custkey")).agg(
        count(col("l_linenumber")).as("total_items"),
        Exact.moneySum(col("l_extendedprice")).as("total_charge"),
        date_format(max(col("l_shipdate")), "yyyy-MM-dd").as("last_ship"))

    cust.select(col("c_custkey").as("custkey")).distinct()
      .join(ordAgg, Seq("custkey"), "left")
      .join(liAgg, Seq("custkey"), "left")
      .withColumn("charge_to_spent_ratio",
        Cleanse.safeDiv(col("total_charge"), col("total_spent")))
      .withColumn("avg_item_charge",
        Cleanse.safeDiv(col("total_charge"), col("total_items")))
  }

  val oracle: Map[String, String] = Map(
    "p1_project" ->
      "SELECT c_custkey, c_name, c_mktsegment FROM customer",

    "p5_surrogate_key" ->
      "SELECT p_partkey AS part_key, p_partkey, p_name, p_brand FROM part",

    "p6_derived_ratio" ->
      """SELECT l_orderkey, l_linenumber,
         CASE WHEN l_extendedprice IS NOT NULL AND l_extendedprice <> 0
              THEN (l_extendedprice * (1 - l_discount)) / l_extendedprice
         END AS discounted_ratio FROM lineitem""",

    "f1_notnull" ->
      "SELECT o_orderkey, o_custkey FROM orders WHERE o_custkey IS NOT NULL",

    "f3_notnull_multi" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey FROM lineitem
         WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL""",

    "f5_drop_nonpositive" ->
      "SELECT l_orderkey, l_linenumber, l_discount FROM lineitem WHERE l_discount > 0",

    "e1_titlecase" ->
      s"SELECT c_custkey, ${dTitleClean("c_name")} AS name_clean FROM customer",

    "e2_upper_trim" ->
      s"""SELECT p_partkey, CASE WHEN length(${dWsTrim("p_brand")}) > 0
         THEN upper(${dWsTrim("p_brand")}) END AS brand_clean FROM part""",

    "e3_email_valid" ->
      """SELECT c_custkey, CASE WHEN s ~ '^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}$'
              THEN s END AS email_clean
         FROM (SELECT c_custkey,
               CASE WHEN c_custkey % 3 = 0 THEN c_name
                    ELSE lower(replace(c_name, '#', '')) || '@example.com' END AS s
               FROM customer)""",

    "e4_phone_norm" ->
      """SELECT c_custkey, nullif(regexp_replace(c_name, '[^0-9+\-]', '', 'g'), '')
         AS phone_digits FROM customer""",

    "e6_range_valid" ->
      """SELECT p_partkey, CASE WHEN p_size BETWEEN 10 AND 40
         THEN CAST(p_size AS INTEGER) END AS size_valid FROM part""",

    "e7_plate_norm" ->
      """SELECT p_partkey, nullif(regexp_replace(upper(trim(p_type)), '[^A-Z0-9]', '', 'g'), '')
         AS type_norm FROM part""",

    "e8_domain_whitelist" ->
      """SELECT c_custkey, CASE WHEN c_mktsegment IN ('AUTOMOBILE','BUILDING','MACHINERY')
         THEN c_mktsegment END AS segment_valid FROM customer""",

    "e9_domain_status" ->
      """SELECT o_orderkey, CASE WHEN o_orderstatus IN ('O','F')
         THEN o_orderstatus END AS status_valid FROM orders""",

    "e10_domain_titlecased" ->
      s"""SELECT c_custkey, CASE WHEN ${dTitleClean("c_mktsegment")}
            IN ('Automobile','Building','Machinery')
          THEN ${dTitleClean("c_mktsegment")} END AS segment_title FROM customer""",

    "e11_round_positive" ->
      """SELECT l_orderkey, l_linenumber, CASE WHEN l_extendedprice > 0
         THEN round(l_extendedprice, 2) END AS amount_clean FROM lineitem""",

    "e12_date_asof" ->
      """SELECT o_orderkey, CASE WHEN o_orderdate <= TIMESTAMP '1997-06-30 00:00:00'
         THEN strftime(o_orderdate, '%Y-%m-%d') END AS orderdate_valid FROM orders""",

    "e13_date_coerce" ->
      """SELECT l_orderkey, l_linenumber,
         strftime(TRY_CAST(CASE WHEN l_linenumber % 5 = 0 THEN 'not-a-date'
                  ELSE strftime(l_shipdate, '%Y-%m-%d') END AS TIMESTAMP),
                  '%Y-%m-%d') AS ship_coerced FROM lineitem""",

    // Python str.title() replayed char-wise: cased = \p{Lu}/\p{Ll}/\p{Lt};
    // a cased char after a cased char lowers, any other cased char uppers.
    // (?s). keeps newline chars; coalesce handles the empty-list aggregate.
    // Known residual: RE2 has no Other_Lowercase/Other_Uppercase property
    // class, so chars like º/ª/Ⅰ count as uncased HERE while the engine
    // (faithfully to CPython) treats them as cased — no such char occurs
    // in the corpus (the engine side is the semantically correct one).
    "e14_titlecase_py" ->
      """WITH s AS (SELECT doc_id,
                    nullif(regexp_replace(text, '^\s+|\s+$', '', 'g'), '') AS t
                    FROM documents),
         c AS (SELECT doc_id, t, regexp_extract_all(t, '(?s).') AS cs FROM s)
         SELECT doc_id,
           CASE WHEN t IS NULL THEN NULL ELSE coalesce(list_aggregate(
             [CASE WHEN regexp_matches(cs[i], '\p{Lu}|\p{Ll}|\p{Lt}')
                   THEN CASE WHEN i = 1 OR NOT regexp_matches(cs[i-1], '\p{Lu}|\p{Ll}|\p{Lt}')
                             THEN upper(cs[i]) ELSE lower(cs[i]) END
                   ELSE cs[i] END
              for i in range(1, len(cs)+1)], 'string_agg', ''), '') END AS title_py
         FROM c""",

    "j1_left_join" ->
      """SELECT o_orderkey, o_custkey, c_name, c_mktsegment
         FROM orders LEFT JOIN customer ON o_custkey = c_custkey""",

    "j2_fk_join" ->
      """SELECT l_orderkey, l_linenumber, o_custkey FROM lineitem
         LEFT JOIN (SELECT DISTINCT o_orderkey, o_custkey FROM orders) o
         ON l_orderkey = o_orderkey""",

    "dim_customer" ->
      """SELECT c_custkey, c_name, c_mktsegment, n_name AS nation, r_name AS region
         FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
         LEFT JOIN region ON n_regionkey = r_regionkey""",

    "dim_part" ->
      """SELECT DISTINCT p_partkey AS part_key, p_partkey, p_brand, p_type, p_size
         FROM part""",

    "a1_agg_count_sum" ->
      """SELECT o_custkey, COUNT(o_orderkey) AS total_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
         FROM orders GROUP BY o_custkey""",

    "a2_countif" ->
      """SELECT o_custkey, COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END)
         AS open_orders FROM orders GROUP BY o_custkey""",

    "a2_countif_udaf" ->
      """SELECT o_custkey, COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END)
         AS open_orders FROM orders GROUP BY o_custkey""",

    "a3_agg_sum_count_max" ->
      """SELECT l_orderkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_charge,
         COUNT(l_linenumber) AS n_items,
         strftime(MAX(l_shipdate), '%Y-%m-%d') AS last_ship
         FROM lineitem GROUP BY l_orderkey""",

    "a5_distinct_full" ->
      "SELECT DISTINCT p_brand, p_type FROM part",

    "a6_distinct_subset" ->
      "SELECT DISTINCT o_custkey FROM orders",

    "a8_row_counts" ->
      """SELECT 'orders' AS tbl, COUNT(*) AS n FROM orders
         UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
         UNION ALL SELECT 'customer', COUNT(*) FROM customer""",

    "g1_det_sample" ->
      "SELECT c_custkey, c_name FROM customer WHERE c_custkey % 10 < 7",

    "q_fact_summary" ->
      """WITH ord_agg AS (
           SELECT o_custkey AS custkey, COUNT(o_orderkey) AS total_orders,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
                  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS open_orders
           FROM orders GROUP BY o_custkey),
         li_agg AS (
           SELECT o_custkey AS custkey, COUNT(l_linenumber) AS total_items,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_charge,
                  strftime(MAX(l_shipdate), '%Y-%m-%d') AS last_ship
           FROM lineitem
           LEFT JOIN (SELECT DISTINCT o_orderkey, o_custkey FROM orders) o
             ON l_orderkey = o_orderkey
           GROUP BY o_custkey)
         SELECT c.custkey, total_orders, total_spent, open_orders,
                total_items, total_charge, last_ship,
                CASE WHEN total_spent IS NOT NULL AND total_spent <> 0
                     THEN total_charge / total_spent END AS charge_to_spent_ratio,
                CASE WHEN total_items IS NOT NULL AND total_items <> 0
                     THEN total_charge / total_items END AS avg_item_charge
         FROM (SELECT DISTINCT c_custkey AS custkey FROM customer) c
         LEFT JOIN ord_agg USING (custkey)
         LEFT JOIN li_agg USING (custkey)""",

    // identical oracle: the SQL-text form must produce the same table
    "sql_fact_summary" ->
      """WITH ord_agg AS (
           SELECT o_custkey AS custkey, COUNT(o_orderkey) AS total_orders,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
                  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS open_orders
           FROM orders GROUP BY o_custkey),
         li_agg AS (
           SELECT o_custkey AS custkey, COUNT(l_linenumber) AS total_items,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_charge,
                  strftime(MAX(l_shipdate), '%Y-%m-%d') AS last_ship
           FROM lineitem
           LEFT JOIN (SELECT DISTINCT o_orderkey, o_custkey FROM orders) o
             ON l_orderkey = o_orderkey
           GROUP BY o_custkey)
         SELECT c.custkey, total_orders, total_spent, open_orders,
                total_items, total_charge, last_ship,
                CASE WHEN total_spent IS NOT NULL AND total_spent <> 0
                     THEN total_charge / total_spent END AS charge_to_spent_ratio,
                CASE WHEN total_items IS NOT NULL AND total_items <> 0
                     THEN total_charge / total_items END AS avg_item_charge
         FROM (SELECT DISTINCT c_custkey AS custkey FROM customer) c
         LEFT JOIN ord_agg USING (custkey)
         LEFT JOIN li_agg USING (custkey)""",

    "fact_payments_shape" ->
      """SELECT l_orderkey, l_linenumber, o_custkey, l_extendedprice FROM lineitem
         LEFT JOIN (SELECT DISTINCT o_orderkey, o_custkey FROM orders) o
         ON l_orderkey = o_orderkey"""
  )
}
