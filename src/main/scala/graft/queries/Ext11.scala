package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Graphs, Stats}

/** Round-8 fourth wave — post-hoc / reliability / cohesion statistics
  * on the standing exact recipes:
  *
  *  - the cross-multiplied integer ECDF spine ([[Stats.kuiperTwoSample]]
  *    next to KS and Anderson–Darling — the L∞⁺/L∞⁻ pair statistic);
  *  - decimal(38,0) moment accumulation + bounded group-ordered folds
  *    for Tukey's HSD and Cronbach's alpha (one data pass, k-bounded
  *    epilogues, IEEE-exact sqrt);
  *  - the bounded-round iterative-join discipline (per-round
  *    localCheckpoint, driver actions bounded by a code constant) for
  *    the k-truss peel, replayed in the oracle as unrolled CTE rounds.
  */
object Ext11 extends QuerySet {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val dbl = (c: Column) => c.cast("double")

  /** Unrolled SQL for one k-truss peel round r over edge CTE e{r-1}:
    * support = |common neighbors| via the undirected adjacency,
    * left-joined back so triangle-free edges peel too. Every CTE is
    * MATERIALIZED: each round's edge set is referenced four times and
    * chained five deep — DuckDB 1.0 inlines CTEs by default, which
    * re-evaluates the whole prefix per reference (4⁵-ish blowup). */
  private def trussRoundSql(r: Int, minSup: Int): String = {
    val (prev, cur) = (s"e${r - 1}", s"e$r")
    s"""adj$r AS MATERIALIZED (SELECT a AS u, b AS w FROM $prev
                  UNION ALL SELECT b, a FROM $prev),
         sup$r AS MATERIALIZED (SELECT e.a, e.b, count(*) AS sup
                FROM $prev e
                JOIN adj$r x ON x.u = e.a
                JOIN adj$r y ON y.u = e.b AND y.w = x.w
                GROUP BY e.a, e.b),
         $cur AS MATERIALIZED (SELECT e.a, e.b FROM $prev e
                LEFT JOIN sup$r s ON s.a = e.a AND s.b = e.b
                WHERE COALESCE(s.sup, 0) >= $minSup)"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // two-sample Kuiper V (purchase vs click event values): D⁺ + D⁻ —
    // the crossing-sensitive companion to x_ks_drift's single max gap;
    // integer cross-multiplied extremes, one final division
    "x_kuiper" -> ((s, d) =>
      Stats.kuiperTwoSample(
        t(s, d, "events").filter(col("value").isNotNull), "value",
        col("event_type") === "purchase", col("event_type") === "click")),

    // Tukey HSD over order-priority groups on exact price cents: every
    // priority pair's studentized-range q against the pooled
    // within-group MS — the "which pairs differ" readout after ANOVA
    "x_tukey_hsd" -> ((s, d) =>
      Stats.tukeyHsd(t(s, d, "orders").filter(col("o_totalprice").isNotNull),
        col("o_orderpriority"), floor(col("o_totalprice") * lit(100.0)))),

    // Cronbach's alpha over four integer per-document size/punctuation
    // signals: do they measure one construct (document "bulk") —
    // the pre-averaging reliability gate for any composite score
    "x_cronbach_alpha" -> ((s, d) => {
      val docs = t(s, d, "documents").filter(col("text").isNotNull)
      def minus(ch: String) =
        length(col("text")) -
          length(expr(s"replace(text, '$ch', '')"))
      Stats.cronbachAlpha(docs, Seq(
        length(col("text")), minus(" "), minus("."), minus(",")))
    }),

    // 3-truss peel (5 bounded rounds) of the min-support-2 part
    // co-purchase graph (x_triangle_count's edge set) — every
    // surviving edge sits in ≥ 1 triangle of the truss itself:
    // per-round surviving-edge counts; an unchanged count certifies
    // the fixpoint (k = 4 empties this sparse graph in two rounds)
    "x_ktruss" -> ((s, d) => {
      // Skew.spread before the co-purchase self-join (round 16): the
      // probe-side join fan-out + distinct partial agg otherwise run
      // in the 3 scan tasks — see x_triangle_count; peel counts are
      // partitioning-invariant
      val li = graft.operators.Skew.spread(
        t(s, d, "lineitem").select("l_orderkey", "l_partkey"))
      val l1 = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pa"))
      val l2 = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pb"))
      val coEdges = l1.join(l2, Seq("ok")).filter(col("pa") < col("pb"))
        .distinct()
        .groupBy("pa", "pb").agg(count(lit(1)).as("n_ord"))
        .filter(col("n_ord") >= 2)
      Graphs.kTrussRounds(coEdges, "pa", "pb", k = 3, rounds = 5)
    }))

  val oracle: Map[String, String] = Map(

    // mirrors Stats.kuiperTwoSample: same spine, same integer
    // cross-multiplied one-sided maxima
    "x_kuiper" ->
      """WITH f AS (SELECT value AS v,
                CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS in1,
                CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS in2
              FROM events
              WHERE value IS NOT NULL
                AND event_type IN ('purchase', 'click')),
         g AS (SELECT v, CAST(sum(in1) AS BIGINT) AS a1,
                CAST(sum(in2) AS BIGINT) AS a2 FROM f GROUP BY v),
         s AS (SELECT
                CAST(sum(a1) OVER w AS BIGINT) AS c1,
                CAST(sum(a2) OVER w AS BIGINT) AS c2
              FROM g WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW)),
         t AS (SELECT CAST(sum(in1) AS BIGINT) AS n1,
                CAST(sum(in2) AS BIGINT) AS n2 FROM f),
         m AS (SELECT max(n1) AS n1, max(n2) AS n2,
                max(c1 * n2 - c2 * n1) AS d_plus_num,
                max(c2 * n1 - c1 * n2) AS d_minus_num
              FROM s CROSS JOIN t)
         SELECT n1, n2, d_plus_num, d_minus_num,
                CAST(d_plus_num + d_minus_num AS DOUBLE)
                  / CAST(n1 * n2 AS DOUBLE) AS v_stat
         FROM m""",

    // mirrors Stats.tukeyHsd: HUGEINT moments, per-group double
    // chains, group-ordered SSW fold, IEEE sqrt
    "x_tukey_hsd" ->
      """WITH f AS (SELECT o_orderpriority AS g,
                CAST(floor(o_totalprice * 100.0) AS BIGINT) AS x
              FROM orders
              WHERE o_orderpriority IS NOT NULL
                AND o_totalprice IS NOT NULL),
         grp AS (SELECT g, CAST(count(*) AS BIGINT) AS n_g,
                sum(CAST(x AS HUGEINT)) AS s_g,
                sum(CAST(x AS HUGEINT) * x) AS ss_g
              FROM f GROUP BY g),
         trm AS (SELECT g, n_g,
                CAST(CAST(ss_g AS VARCHAR) AS DOUBLE)
                  - CAST(CAST(s_g AS VARCHAR) AS DOUBLE)
                    * CAST(CAST(s_g AS VARCHAR) AS DOUBLE)
                    / CAST(n_g AS DOUBLE) AS ssw_g,
                CAST(CAST(s_g AS VARCHAR) AS DOUBLE)
                  / CAST(n_g AS DOUBLE) AS mean_g
              FROM grp),
         m AS (SELECT CAST(sum(n_g) AS BIGINT) AS n_tot,
                CAST(count(*) AS BIGINT) AS k_grp,
                list_sum(list(ssw_g ORDER BY g)) AS ssw FROM trm),
         m2 AS (SELECT ssw / CAST(n_tot - k_grp AS DOUBLE) AS msw FROM m),
         p AS (SELECT t1.g AS g1, t2.g AS g2, t1.n_g AS n1, t2.n_g AS n2,
                msw, t1.mean_g - t2.mean_g AS mean_diff,
                sqrt(msw / 2.0 * (1.0 / CAST(t1.n_g AS DOUBLE)
                  + 1.0 / CAST(t2.n_g AS DOUBLE))) AS se,
                t1.mean_g AS mean1, t2.mean_g AS mean2
              FROM trm t1 JOIN trm t2 ON t1.g < t2.g CROSS JOIN m2)
         SELECT g1, g2, n1, n2, msw, mean_diff, se,
                abs(mean1 - mean2) / se AS q_stat
         FROM p""",

    // mirrors Stats.cronbachAlpha: same item definitions, HUGEINT
    // moments, identical population-variance chains in item order
    "x_cronbach_alpha" ->
      """WITH f AS (SELECT
                CAST(length(text) AS BIGINT) AS i0,
                CAST(length(text) - length(replace(text, ' ', ''))
                  AS BIGINT) AS i1,
                CAST(length(text) - length(replace(text, '.', ''))
                  AS BIGINT) AS i2,
                CAST(length(text) - length(replace(text, ',', ''))
                  AS BIGINT) AS i3
              FROM documents WHERE text IS NOT NULL),
         f2 AS (SELECT *, i0 + i1 + i2 + i3 AS t FROM f),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                sum(CAST(i0 AS HUGEINT)) AS s0,
                sum(CAST(i0 AS HUGEINT) * i0) AS ss0,
                sum(CAST(i1 AS HUGEINT)) AS s1,
                sum(CAST(i1 AS HUGEINT) * i1) AS ss1,
                sum(CAST(i2 AS HUGEINT)) AS s2,
                sum(CAST(i2 AS HUGEINT) * i2) AS ss2,
                sum(CAST(i3 AS HUGEINT)) AS s3,
                sum(CAST(i3 AS HUGEINT) * i3) AS ss3,
                sum(CAST(t AS HUGEINT)) AS st,
                sum(CAST(t AS HUGEINT) * t) AS sst
              FROM f2),
         v AS (SELECT n,
                CAST(CAST(ss0 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(CAST(s0 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(CAST(s0 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
                + (CAST(CAST(ss1 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)))
                + (CAST(CAST(ss2 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)))
                + (CAST(CAST(ss3 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(CAST(s3 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(CAST(s3 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)))
                  AS sum_item_var,
                CAST(CAST(sst AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(CAST(st AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(CAST(st AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
                  AS var_total
              FROM a)
         SELECT n, CAST(4 AS BIGINT) AS k_items, sum_item_var, var_total,
                (4.0 / 3.0) * (1.0 - sum_item_var / var_total) AS alpha
         FROM v""",

    // mirrors Graphs.kTrussRounds: x_triangle_count's edge set, five
    // unrolled peel rounds, per-round surviving-edge counts
    "x_ktruss" -> {
      val roundsSql = (1 to 5).map(trussRoundSql(_, minSup = 1))
        .mkString(",\n         ")
      val counts = (1 to 5).map(r =>
        s"SELECT CAST($r AS BIGINT) AS peel_round, " +
          s"(SELECT CAST(count(*) AS BIGINT) FROM e$r) AS n_edges")
        .mkString(" UNION ALL ")
      s"""WITH pr AS (SELECT DISTINCT a.l_orderkey AS ok,
                            CAST(a.l_partkey AS BIGINT) AS pa,
                            CAST(b.l_partkey AS BIGINT) AS pb
                     FROM lineitem a JOIN lineitem b
                       ON a.l_orderkey = b.l_orderkey
                      AND a.l_partkey < b.l_partkey),
         e0 AS MATERIALIZED (SELECT pa AS a, pb AS b FROM pr
                GROUP BY pa, pb HAVING count(*) >= 2),
         $roundsSql
         $counts"""
    })
}
