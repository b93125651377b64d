package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Exact, Text}
import graft.operators.{Rank, Stats}
import graft.plans.CheckpointBlocks

/** Round-6 session-3 waves — forty-plus graded operators across six
  * families, every one with a bit-exact DuckDB oracle:
  *
  *  - distribution distance & drift: Wasserstein-1 pairs, QQ plot,
  *    PSI-adjacent diagnostics (Pettitt, Mann–Kendall, runs test,
  *    cross-correlation, dispersion index, PACF, t-closeness EMD)
  *  - ranking/eval: PR curve, gains/lift deciles, kappa, McNemar,
  *    Cochran's Q, classifier report card (MCC/F1/Youden), BLEU-2,
  *    ROUGE-L, Bradley–Terry arena ranking
  *  - sequence DP in one expression: DTW, two-state Viterbi bursts,
  *    Holt–Winters, LCS — each replayed as a recursive SQL CTE
  *  - parameter-bounded iterative fits: Shapley attribution,
  *    Fellegi–Sunter EM linkage, IPF raking, Bradley–Terry MM —
  *    all rounds run on ≤items² frames with localCheckpoint lineage
  *  - corpus/warehouse: n-gram novelty, EB shrinkage, COEC debias,
  *    ABC classes, apportionment, best-split stump, burstiness,
  *    late-arrival audit, modularity, portable HLL, AMS F2
  *  - experimentation: DID, Mantel–Haenszel, log-rank, Friedman,
  *    randomized response
  *
  * Oracle discipline (the repo's standing float rules): integer/cents
  * geometry with cross-multiplied compares wherever possible; one
  * string-mediated decimal→double hop for wide integers; single
  * divisions of exact operands; k-ordered folds for cross-row double
  * sums (engine `aggregate`+`sort_array`, oracle
  * `list_reduce([0.0] || list(x ORDER BY k))` — list_sum may
  * re-associate); SQL literal seeds always ::DOUBLE-cast (bare
  * literals parse as DECIMAL and multiply exactly). Rank spines run
  * on [[graft.operators.Rank]]'s distributed recipe — no
  * single-partition window over a data-sized spine (Wave10PlanSpec
  * pins this).
  */
object Ext7 extends QuerySet {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The five event types, sorted — the W1 pair grid is the sorted
    * upper triangle so engine and oracle enumerate identically. */
  private val eventTypes =
    Seq("click", "error", "purchase", "signup", "view")
  private val w1Pairs: Seq[(String, String)] =
    for { i <- eventTypes.indices; j <- (i + 1) until eventTypes.size }
      yield (eventTypes(i), eventTypes(j))

  /** DuckDB rendering of the en-stopword-marker count (shared token
    * semantics with [[Text.markerCount]]). */
  private def dMarker(vs: Seq[String]): String =
    s"len(list_filter(string_split(text, ' '), t -> t IN (${vs.map(v => s"'$v'").mkString(",")})))"

  /** DuckDB rendering of [[Text.langId]]'s CASE ladder (the x_lang_id
    * oracle's expression, reused as a rater here). */
  private def dLangId: String = {
    val m = Text.langMarkers.toMap
    s"""CASE WHEN length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g'))::DOUBLE
                  / greatest(length(text), 1) > 0.3 THEN 'zh'
             WHEN ${dMarker(m("es"))} > ${dMarker(m("en"))}
              AND ${dMarker(m("es"))} >= ${dMarker(m("fr"))}
              AND ${dMarker(m("es"))} >= ${dMarker(m("de"))} THEN 'es'
             WHEN ${dMarker(m("fr"))} > ${dMarker(m("en"))}
              AND ${dMarker(m("fr"))} > ${dMarker(m("es"))}
              AND ${dMarker(m("fr"))} >= ${dMarker(m("de"))} THEN 'fr'
             WHEN ${dMarker(m("de"))} > ${dMarker(m("en"))}
              AND ${dMarker(m("de"))} > ${dMarker(m("es"))}
              AND ${dMarker(m("de"))} > ${dMarker(m("fr"))} THEN 'de'
             ELSE 'en' END"""
  }

  /** Shapley attribution setup (Shapley 1953; Zhao, Mahboobi &
    * Moosavi 2018's coalition-rate estimator): the four touch
    * channels, sorted, bit i = position in this list; `purchase` is
    * the conversion event, never a channel. The coalition value
    * v(S) is the observed conversion rate of users whose touch set is
    * EXACTLY S (0 when unobserved), grounded at v(∅) = 0. */
  private val shapChannels = Seq("click", "error", "signup", "view")

  /** (channel, S-mask, S∪{i}-mask, weight |S|!·(n−1−|S|)!/n!) for every
    * channel i and S ⊆ N∖{i} — 32 literal rows shared verbatim (same
    * Double.toString rendering) by engine and oracle. */
  private val shapTerms: Seq[(String, Int, Int, Double)] = {
    def fact(k: Int): Long = (1 to k).map(_.toLong).product
    val n = shapChannels.size
    for {
      (c, i) <- shapChannels.zipWithIndex
      s <- 0 until (1 << n) if (s & (1 << i)) == 0
    } yield {
      val sz = Integer.bitCount(s)
      (c, s, s | (1 << i),
        fact(sz).toDouble * fact(n - 1 - sz).toDouble / fact(n).toDouble)
    }
  }

  /** Viterbi burst-model scores (integer-scaled log-likelihoods),
    * shared verbatim by engine and oracle: state 0 = quiet,
    * state 1 = burst; emission bins 0/1/2 = below/near/above the
    * global daily mean. */
  private val burstInit = Seq(0L, -20L)
  private val burstTrans = Seq(Seq(-1L, -40L), Seq(-30L, -5L))
  private val burstEmit = Seq(Seq(0L, -15L, -40L), Seq(-25L, -10L, -2L))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact Shapley-value channel attribution: one shuffle collapses
    // events to (user, coalition-bitmask, converted); coalitions
    // aggregate to ≤ 2⁴ rows, so the subset-enumeration joins (32
    // literal marginal-contribution terms × coalition rates) are
    // driver-free and broadcast-sized at ANY event volume. φ_c folds
    // its 8 weighted marginals in s_mask order (the pagerank ordered-
    // fold discipline), each a literal weight × one exact-count-rate
    // difference
    "x_shapley" -> ((s, d) => {
      import s.implicits._
      val ev = t(s, d, "events")
      val bitCols = shapChannels.zipWithIndex.map { case (c, i) =>
        max(when(col("event_type") === c, lit(1L << i)).otherwise(0L))
          .as(s"b$i")
      }
      val users = ev.groupBy("user_id")
        .agg(bitCols.head, (bitCols.tail :+
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("conv")): _*)
        .select(shapChannels.indices.map(i => col(s"b$i"))
          .reduce(_ + _).as("m"), col("conv"))
      val v = users.where(col("m") =!= 0L).groupBy("m")
        .agg(count(lit(1)).as("nu"), sum("conv").as("nc"))
        .select(col("m"),
          (col("nc").cast("double") / col("nu").cast("double")).as("v"))
      val terms = shapTerms
        .toDF("channel", "s_mask", "su_mask", "w")
        .withColumn("s_mask", col("s_mask").cast("long"))
        .withColumn("su_mask", col("su_mask").cast("long"))
      terms
        .join(broadcast(v).as("a"), col("s_mask") === col("a.m"), "left")
        .join(broadcast(v).as("b"), col("su_mask") === col("b.m"), "left")
        .select(col("channel"), col("s_mask"),
          (col("w") * (coalesce(col("b.v"), lit(0.0)) -
            coalesce(col("a.v"), lit(0.0)))).as("term"))
        .groupBy("channel")
        .agg(Exact.orderedSum(col("term"), col("s_mask")).as("phi"))
    }),

    // t-closeness privacy audit (Li, Li & Venkatasubramanian 2007):
    // per-QI-group EMD of the banded sensitive distribution against
    // the global one — 20 literal bands make every group's CDF a
    // 20-row PARTITIONED window (parameter-bounded, never data-sized),
    // cross-multiplied integer CDFs, one final division per group
    "x_t_closeness" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val bands = 20
      val c = t(s, d, "customer").select(
        col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"),
        least(lit(bands - 1L), greatest(lit(0L),
          floor((floor(col("c_acctbal") * lit(100.0)) + lit(100000.0)) /
            lit(55000.0)).cast("long"))).as("band"))
      val gb = c.groupBy("nk", "seg", "band").agg(count(lit(1)).as("cnt"))
      val grid = c.select("nk", "seg").distinct()
        .crossJoin(broadcast(
          c.sparkSession.range(0, bands).select(col("id").as("band"))))
        .join(gb, Seq("nk", "seg", "band"), "left")
        .select(col("nk"), col("seg"), col("band"),
          coalesce(col("cnt"), lit(0L)).as("cnt"))
      // global CDF on the 20-row band frame (parameter-bounded window)
      val wa = graft.operators.BoundedWindow.orderBy("band")
        .rowsBetween(Window.unboundedPreceding, 0)
      val globCum = c.sparkSession.range(0, bands)
        .select(col("id").as("band"))
        .join(c.groupBy("band").agg(count(lit(1)).as("gcnt")),
          Seq("band"), "left")
        .select(col("band"),
          sum(coalesce(col("gcnt"), lit(0L))).over(wa).as("ca"))
      val wg = Window.partitionBy("nk", "seg").orderBy("band")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wgAll = Window.partitionBy("nk", "seg")
      val tot = c.groupBy().agg(count(lit(1)).as("nall"))
      grid.withColumn("cg", sum("cnt").over(wg))
        .withColumn("ngrp", sum("cnt").over(wgAll))
        .join(broadcast(globCum), Seq("band"))
        .crossJoin(broadcast(tot))
        .where(col("band") < bands - 1)
        .groupBy("nk", "seg")
        .agg(max("ngrp").as("n"), max("nall").as("nall"),
          sum(abs(col("cg") * col("nall") - col("ca") * col("ngrp")))
            .as("t_num"))
        .select(col("nk"), col("seg"), col("n"),
          (col("t_num").cast("double") /
            (col("n") * col("nall") * lit(19L)).cast("double")).as("t"))
    }),

    // Chatterjee's ξ rank correlation (Chatterjee 2020) of event value
    // against arrival order — the modern dependence coefficient that
    // detects ANY functional relationship: max-ranks of y from the
    // distributed cum spine (ties = count ≤ y), adjacent rank jumps in
    // arrival order via the distributed lead, ξ = 1 − 3Σ|Δr|/(n²−1)
    // entirely in integers until two final ops
    "x_chatterjee_xi" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("event_id"),
        floor(col("value") * lit(100.0)).cast("long").as("y"))
      val spine = ev.groupBy("y").agg(count(lit(1)).as("c"))
      val ranks = Rank.withCumSums(spine, Seq("y"), Seq("c" -> "r"))
        .select(col("y"), col("r"))
      val seq0 = ev.join(ranks, Seq("y"))
      val led = Rank.withLead1(seq0, "event_id", "r", "r_next")
      val tot = ev.groupBy().agg(count(lit(1)).as("n"))
      led.where(col("r_next").isNotNull)
        .groupBy().agg(sum(abs(col("r_next") - col("r"))).as("s"))
        .crossJoin(broadcast(tot))
        .select(col("n"), col("s"),
          (lit(1.0) - (lit(3L) * col("s")).cast("double") /
            (col("n") * col("n") - 1L).cast("double")).as("xi"))
    }),

    // Blomqvist's β (median quadrant correlation) between quantity and
    // price: exact type-1 medians from two distributed spines,
    // quadrant concordance counts, one division
    "x_blomqvist" -> ((s, d) => {
      def idiv(a: Column, b: Column) = call_function("div", a, b)
      val li = t(s, d, "lineitem").select(
        floor(col("l_quantity")).cast("long").as("x"),
        floor(col("l_extendedprice") * lit(100.0)).cast("long").as("y"))
      val tot = li.groupBy().agg(count(lit(1)).as("n"))
      def med(c: String) = {
        val spine = li.groupBy(c).agg(count(lit(1)).as("cnt"))
        Rank.withCumSums(spine, Seq(c), Seq("cnt" -> "cc"))
          .crossJoin(broadcast(tot))
          .groupBy().agg(min(when(col("cc") >=
            idiv(col("n") + 1L, lit(2L)), col(c))).as(s"med_$c"))
      }
      li.crossJoin(broadcast(med("x"))).crossJoin(broadcast(med("y")))
        .crossJoin(broadcast(tot))
        .groupBy("n").agg(
          sum(when((col("x") > col("med_x")) === (col("y") > col("med_y")),
            1L).otherwise(-1L)).as("conc"))
        .select(col("n"), col("conc"),
          (col("conc").cast("double") / col("n").cast("double"))
            .as("beta"))
    }),

    // Palma inequality ratio of part revenues (top-10% share over
    // bottom-40% share — the concentration diagnostic next to
    // Gini/HHI): row-unique revenue spine (partkey tiebreak), TWO
    // distributed cum sums (count + revenue), integer rank cuts, one
    // division of exact cent sums
    "x_palma" -> ((s, d) => {
      def idiv(a: Column, b: Column) = call_function("div", a, b)
      val per = t(s, d, "lineitem").groupBy("l_partkey")
        .agg(sum(floor(col("l_extendedprice") * lit(100.0)).cast("long"))
          .as("rev"))
        .withColumn("one", lit(1L))
      val cum = Rank.withCumSums(per, Seq("rev", "l_partkey"),
        Seq("one" -> "rn", "rev" -> "crev"))
      val tot = per.groupBy().agg(count(lit(1)).as("n"),
        sum("rev").as("trev"))
      cum.crossJoin(broadcast(tot)).groupBy().agg(
          max(when(col("rn") <= idiv(lit(4L) * col("n"), lit(10L)),
            col("crev"))).as("b40"),
          max(when(col("rn") <= idiv(lit(9L) * col("n"), lit(10L)),
            col("crev"))).as("c90"),
          max("n").as("n"), max("trev").as("trev"))
        .select(col("n"), col("b40"),
          (col("trev") - col("c90")).as("top10"),
          when(col("b40") > 0L,
            (col("trev") - col("c90")).cast("double") /
              col("b40").cast("double"))
            .otherwise(lit(null).cast("double")).as("palma"))
    }),

    // Two-sample Cramér–von Mises statistic between click and
    // purchase values — the L² distribution distance completing the
    // trio with KS (L∞, x_ks_drift) and Wasserstein (L¹): per merged
    // observation (F1−F2)² via cross-multiplied integer ECDFs on the
    // distributed spine, T = Σ cnt·(c1·m − c2·n)² / (N²·n·m)
    "x_cramer_vm" -> ((s, d) => {
      val f = t(s, d, "events")
        .where(col("event_type").isin("click", "purchase"))
        .select(floor(col("value") * lit(100.0)).cast("long").as("v"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("a"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("b"))
      val perV = f.groupBy("v").agg(sum("a").as("a"), sum("b").as("b"))
      val cum = Rank.withCumSums(perV, Seq("v"),
        Seq("a" -> "c1", "b" -> "c2"))
      val tot = f.groupBy().agg(sum("a").as("n"), sum("b").as("m"))
      cum.crossJoin(broadcast(tot))
        .select(col("n"), col("m"),
          ((col("a") + col("b")).cast("decimal(38,0)") *
            ((col("c1") * col("m") - col("c2") * col("n")) *
              (col("c1") * col("m") - col("c2") * col("n")))
              .cast("decimal(38,0)")).as("term"))
        .groupBy("n", "m").agg(sum("term").as("num"))
        .select(col("n"), col("m"),
          (col("num").cast("string").cast("double") /
            (((col("n") + col("m")) * (col("n") + col("m")))
              .cast("double") * (col("n") * col("m")).cast("double")))
            .as("t_cvm"))
    }),

    // Exact skewness/kurtosis panel per event type: population central
    // moments from nᵏ-scaled INTEGER power sums (decimal(38,0)/HUGEINT
    // — S4 per-row terms already exceed int64), string-mediated
    // casts, then the two classic shape ratios with one sqrt
    "x_moments" -> ((s, d) => {
      val dec = "decimal(38,0)"
      def D(c: Column): Column = c.cast(dec)
      val f = t(s, d, "events").select(col("event_type"),
        floor(col("value") * lit(100.0)).cast("long").as("x"))
      val agg = f.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(D(col("x"))).as("s1"),
        sum(D(col("x") * col("x"))).as("s2"),
        sum(D(col("x") * col("x") * col("x"))).as("s3"),
        sum(D(col("x") * col("x")) * D(col("x") * col("x"))).as("s4"))
      def toD(c: Column): Column = c.cast("string").cast("double")
      val m2num = D(col("n")) * col("s2") - col("s1") * col("s1")
      val m3num = D(col("n")) * D(col("n")) * col("s3") -
        D(lit(3L)) * D(col("n")) * col("s1") * col("s2") +
        D(lit(2L)) * col("s1") * col("s1") * col("s1")
      val m4num = D(col("n")) * D(col("n")) * D(col("n")) * col("s4") -
        D(lit(4L)) * D(col("n")) * D(col("n")) * col("s1") * col("s3") +
        D(lit(6L)) * D(col("n")) * col("s1") * col("s1") * col("s2") -
        D(lit(3L)) * col("s1") * col("s1") * col("s1") * col("s1")
      agg.select(col("event_type"), col("n"),
          (toD(m2num) / (col("n") * col("n")).cast("double")).as("m2"),
          (toD(m3num) /
            (col("n") * col("n") * col("n")).cast("double")).as("m3"),
          (toD(m4num) / ((col("n") * col("n")) * (col("n") * col("n")))
            .cast("double")).as("m4"))
        .select(col("event_type"), col("n"),
          (col("m3") / (col("m2") * sqrt(col("m2")))).as("skewness"),
          (col("m4") / (col("m2") * col("m2")) - lit(3.0))
            .as("excess_kurtosis"))
    }),

    // Bowley quartile skewness of the event cents: exact type-1
    // quartiles from the distributed cum-count spine (the x_qq_plot
    // selection), one integer-derived division
    "x_bowley_skew" -> ((s, d) => {
      def idiv(a: Column, b: Column) = call_function("div", a, b)
      val f = t(s, d, "events")
        .select(floor(col("value") * lit(100.0)).cast("long").as("v"))
      val perV = f.groupBy("v").agg(count(lit(1)).as("c"))
      val cum = Rank.withCumSums(perV, Seq("v"), Seq("c" -> "cc"))
      val tot = f.groupBy().agg(count(lit(1)).as("n"))
      val q = cum.crossJoin(broadcast(tot)).groupBy().agg(
        min(when(col("cc") >= idiv(col("n") + 3L, lit(4L)), col("v")))
          .as("q1"),
        min(when(col("cc") >= idiv(col("n") + 1L, lit(2L)), col("v")))
          .as("q2"),
        min(when(col("cc") >= idiv(lit(3L) * col("n") + 3L, lit(4L)),
          col("v"))).as("q3"))
      q.select(col("q1"), col("q2"), col("q3"),
        when(col("q3") > col("q1"),
          (col("q3") + col("q1") - lit(2L) * col("q2")).cast("double") /
            (col("q3") - col("q1")).cast("double"))
          .otherwise(lit(null).cast("double")).as("bowley"))
    }),

    // Ljung–Box portmanteau test (lags 1–3) on the daily totals:
    // autocorrelations from the same n²-scaled INTEGER autocovariances
    // as x_pacf, the statistic a fixed-order 3-term chain
    // LB = n(n+2)·Σ r_k²/(n−k)
    "x_ljung_box" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(floor(col("value") * lit(100.0)).cast("long")).as("v"))
      val w = graft.operators.BoundedWindow.orderBy("day")
      val lagged = daily
        .withColumn("v1", lag(col("v"), 1).over(w))
        .withColumn("v2", lag(col("v"), 2).over(w))
        .withColumn("v3", lag(col("v"), 3).over(w))
      val agg = lagged.groupBy().agg(
        count(lit(1)).as("n"), sum("v").as("sv"),
        sum(col("v") * col("v")).as("sxx0"),
        sum(when(col("v1").isNotNull, col("v") * col("v1"))
          .otherwise(0L)).as("sxx1"),
        sum(when(col("v1").isNotNull, col("v")).otherwise(0L)).as("h1"),
        sum(when(col("v1").isNotNull, col("v1")).otherwise(0L)).as("t1"),
        sum(when(col("v2").isNotNull, col("v") * col("v2"))
          .otherwise(0L)).as("sxx2"),
        sum(when(col("v2").isNotNull, col("v")).otherwise(0L)).as("h2"),
        sum(when(col("v2").isNotNull, col("v2")).otherwise(0L)).as("t2"),
        sum(when(col("v3").isNotNull, col("v") * col("v3"))
          .otherwise(0L)).as("sxx3"),
        sum(when(col("v3").isNotNull, col("v")).otherwise(0L)).as("h3"),
        sum(when(col("v3").isNotNull, col("v3")).otherwise(0L)).as("t3"))
      val dec = "decimal(38,0)"
      def D(c: Column): Column = c.cast(dec)
      def ck2(k: Int): Column =
        if (k == 0)
          D(col("n")) * D(col("n")) * D(col("sxx0")) -
            D(col("n")) * D(col("sv")) * D(col("sv"))
        else
          D(col("n")) * D(col("n")) * D(col(s"sxx$k")) -
            D(col("n")) * D(col("sv")) * D(col(s"h$k") + col(s"t$k")) +
            D(col("n") - k) * D(col("sv")) * D(col("sv"))
      def toD(c: Column): Column = c.cast("string").cast("double")
      val rs = agg.select(col("n"),
        (toD(ck2(1)) / toD(ck2(0))).as("r1"),
        (toD(ck2(2)) / toD(ck2(0))).as("r2"),
        (toD(ck2(3)) / toD(ck2(0))).as("r3"))
      rs.select(col("n"), col("r1"), col("r2"), col("r3"),
        ((col("n") * (col("n") + 2)).cast("double") *
          (col("r1") * col("r1") / (col("n") - 1).cast("double") +
            col("r2") * col("r2") / (col("n") - 2).cast("double") +
            col("r3") * col("r3") / (col("n") - 3).cast("double")))
          .as("lb"))
    }),

    // Turning-points randomness check: local extrema of the daily
    // series counted over lag windows (calendar-bounded), with the
    // closed-form expectation 2(n−2)/3 and variance (16n−29)/90 as
    // exact rationals
    "x_turning_points" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(floor(col("value") * lit(100.0)).cast("long")).as("v"))
      val w = graft.operators.BoundedWindow.orderBy("day")
      val tri = daily
        .withColumn("vp", lag(col("v"), 1).over(w))
        .withColumn("vn", lead(col("v"), 1).over(w))
        .where(col("vp").isNotNull && col("vn").isNotNull)
      tri.groupBy().agg(
          (count(lit(1)) + 2L).as("n"),
          sum(when((col("v") > col("vp") && col("v") > col("vn")) ||
            (col("v") < col("vp") && col("v") < col("vn")), 1L)
            .otherwise(0L)).as("turns"))
        .select(col("n"), col("turns"),
          ((lit(2L) * (col("n") - 2)).cast("double") / lit(3.0))
            .as("expected"),
          ((lit(16L) * col("n") - 29L).cast("double") / lit(90.0))
            .as("variance"))
    }),

    // Von Neumann successive-difference ratio (the serial-correlation
    // screen): VN = Σd²/Σ(x−x̄)² = n·Σ(x_{t+1}−x_t)²/(n·Σx² − (Σx)²)
    // — both sides exact integer cross-products, ONE division; ≈2 for
    // white noise
    "x_von_neumann" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(floor(col("value") * lit(100.0)).cast("long")).as("v"))
      val w = graft.operators.BoundedWindow.orderBy("day")
      val lagd = daily.withColumn("vn", lead(col("v"), 1).over(w))
      val diffs = lagd.where(col("vn").isNotNull)
        .groupBy().agg(sum((col("vn") - col("v")) *
          (col("vn") - col("v"))).as("sd2"))
      val moms = daily.groupBy().agg(count(lit(1)).as("n"),
        sum("v").as("sv"), sum(col("v") * col("v")).as("sv2"))
      diffs.crossJoin(broadcast(moms))
        .select(col("n"), col("sd2"),
          (col("n") * col("sv2") - col("sv") * col("sv")).as("ss"),
          when(col("n") * col("sv2") - col("sv") * col("sv") > 0L,
            (col("n") * col("sd2")).cast("double") /
              (col("n") * col("sv2") - col("sv") * col("sv"))
                .cast("double"))
            .otherwise(lit(null).cast("double")).as("vn_ratio"))
    }),
    // series: template-match counts A (length-3) and B (length-2)
    // from the CALENDAR-bounded pair self-join with an integer
    // tolerance r = range/5, SampEn = −ln(A/B) via the portable ln on
    // the ≥1 inverted ratio — the regularity diagnostic for series
    "x_sample_entropy" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(floor(col("value") * lit(100.0)).cast("long")).as("v"))
      val w = graft.operators.BoundedWindow.orderBy("day")
      val tpl = daily
        .withColumn("v1", lead(col("v"), 1).over(w))
        .withColumn("v2", lead(col("v"), 2).over(w))
        .withColumn("i", row_number().over(w))
        .where(col("v2").isNotNull)
      val tol = daily.groupBy()
        .agg(call_function("div", max("v") - min("v"), lit(5L)).as("r"))
      val pairs = tpl.as("a").join(tpl.as("b"),
          col("a.i") < col("b.i"))
        .crossJoin(broadcast(tol))
        .select(
          (greatest(abs(col("a.v") - col("b.v")),
            abs(col("a.v1") - col("b.v1"))) <= col("r")).cast("long")
            .as("m2"),
          (greatest(abs(col("a.v") - col("b.v")),
            abs(col("a.v1") - col("b.v1")),
            abs(col("a.v2") - col("b.v2"))) <= col("r")).cast("long")
            .as("m3"))
      pairs.groupBy().agg(sum("m2").as("b"), sum("m3").as("a"))
        .crossJoin(broadcast(tol))
        .select(col("r"), col("b"), col("a"),
          when(col("a") > 0L && col("b") > 0L,
            graft.functions.Pmath.lnColumn(
              col("b").cast("double") / col("a").cast("double")))
            .otherwise(lit(null).cast("double")).as("sampen"))
    }),

    // Permutation entropy (Bandt & Pompe 2002, m=3): ordinal patterns
    // of consecutive day triples with a strict (value, position)
    // tie-break, pattern frequencies exact, H = Σ p·ln(N/c) via the
    // portable ln, folded in pattern order
    "x_perm_entropy" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(floor(col("value") * lit(100.0)).cast("long")).as("v"))
      val w = graft.operators.BoundedWindow.orderBy("day")
      val tri = daily
        .withColumn("v1", lead(col("v"), 1).over(w))
        .withColumn("v2", lead(col("v"), 2).over(w))
        .where(col("v2").isNotNull)
      // (value, position) tie-break: each compare runs earlier-to-later
      // position, so "earlier ranks first on ties" reduces to <=
      val pat = tri.select(
        (when(col("v") <= col("v1"), 1).otherwise(0) * 4 +
          when(col("v") <= col("v2"), 1).otherwise(0) * 2 +
          when(col("v1") <= col("v2"), 1).otherwise(0))
          .as("pattern"))
      val cnt = pat.groupBy("pattern").agg(count(lit(1)).as("c"))
      val tot = pat.groupBy().agg(count(lit(1)).as("n"))
      val terms = cnt.crossJoin(broadcast(tot))
        .select(col("pattern"), col("c"), col("n"),
          ((col("c").cast("double") / col("n").cast("double")) *
            graft.functions.Pmath.lnColumn(
              col("n").cast("double") / col("c").cast("double")))
            .as("term"))
      val h = terms.groupBy().agg(
        Exact.orderedSum(col("term"), col("pattern")).as("h"))
      terms.crossJoin(broadcast(h))
        .select(col("pattern"), col("c"),
          (col("c").cast("double") / col("n").cast("double")).as("p"),
          col("h"))
    }),

    // Mean-excess (EVT tail diagnostic next to the Hill index): for a
    // literal threshold grid, the average exceedance above u from
    // exact integer cent sums, one division per threshold
    "x_mean_excess" -> ((s, d) => {
      import s.implicits._
      val cents = t(s, d, "events")
        .select(floor(col("value") * lit(100.0)).cast("long").as("x"))
      val grid = Seq(10000L, 15000L, 20000L, 25000L, 30000L).toDF("u")
      cents.crossJoin(broadcast(grid))
        .where(col("x") > col("u"))
        .groupBy("u")
        .agg(count(lit(1)).as("n_exceed"),
          sum(col("x") - col("u")).as("sum_excess"))
        .select(col("u"), col("n_exceed"),
          ((col("sum_excess").cast("double") /
            col("n_exceed").cast("double")) / lit(100.0))
            .as("mean_excess"))
    }),

    // Linear-kernel MMD² between every pair of embedding label groups
    // — the EMBEDDING-space distribution distance next to the 1-D
    // Wasserstein: over SQ8-quantized codes the mean difference is
    // exact integer geometry, ||μa−μb||² = Σ_d(Sa·nb − Sb·na)²/(na·nb)²
    // with an integer numerator and one string-mediated final hop; all
    // 45 pairs come from the 10 label-sum vectors (labels×dim frame)
    "x_mmd_embed" -> ((s, d) => {
      val q = t(s, d, "embeddings").select(col("label"),
        graft.functions.Vectors.quantizeInt8(col("embedding")).as("q8"))
      val per = q.select(col("label"),
          posexplode(col("q8")).as(Seq("i", "c")))
        .groupBy("label", "i").agg(sum("c").as("sd"))
      val ns = q.groupBy("label").agg(count(lit(1)).as("n"))
      per.as("a").join(per.as("b"),
          col("a.i") === col("b.i") && col("a.label") < col("b.label"))
        .join(ns.select(col("label").as("la0"), col("n").as("na")),
          col("a.label") === col("la0"))
        .join(ns.select(col("label").as("lb0"), col("n").as("nb")),
          col("b.label") === col("lb0"))
        .select(col("a.label").as("la"), col("b.label").as("lb"),
          col("na"), col("nb"),
          ((col("a.sd") * col("nb") - col("b.sd") * col("na")) *
            (col("a.sd") * col("nb") - col("b.sd") * col("na")))
            .as("term"))
        .groupBy("la", "lb", "na", "nb")
        .agg(sum(col("term").cast("decimal(38,0)")).as("num"))
        .select(col("la"), col("lb"), col("na"), col("nb"),
          (col("num").cast("string").cast("double") /
            ((col("na").cast("double") * col("nb").cast("double")) *
              (col("na").cast("double") * col("nb").cast("double"))))
            .as("mmd2"))
    }),

    // Nelson–Aalen cumulative hazard of time-to-purchase (completes
    // the survival triple next to Kaplan–Meier and the log-rank
    // test): hour-binned durations make the event spine CALENDAR-
    // bounded, so the per-time d/n hazard increments fold exactly via
    // bounded slice-folds (one per output row), with the
    // Greenwood-style d/n² variance alongside
    "x_nelson_aalen" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val users = t(s, d, "events").groupBy("user_id").agg(
        min(unix_micros(col("ts"))).as("first_us"),
        min(when(col("event_type") === "purchase",
          unix_micros(col("ts")))).as("purch_us"),
        max(unix_micros(col("ts"))).as("last_us"))
      val per = users.select(
        expr("(coalesce(purch_us, last_us) - first_us) div 3600000000")
          .as("dur"),
        col("purch_us").isNotNull.cast("long").as("obs"))
      val spine = per.groupBy("dur")
        .agg(count(lit(1)).as("c"), sum("obs").as("d"))
      val wRev = graft.operators.BoundedWindow.orderBy("dur")
        .rowsBetween(0, Window.unboundedFollowing)
      val risk = spine.withColumn("n", sum("c").over(wRev))
        .where(col("d") > 0L)
      val packed = risk.groupBy().agg(
        sort_array(collect_list(struct(col("dur"), col("d"), col("n"))))
          .as("rows"))
      packed
        .select(posexplode(col("rows")).as(Seq("i0", "r")), col("rows"))
        .select(col("r.dur").as("dur"), col("r.d").as("d"),
          col("r.n").as("n_at_risk"),
          aggregate(slice(col("rows"), lit(1), col("i0") + 1), lit(0.0),
            (a, x) => a + x.getField("d").cast("double") /
              x.getField("n").cast("double")).as("h"),
          aggregate(slice(col("rows"), lit(1), col("i0") + 1), lit(0.0),
            (a, x) => a + x.getField("d").cast("double") /
              (x.getField("n") * x.getField("n")).cast("double"))
            .as("var_h"))
    }),

    // Late-arrival audit (the streaming watermark diagnostic run in
    // batch): treating event_id as arrival order, an event is LATE
    // when its event time sits more than 1 hour behind the strictly-
    // preceding arrival high-watermark — running max via the NEW
    // distributed Rank.withCumMax (associative max over range
    // partitions + broadcast prefix maxima), daily lateness counts
    "x_late_arrivals" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("event_id"),
        unix_seconds(date_trunc("second", col("ts"))).as("ts_s"),
        to_date(col("ts")).as("day"))
      val marked = Rank.withCumMax(ev, Seq("event_id"), "ts_s", "hwm",
        inclusive = false)
      marked
        .select(col("day"),
          (col("hwm").isNotNull &&
            col("ts_s") + lit(3600L) < col("hwm")).cast("long")
            .as("late"))
        .groupBy("day").agg(count(lit(1)).as("n"),
          sum("late").as("n_late"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n"), col("n_late"))
    }),

    // Index of dispersion (variance-to-mean) of daily counts per
    // event type — the Poisson overdispersion audit with the ratio
    // held as exact integer cross-products until ONE division:
    // VMR = (n·Σx² − (Σx)²) / ((n−1)·Σx)
    "x_dispersion" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      daily.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum(col("x") * col("x")).as("sx2"))
        .select(col("event_type"), col("n"), col("sx"),
          when(col("n") > 1L && col("sx") > 0L,
            (col("n") * col("sx2") - col("sx") * col("sx"))
              .cast("double") /
              ((col("n") - 1) * col("sx")).cast("double"))
            .otherwise(lit(null).cast("double")).as("vmr"))
    }),

    // Decision-stump split finder: the n_chars threshold minimizing
    // weighted Gini impurity for the en label — cumulative class
    // counts over the DISTRIBUTED distinct-value spine, impurity as a
    // fixed-order two-division chain, argmin via global min +
    // min-threshold tie-break (the Pettitt pattern, no ordered
    // single-partition window)
    "x_best_split" -> ((s, d) => {
      val f = t(s, d, "documents").select(col("n_chars").as("v"),
        when(col("lang") === "en", 1L).otherwise(0L).as("a"),
        when(col("lang") =!= "en", 1L).otherwise(0L).as("b"))
      val perV = f.groupBy("v").agg(sum("a").as("pa"), sum("b").as("pb"))
      val cum = Rank.withCumSums(perV, Seq("v"),
        Seq("pa" -> "ca", "pb" -> "cb"))
      val tot = f.groupBy().agg(sum("a").as("ta"), sum("b").as("tb"))
      val sc = cum.crossJoin(broadcast(tot))
        .select(col("v"), col("ca"), col("cb"),
          (col("ca") + col("cb")).as("nl"),
          (col("ta") - col("ca")).as("ra"),
          (col("tb") - col("cb")).as("rb"),
          (col("ta") + col("tb") - col("ca") - col("cb")).as("nr"))
        .select(col("v"),
          // guard INSIDE the expression: ANSI division-by-zero must be
          // unreachable even if the optimizer evaluates the projection
          // before the row filter
          when(col("nl") > 0L && col("nr") > 0L,
            ((col("nl") * col("nl") - col("ca") * col("ca") -
              col("cb") * col("cb")).cast("double") /
              col("nl").cast("double")) +
              ((col("nr") * col("nr") - col("ra") * col("ra") -
                col("rb") * col("rb")).cast("double") /
                col("nr").cast("double"))).as("imp"))
        .where(col("imp").isNotNull)
      val best = sc.groupBy().agg(min("imp").as("best_imp"))
      sc.crossJoin(broadcast(best))
        .where(col("imp") === col("best_imp"))
        .groupBy().agg(min("v").as("threshold"),
          max("best_imp").as("weighted_gini"))
    }),

    // Newman modularity of the LPA communities on the supplier–part
    // graph: Q = Σ_c(4m·e_c − d_c²)/(4m²) — intra-edge and degree
    // sums are one label join each, the numerator stays integer, and
    // the single division lands at the very end. Grades the QUALITY
    // of x_communities' clustering, not just its labels
    "x_modularity" -> ((s, d) => {
      val edgesRaw = t(s, d, "lineitem").select(
        concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
        concat(lit("p"), col("l_partkey").cast("string")).as("dst"))
      // dedupe the undirected edge set ONCE and cache it: the frame
      // feeds FOUR consumers (LPA's symmetrize, m, the intra-edge
      // census, the degree table) — without materialization each
      // re-scans lineitem and re-pays the distinct; LPA on the deduped
      // set propagates identical labels (same edge SET after its own
      // symmetrize+distinct). persist(), not an eager checkpoint
      // (round 16): LPA's hybrid-finish count() is an action anyway
      // and materializes this cache on the way — one fewer driver
      // action and block write
      val und = edgesRaw.where(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v")).distinct()
        .persist()
      val labels = graft.operators.Graphs.labelPropagation(
        und, "u", "v", rounds = 3)
      val mdf = und.groupBy().agg(count(lit(1)).as("m"))
      val ec = und
        .join(labels.select(col("id").as("u"), col("lbl").as("la")),
          Seq("u"))
        .join(labels.select(col("id").as("v"), col("lbl").as("lb")),
          Seq("v"))
        .where(col("la") === col("lb"))
        .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("ec"))
      val dc = und.select(col("u").as("id"))
        .unionAll(und.select(col("v").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
        .join(labels, Seq("id"))
        .groupBy("lbl").agg(sum("deg").as("dc"))
      dc.join(ec, Seq("lbl"), "left")
        .select(col("lbl"), coalesce(col("ec"), lit(0L)).as("ec"),
          col("dc"))
        .crossJoin(broadcast(mdf))
        .select((lit(4L) * col("m") * col("ec") -
          col("dc") * col("dc")).as("term"), col("m"))
        .groupBy().agg(count(lit(1)).as("n_comms"), max("m").as("m"),
          sum("term").as("q_num"))
        .select(col("n_comms"), col("m"), col("q_num"),
          (col("q_num").cast("double") /
            (lit(4L) * col("m") * col("m")).cast("double")).as("q"))
    }),

    // Cochran's Q across three binary en-detectors on the same docs
    // (the k-treatment McNemar): Q = (k−1)(k·ΣT_j² − S²)/(k·S − Σr_i²)
    // — entirely integer until one division
    "x_cochran_q" -> ((s, d) => {
      val m = Text.langMarkers.toMap
      val f = t(s, d, "documents").select(
        (Text.markerCount(col("text"), m("en")) >= 2).cast("long")
          .as("d1"),
        (Text.langId(col("text")) === "en").cast("long").as("d2"),
        (Text.nonAsciiRatio(col("text")) < 0.1).cast("long").as("d3"))
        .withColumn("r", col("d1") + col("d2") + col("d3"))
      f.groupBy().agg(count(lit(1)).as("n"),
          sum("d1").as("t1"), sum("d2").as("t2"), sum("d3").as("t3"),
          sum("r").as("ss"), sum(col("r") * col("r")).as("sr2"))
        .select(col("n"), col("t1"), col("t2"), col("t3"),
          when(lit(3L) * col("ss") - col("sr2") > 0L,
            (lit(2L) * (lit(3L) * (col("t1") * col("t1") +
              col("t2") * col("t2") + col("t3") * col("t3")) -
              col("ss") * col("ss"))).cast("double") /
              (lit(3L) * col("ss") - col("sr2")).cast("double"))
            .otherwise(lit(null).cast("double")).as("q"))
    }),

    // Binary-classifier report card for the stopword en-detector:
    // confusion cells, precision/recall/F1/specificity, Youden's J,
    // and Matthews correlation — exact integer cells, single
    // divisions, one IEEE sqrt for the MCC denominator
    "x_classifier_report" -> ((s, d) => {
      val m = Text.langMarkers.toMap
      val f = t(s, d, "documents").select(
        (Text.markerCount(col("text"), m("en")) >= 2).as("p"),
        (col("lang") === "en").as("y"))
      f.groupBy().agg(
          sum(when(col("p") && col("y"), 1L).otherwise(0L)).as("tp"),
          sum(when(col("p") && !col("y"), 1L).otherwise(0L)).as("fp"),
          sum(when(!col("p") && col("y"), 1L).otherwise(0L)).as("fn"),
          sum(when(!col("p") && !col("y"), 1L).otherwise(0L)).as("tn"))
        .select(col("tp"), col("fp"), col("fn"), col("tn"),
          (col("tp").cast("double") / (col("tp") + col("fp"))
            .cast("double")).as("precision"),
          (col("tp").cast("double") / (col("tp") + col("fn"))
            .cast("double")).as("recall"),
          ((lit(2L) * col("tp")).cast("double") /
            (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"))
            .as("f1"),
          (col("tp").cast("double") / (col("tp") + col("fn"))
            .cast("double") +
            col("tn").cast("double") / (col("tn") + col("fp"))
              .cast("double") - lit(1.0)).as("youden_j"),
          ((col("tp") * col("tn") - col("fp") * col("fn")).cast("double") /
            sqrt(((col("tp") + col("fp")) * (col("tp") + col("fn")))
              .cast("double") *
              ((col("tn") + col("fp")) * (col("tn") + col("fn")))
                .cast("double"))).as("mcc"))
    }),

    // IPF / raking (Deming & Stephan 1940): calibrate a one-third
    // sample's (lang, source) cell weights to the FULL corpus margins
    // by three unrolled row/column scaling rounds — every scale factor
    // is a single division, margin sums fold in key order, and all
    // frames are (langs × sources)-bounded; each round's checkpoint
    // keeps the referenced-twice lineage linear (the Bradley–Terry
    // lesson)
    "x_ipf_raking" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val rowT = docs.groupBy("lang").agg(count(lit(1)).as("rt"))
      val colT = docs.groupBy("source").agg(count(lit(1)).as("ct"))
      val seed = docs.where(col("doc_id") % 3 === 0)
        .groupBy("lang", "source").agg(count(lit(1)).as("n_sample"))
        .withColumn("w", col("n_sample").cast("double"))
      val (kept, _) = CheckpointBlocks.iterate("x_ipf_raking", seed, 3,
          CheckpointBlocks.Retain.Last) { live =>
        val w = live.head
        val rowS = w.groupBy("lang")
          .agg(Exact.orderedSum(col("w"), col("source")).as("rs"))
        val wr = w.join(rowS, Seq("lang")).join(broadcast(rowT), Seq("lang"))
          .select(col("lang"), col("source"), col("n_sample"),
            (col("w") * (col("rt").cast("double") / col("rs"))).as("w"))
        val colS = wr.groupBy("source")
          .agg(Exact.orderedSum(col("w"), col("lang")).as("cs"))
        wr.join(colS, Seq("source")).join(broadcast(colT), Seq("source"))
          .select(col("lang"), col("source"), col("n_sample"),
            (col("w") * (col("ct").cast("double") / col("cs"))).as("w"))
      }
      kept.head
    }),

    // ROUGE-L F1 between sampled docs and their same-source successor:
    // the LCS DP runs as ONE nested aggregate expression PER PAIR ROW
    // (parallel across pairs, like x_dtw's recurrence), and with β=1
    // the score collapses to 2·LCS/(len_c+len_r) — a single division
    // of exact integers, no ln anywhere
    "x_rouge_l" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      val wnd = Window.partitionBy("source").orderBy("doc_id")
      val pairs = docs.select(col("source"), col("doc_id"),
          col("text").as("ctext"),
          lead(col("doc_id"), 1).over(wnd).as("ref"),
          lead(col("text"), 1).over(wnd).as("rtext"))
        .where(col("ref").isNotNull && col("doc_id") % 10 === 0)
        .select(col("doc_id").as("cand"), col("ref"),
          split(col("ctext"), " ").as("ta"),
          split(col("rtext"), " ").as("tb"))
        // spread the pair rows before the O(|ta|·|tb|) LCS DP below:
        // the ~20-key source window collapses under AQE's bytes-based
        // coalescing to 1-2 tasks, serializing a DP that costs ~10⁵
        // ops/row; one row move is negligible against that at ANY
        // scale, so the explicit exchange is the honest plan shape
        .repartition(s.sparkContext.defaultParallelism)
      val row0 = transform(sequence(lit(0), size(col("tb"))), _ => lit(0L))
      val dp = aggregate(
        sequence(lit(1), size(col("ta"))),
        row0,
        (prev, i) => aggregate(
          sequence(lit(1), size(col("tb"))),
          array(lit(0L)),
          (acc, j) => concat(acc, array(
            when(element_at(col("ta"), i.cast("int")) ===
              element_at(col("tb"), j.cast("int")),
              element_at(prev, j.cast("int")) + 1L)
              .otherwise(greatest(element_at(prev, j.cast("int") + 1),
                element_at(acc, size(acc))))))))
      pairs.select(col("cand"), col("ref"),
          element_at(dp, size(col("tb")) + 1).as("lcs"),
          size(col("ta")).cast("long").as("lc"),
          size(col("tb")).cast("long").as("lr"))
        .select(col("cand"), col("ref"), col("lcs"), col("lc"),
          col("lr"),
          ((lit(2L) * col("lcs")).cast("double") /
            (col("lc") + col("lr")).cast("double")).as("rouge_l_f"))
    }),

    // Holt–Winters additive forecast of daily totals (period 7):
    // classic init, one aggregate() fold for the L/B/S recurrences,
    // one-step-ahead fitted values + residuals per post-warmup day
    "x_holt_winters" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(unix_seconds(date_trunc("day", col("ts"))).as("day_s"))
        .agg(sum(floor(col("value") * lit(100.0)).cast("long")).as("v"))
      graft.operators.Temporal.holtWintersAdditive(daily, "day_s", "v",
        alpha = 0.5, beta = 0.3, gamma = 0.2, period = 7)
    }),

    // Partial autocorrelation (lags 1–3) of the daily total series by
    // Durbin–Levinson closed forms: autocovariances are kept EXACT as
    // n²-scaled INTEGER sums (c_k·n² = n²·Σx_t·x_{t+k} − n·S·(H_k+T_k)
    // + (n−k)·S², every term a long), ratios r_k = ck2/c02 are single
    // divisions, and the φ recursion is a fixed-order double chain
    // mirrored verbatim in SQL
    "x_pacf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(floor(col("value") * lit(100.0)).cast("long")).as("v"))
      val w = graft.operators.BoundedWindow.orderBy("day")
      val lagged = daily
        .withColumn("v1", lag(col("v"), 1).over(w))
        .withColumn("v2", lag(col("v"), 2).over(w))
        .withColumn("v3", lag(col("v"), 3).over(w))
      val agg = lagged.groupBy().agg(
        count(lit(1)).as("n"), sum("v").as("sv"),
        sum(col("v") * col("v")).as("sxx0"),
        sum(when(col("v1").isNotNull, col("v") * col("v1"))
          .otherwise(0L)).as("sxx1"),
        sum(when(col("v1").isNotNull, col("v")).otherwise(0L)).as("h1"),
        sum(when(col("v1").isNotNull, col("v1")).otherwise(0L)).as("t1"),
        sum(when(col("v2").isNotNull, col("v") * col("v2"))
          .otherwise(0L)).as("sxx2"),
        sum(when(col("v2").isNotNull, col("v")).otherwise(0L)).as("h2"),
        sum(when(col("v2").isNotNull, col("v2")).otherwise(0L)).as("t2"),
        sum(when(col("v3").isNotNull, col("v") * col("v3"))
          .otherwise(0L)).as("sxx3"),
        sum(when(col("v3").isNotNull, col("v")).otherwise(0L)).as("h3"),
        sum(when(col("v3").isNotNull, col("v3")).otherwise(0L)).as("t3"))
      val dec = "decimal(38,0)"
      def D(c: Column): Column = c.cast(dec)
      def ck2(k: Int): Column =
        if (k == 0)
          D(col("n")) * D(col("n")) * D(col("sxx0")) -
            D(col("n")) * D(col("sv")) * D(col("sv"))
        else
          D(col("n")) * D(col("n")) * D(col(s"sxx$k")) -
            D(col("n")) * D(col("sv")) * D(col(s"h$k") + col(s"t$k")) +
            D(col("n") - k) * D(col("sv")) * D(col("sv"))
      def toD(c: Column): Column = c.cast("string").cast("double")
      val rs = agg.select(col("n"),
        (toD(ck2(1)) / toD(ck2(0))).as("r1"),
        (toD(ck2(2)) / toD(ck2(0))).as("r2"),
        (toD(ck2(3)) / toD(ck2(0))).as("r3"))
      rs.select(col("n"), col("r1"), col("r2"), col("r3"),
          col("r1").as("pacf1"),
          ((col("r2") - col("r1") * col("r1")) /
            (lit(1.0) - col("r1") * col("r1"))).as("pacf2"))
        .withColumn("phi21", col("r1") * (lit(1.0) - col("pacf2")))
        .withColumn("pacf3",
          (col("r3") - col("phi21") * col("r2") -
            col("pacf2") * col("r1")) /
            (lit(1.0) - col("phi21") * col("r1") -
              col("pacf2") * col("r2")))
        .select(col("n"), col("r1"), col("r2"), col("r3"),
          col("pacf1"), col("pacf2"), col("pacf3"))
    }),

    // BLEU-2 between adjacent same-source documents (the text-gen
    // eval metric as a corpus self-similarity probe): clipped n-gram
    // precisions from EXACT multiset counts (positional shingles ×
    // token-level equi-joins), brevity penalty in log form, log-BLEU
    // via the portable ln on the inverted ≥1 ratios
    "x_bleu2" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      val wnd = Window.partitionBy("source").orderBy("doc_id")
      val pairs = docs.select(col("doc_id").as("cand"),
          lead(col("doc_id"), 1).over(wnd).as("ref"))
        .where(col("ref").isNotNull)
      def counts(n: Int) = docs.select(col("doc_id"),
          Text.explodePositionalShingles(col("text"), n)
            .as(Seq("pos", "g")))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      def clipped(n: Int, sfx: String) = {
        val cnt = counts(n)
        pairs.join(cnt.as("cc"), col("cand") === col("cc.doc_id"))
          .join(cnt.as("rc"), col("ref") === col("rc.doc_id") &&
            col("cc.g") === col("rc.g"), "left")
          .groupBy(col("cand"), col("ref"))
          .agg(sum(least(col("cc.c"), coalesce(col("rc.c"), lit(0L))))
            .as(s"clip$sfx"),
            sum(col("cc.c")).as(s"tot$sfx"))
      }
      val lens = docs.select(col("doc_id"),
        Text.tokenCountWs(col("text")).cast("long").as("len"))
      val j = pairs.join(clipped(1, "1"), Seq("cand", "ref"))
        .join(clipped(2, "2"), Seq("cand", "ref"))
        .join(lens.select(col("doc_id").as("cand"),
          col("len").as("clen")), Seq("cand"))
        .join(lens.select(col("doc_id").as("ref"),
          col("len").as("rlen")), Seq("ref"))
      val logBp = least(lit(0.0), lit(1.0) -
        col("rlen").cast("double") / col("clen").cast("double"))
      val lnP1 = -graft.functions.Pmath.lnColumn(
        col("tot1").cast("double") / col("clip1").cast("double"))
      val lnP2 = -graft.functions.Pmath.lnColumn(
        col("tot2").cast("double") / col("clip2").cast("double"))
      j.select(col("cand"), col("ref"), col("clip1"), col("tot1"),
        col("clip2"), col("tot2"),
        when(col("clip1") > 0L && col("clip2") > 0L,
          logBp + lit(0.5) * (lnP1 + lnP2))
          .otherwise(lit(null).cast("double")).as("log_bleu"))
    }),

    // Pettitt nonparametric changepoint on the daily purchase series:
    // U_t over the CALENDAR-bounded ≤n² sign-pair frame, split point =
    // argmax |U_t| with a min-day tie-break — all integers
    "x_pettitt" -> ((s, d) => {
      val daily = t(s, d, "events")
        .where(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(floor(col("value") * lit(100.0)).cast("long")).as("v"))
      val pairs = daily.as("a").join(daily.as("b"),
          col("a.day") < col("b.day"))
        .select(col("a.day").as("di"), col("b.day").as("dj"),
          signum(col("a.v") - col("b.v")).cast("long").as("sg"))
      val ut = daily.select(col("day").as("t"))
        .join(pairs, col("di") <= col("t") && col("dj") > col("t"))
        .groupBy("t").agg(sum("sg").as("u"))
      val best = ut.groupBy().agg(max(abs(col("u"))).as("k"))
      ut.crossJoin(broadcast(best))
        .where(abs(col("u")) === col("k"))
        .groupBy().agg(min(col("t")).as("t_star"), max(col("k")).as("k"),
          min(when(abs(col("u")) === col("k"), col("u"))).as("u_at"))
        .select(date_format(col("t_star"), "yyyy-MM-dd").as("t_star"),
          col("k"), col("u_at"))
    }),

    // Mann–Kendall trend test on the same daily series: S from the
    // bounded sign-pair sum, tie-corrected variance kept as the
    // INTEGER numerator (18ths), z with one sqrt and fixed-order ops
    "x_mann_kendall" -> ((s, d) => {
      val daily = t(s, d, "events")
        .where(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(floor(col("value") * lit(100.0)).cast("long")).as("v"))
      val sAgg = daily.as("a").join(daily.as("b"),
          col("a.day") < col("b.day"))
        .groupBy().agg(sum(signum(col("b.v") - col("a.v")).cast("long"))
          .as("s"))
      val n = daily.groupBy().agg(count(lit(1)).as("n"))
      val ties = daily.groupBy("v").agg(count(lit(1)).as("tt"))
        .groupBy().agg(sum(col("tt") * (col("tt") - 1) *
          (lit(2L) * col("tt") + 5L)).as("tie_term"))
      sAgg.crossJoin(broadcast(n)).crossJoin(broadcast(ties))
        .select(col("n"), col("s"),
          (col("n") * (col("n") - 1) * (lit(2L) * col("n") + 5L) -
            col("tie_term")).as("var18"))
        .select(col("n"), col("s"), col("var18"),
          when(col("var18") > 0L,
            (col("s").cast("double") -
              signum(col("s").cast("double"))) /
              sqrt(col("var18").cast("double") / lit(18.0)))
            .otherwise(lit(null).cast("double")).as("z"))
    }),

    // Lead–lag cross-correlation of the click and purchase daily
    // series at lags −7..7: raw integer cent dot products per lag
    // (one calendar-bounded join per lag via a literal lag explode)
    "x_cross_corr" -> ((s, d) => {
      def ser(tp: String) = t(s, d, "events")
        .where(col("event_type") === tp)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(floor(col("value") * lit(100.0)).cast("long")).as("v"))
      val a = ser("click")
      val b = ser("purchase")
      a.select(col("day"), col("v").as("av"),
          explode(sequence(lit(-7), lit(7))).as("lag"))
        .join(b.select(col("day").as("bday"), col("v").as("bv")),
          expr("date_add(day, lag) = bday"))
        .groupBy("lag")
        .agg(count(lit(1)).as("n_overlap"),
          sum(col("av") * col("bv")).as("dot"))
    }),

    // Goh–Barabási burstiness per user over inter-event seconds:
    // B = (σ−μ)/(σ+μ) reduced to (√D − Σg)/(√D + Σg) with the
    // INTEGER discriminant D = n·Σg² − (Σg)² — one sqrt, one division
    "x_burstiness" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gaps = t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("gap",
          unix_seconds(date_trunc("second", col("ts"))) -
            unix_seconds(date_trunc("second", lag(col("ts"), 1).over(w))))
        .where(col("gap").isNotNull)
      gaps.groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("gap").as("sg"),
          sum(col("gap") * col("gap")).as("sg2"))
        .where(col("n") >= 2L)
        .select(col("user_id"), col("n"),
          when(col("n") * col("sg2") - col("sg") * col("sg") >= 0L,
            (sqrt((col("n") * col("sg2") - col("sg") * col("sg"))
              .cast("double")) - col("sg").cast("double")) /
              (sqrt((col("n") * col("sg2") - col("sg") * col("sg"))
                .cast("double")) + col("sg").cast("double")))
            .otherwise(lit(null).cast("double")).as("b"))
    }),

    // ABC (Pareto) part classification by revenue: cumulative revenue
    // share over the DISTRIBUTED descending spine (Rank.withCumSums,
    // revenue-desc + partkey tiebreak), class cuts as cross-multiplied
    // integer compares (cum·5 ≤ total·4 → A, cum·20 ≤ total·19 → B)
    "x_abc_analysis" -> ((s, d) => {
      val per = t(s, d, "lineitem").groupBy("l_partkey")
        .agg(sum(floor(col("l_extendedprice") * lit(100.0)).cast("long"))
          .as("rev"))
        .withColumn("_ord", -col("rev"))
      val cum = Rank.withCumSums(per, Seq("_ord", "l_partkey"),
        Seq("rev" -> "crev"))
      val tot = per.groupBy().agg(sum("rev").as("trev"))
      cum.crossJoin(broadcast(tot))
        .select(col("l_partkey"), col("rev"),
          when(col("crev") * 5 <= col("trev") * 4, "A")
            .when(col("crev") * 20 <= col("trev") * 19, "B")
            .otherwise("C").as("abc_class"))
    }),

    // Friedman blocked rank test: days are blocks, event types the
    // k=5 treatments, values daily cents totals; within-block average
    // ranks are kept EXACT as doubled ranks (2·rank = 2·#less +
    // #equal + 1, an integer from the ≤k² in-block self-join), and
    // the χ² assembles from k-ordered folds of exact dyadic R_j
    "x_friedman" -> ((s, d) => {
      val k = 5
      val per = t(s, d, "events")
        .groupBy(to_date(col("ts")).as("day"),
          col("event_type").as("tr"))
        .agg(sum(floor(col("value") * lit(100.0)).cast("long")).as("v"))
      val r2 = per.as("a").join(per.as("b"), col("a.day") === col("b.day"))
        .groupBy(col("a.day").as("day"), col("a.tr").as("tr"))
        .agg((sum(when(col("b.v") < col("a.v"), 2L)
          .when(col("b.v") === col("a.v"), 1L).otherwise(0L)) + 1L)
          .as("r2"))
      val sums = r2.groupBy("tr").agg(sum("r2").as("r2j"))
      val nb = per.groupBy()
        .agg(countDistinct(col("day")).cast("double").as("nb"))
      sums.groupBy().agg(
          Exact.orderedSum((col("r2j").cast("double") / lit(2.0)) *
            (col("r2j").cast("double") / lit(2.0)), col("tr")).as("s"))
        .crossJoin(broadcast(nb))
        .select(col("nb").cast("long").as("n_blocks"), col("s"),
          (lit(12.0) * col("s") /
            (col("nb") * lit(k.toDouble) * lit((k + 1).toDouble)) -
            lit(3.0) * col("nb") * lit((k + 1).toDouble)).as("chi2"))
    }),

    // Mantel–Haenszel common odds ratio across source strata
    // (exposure = above-median length by a literal cut, outcome = en):
    // per-stratum a·d/n and b·c/n are single divisions of exact
    // counts, the two totals fold in stratum order, one final division
    "x_mh_odds" -> ((s, d) => {
      val f = t(s, d, "documents").select(col("source"),
        (col("n_chars") >= 300L).cast("int").as("e"),
        (col("lang") === "en").cast("int").as("y"))
      val strata = f.groupBy("source").agg(
        sum(when(col("e") === 1 && col("y") === 1, 1L).otherwise(0L))
          .as("a"),
        sum(when(col("e") === 1 && col("y") === 0, 1L).otherwise(0L))
          .as("b"),
        sum(when(col("e") === 0 && col("y") === 1, 1L).otherwise(0L))
          .as("c"),
        sum(when(col("e") === 0 && col("y") === 0, 1L).otherwise(0L))
          .as("dd"))
        .withColumn("n", col("a") + col("b") + col("c") + col("dd"))
        .where(col("n") > 0L)
      strata.groupBy().agg(
          Exact.orderedSum((col("a") * col("dd")).cast("double") /
            col("n").cast("double"), col("source")).as("num"),
          Exact.orderedSum((col("b") * col("c")).cast("double") /
            col("n").cast("double"), col("source")).as("den"))
        .select(col("num"), col("den"),
          when(col("den") > 0.0, col("num") / col("den"))
            .otherwise(lit(null).cast("double")).as("or_mh"))
    }),

    // Wald–Wolfowitz runs test on the daily purchase-count series
    // (above/below the exact global mean via cross-multiplied integer
    // compares): runs counted with a lag over the CALENDAR-bounded
    // spine; expected runs = 1 + 2·n1·n2/n is exact-integer-derived
    "x_runs_test" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val daily = t(s, d, "events")
        .where(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val tot = daily.groupBy().agg(sum("cnt").as("tc"),
        count(lit(1)).as("nd"))
      val signed = daily.crossJoin(broadcast(tot))
        .select(col("day"),
          (col("cnt") * col("nd") >= col("tc")).cast("int").as("hi"))
      val w = graft.operators.BoundedWindow.orderBy("day")
      val runs = signed
        .withColumn("chg",
          when(lag(col("hi"), 1).over(w).isNull, 1)
            .when(lag(col("hi"), 1).over(w) =!= col("hi"), 1)
            .otherwise(0))
        .groupBy().agg(sum(col("chg")).as("runs"),
          sum(when(col("hi") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("hi") === 0, 1L).otherwise(0L)).as("n2"))
      runs.select(col("n1"), col("n2"), col("runs"),
        (lit(1.0) + lit(2.0) * (col("n1") * col("n2")).cast("double") /
          (col("n1") + col("n2")).cast("double")).as("expected_runs"))
    }),

    // Difference-in-differences on the even/odd user arms across the
    // month midpoint: four cell means of purchase cents (each ONE
    // division of exact integer sums), DID in fixed subtraction order
    "x_did" -> ((s, d) => {
      val ev = t(s, d, "events").where(col("event_type") === "purchase")
      val minDay = ev.groupBy().agg(min(to_date(col("ts"))).as("d0"))
      val cells = ev.crossJoin(broadcast(minDay))
        .select((col("user_id") % 2 === 0).cast("int").as("treat"),
          (datediff(to_date(col("ts")), col("d0")) >= 15).cast("int")
            .as("post"),
          floor(col("value") * lit(100.0)).cast("long").as("cents"))
        .groupBy("treat", "post")
        .agg(count(lit(1)).as("n"), sum("cents").as("sc"))
        .select(col("treat"), col("post"), col("n"),
          (col("sc").cast("double") / col("n").cast("double")).as("m"))
      val wide = cells.groupBy().agg(
        max(when(col("treat") === 1 && col("post") === 1, col("m")))
          .as("tp"),
        max(when(col("treat") === 1 && col("post") === 0, col("m")))
          .as("tr"),
        max(when(col("treat") === 0 && col("post") === 1, col("m")))
          .as("cp"),
        max(when(col("treat") === 0 && col("post") === 0, col("m")))
          .as("cr"))
      wide.select(col("tp"), col("tr"), col("cp"), col("cr"),
        ((col("tp") - col("tr")) - (col("cp") - col("cr"))).as("did"))
    }),

    // Hamilton largest-remainder apportionment of a literal sampling
    // budget across sources: integer quotas, floor allocations, and
    // the extra seats to the largest remainders with a deterministic
    // (remainder desc, source asc) tie-break — the exact way a
    // sampling job splits a row budget proportionally
    "x_apportion" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      def idiv(a: Column, b: Column) = call_function("div", a, b)
      val budget = 1000L
      val per = t(s, d, "documents").groupBy("source")
        .agg(count(lit(1)).as("n"))
      val tot = per.groupBy().agg(sum("n").as("nall"),
        count(lit(1)).as("k"))
      val q = per.crossJoin(broadcast(tot))
        .select(col("source"), col("n"),
          idiv(lit(budget) * col("n"), col("nall")).as("base"),
          ((lit(budget) * col("n")) % col("nall")).as("rem"),
          col("nall"))
      // source-domain-bounded window (≤ #sources rows)
      val w = graft.operators.BoundedWindow.orderBy(col("rem").desc, col("source").asc)
      val extra = q.crossJoin(broadcast(
          q.groupBy().agg((lit(budget) - sum("base")).as("extra"))))
        .withColumn("rk", row_number().over(w))
        .select(col("source"), col("n"),
          (col("base") + when(col("rk") <= col("extra"), 1L)
            .otherwise(0L)).as("alloc"))
      extra
    }),

    // Exact Kendall tau-b between quantity and price band from the
    // BOUNDED contingency grid (≤ 50×20 cells): concordant/discordant
    // pair counts are cell-product sums over the grid self-join, tie
    // terms come from the marginals, and the only irrational op is
    // one IEEE-exact sqrt — O(n) scan + parameter-bounded pair work,
    // never an O(n²) row join
    "x_kendall_tau" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(
        floor(col("l_quantity")).cast("long").as("x"),
        least(lit(19L), floor(floor(col("l_extendedprice") * lit(100.0)) /
          lit(500000.0)).cast("long")).as("y"))
      val grid = li.groupBy("x", "y").agg(count(lit(1)).as("c"))
      val pairs = grid.as("a").join(grid.as("b"),
          col("b.x") < col("a.x"))
        .groupBy().agg(
          sum(when(col("b.y") < col("a.y"),
            col("a.c") * col("b.c")).otherwise(0L)).as("conc"),
          sum(when(col("b.y") > col("a.y"),
            col("a.c") * col("b.c")).otherwise(0L)).as("disc"))
      val margs = li.groupBy().agg(count(lit(1)).as("n"))
      val tx = grid.groupBy("x").agg(sum("c").as("r"))
        .groupBy().agg(sum(col("r") * (col("r") - 1) / 2).as("n1"))
      val ty = grid.groupBy("y").agg(sum("c").as("r"))
        .groupBy().agg(sum(col("r") * (col("r") - 1) / 2).as("n2"))
      pairs.crossJoin(margs).crossJoin(tx).crossJoin(ty)
        .select(col("n"), col("conc"), col("disc"),
          ((col("conc") - col("disc")).cast("double") /
            sqrt((col("n") * (col("n") - 1) / 2 - col("n1"))
              .cast("double") *
              (col("n") * (col("n") - 1) / 2 - col("n2"))
                .cast("double"))).as("tau_b"))
    }),

    // Log-rank test between the even/odd user arms on day-binned
    // activity spans (observed = the user purchased): the duration
    // spine is CALENDAR-bounded, so at-risk reverse cumulatives and
    // the O/E/V folds all run over ≤ span-days rows; hypergeometric
    // variance terms use fixed-order double ops and one final division
    "x_logrank" -> ((s, d) => {
      val u = t(s, d, "events").groupBy("user_id").agg(
        datediff(max(to_date(col("ts"))), min(to_date(col("ts"))))
          .cast("long").as("dur"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("obs"))
        .withColumn("grp", (col("user_id") % 2 === 0).cast("int"))
      val per = u.groupBy("dur").agg(
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("e1"),
        sum(when(col("grp") === 0, 1L).otherwise(0L)).as("e2"),
        sum(when(col("grp") === 1 && col("obs") === 1L, 1L)
          .otherwise(0L)).as("d1"),
        sum(when(col("grp") === 0 && col("obs") === 1L, 1L)
          .otherwise(0L)).as("d2"))
      // at-risk = users with duration >= t: reverse cumulative over the
      // calendar-bounded spine (single bounded window)
      val w = graft.operators.BoundedWindow.orderBy("dur")
        .rowsBetween(0, org.apache.spark.sql.expressions.Window
          .unboundedFollowing)
      val risk = per
        .withColumn("n1", sum("e1").over(w))
        .withColumn("n2", sum("e2").over(w))
        .where(col("d1") + col("d2") > 0L)
      val terms = risk.select(col("dur"),
        (col("d1") + col("d2")).cast("double").as("dt"),
        col("n1").cast("double").as("n1d"),
        (col("n1") + col("n2")).cast("double").as("nt"),
        col("d1").cast("double").as("o1t"))
        .select(col("dur"), col("o1t"),
          (col("dt") * (col("n1d") / col("nt"))).as("e1t"),
          when(col("nt") > 1.0,
            col("dt") * (col("n1d") / col("nt")) *
              (lit(1.0) - col("n1d") / col("nt")) *
              ((col("nt") - col("dt")) / (col("nt") - lit(1.0))))
            .otherwise(lit(0.0)).as("vt"))
      terms.groupBy().agg(Exact.orderedSum(col("o1t"), col("dur")).as("o1"),
          Exact.orderedSum(col("e1t"), col("dur")).as("e1"),
          Exact.orderedSum(col("vt"), col("dur")).as("v"))
        .select(col("o1"), col("e1"), col("v"),
          when(col("v") > 0.0,
            ((col("o1") - col("e1")) * (col("o1") - col("e1"))) /
              col("v")).otherwise(lit(null).cast("double")).as("chi2"))
    }),

    // Simpson's-paradox audit: sign of the quantity–price association
    // per return-flag group vs pooled, entirely in integer
    // cross-products (S = n·Σxy − Σx·Σy over cents) — the aggregation
    // sanity check every per-segment report should run before
    // publishing a pooled trend
    "x_simpsons_flag" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(col("l_returnflag").as("g"),
        floor(col("l_quantity")).cast("long").as("x"),
        floor(col("l_extendedprice") * lit(100.0)).cast("long").as("y"))
      val per = li.groupBy("g").agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"))
      val tot = per.groupBy().agg(sum("n").as("nn"), sum("sx").as("tx"),
        sum("sy").as("ty"), sum("sxy").as("txy"))
      def sgn(c: Column): Column =
        when(c > 0, 1).when(c < 0, -1).otherwise(0)
      per.crossJoin(broadcast(tot))
        .select(col("g"), col("n"),
          sgn(col("n").cast("decimal(38,0)") * col("sxy") -
            col("sx") * col("sy")).as("sign_group"),
          sgn(col("nn").cast("decimal(38,0)") * col("txy") -
            col("tx") * col("ty")).as("sign_all"))
        .withColumn("reversal", col("sign_group") =!= col("sign_all"))
    }),

    // Portable HLL distinct rollup: per-source register sets AND the
    // bucket-wise-max union estimate replay bit-exactly (md5 buckets,
    // bin()-length rho, dyadic-exact 2^-M sums, portable-ln linear
    // counting) — the exact-oracle twin of the rows-only Datasketches
    // x_hll_rollup
    "x_hll_portable" -> ((s, d) =>
      graft.operators.Sketches.hllPortable(
        t(s, d, "documents"), "source", col("text"))),

    // AMS second frequency moment (Alon–Matias–Szegedy 1996): 16
    // md5-signed ±1 sketches of the token frequency vector; every Z_s
    // and the Σ Z² average are INTEGER-exact, reported against the
    // exact F2 — the self-join-size estimator entirely in one pass
    "x_ams_f2" -> ((s, d) => {
      val tok = t(s, d, "documents")
        .select(explode(Text.tokens(col("text"))).as("t"))
        .groupBy("t").agg(count(lit(1)).as("f"))
      val exact = tok.groupBy().agg(sum(col("f") * col("f")).as("f2_exact"))
      val ams = tok
        .select(explode(sequence(lit(0), lit(15))).as("s"), col("t"),
          col("f"))
        .withColumn("sgn",
          when(conv(substring(md5(concat(col("s").cast("string"),
            lit("|"), col("t"))), 1, 4), 16, 10).cast("long") % 2 === 0,
            1L).otherwise(-1L))
        .groupBy("s").agg(sum(col("sgn") * col("f")).as("z"))
        .groupBy().agg((sum(col("z") * col("z")).cast("double") /
          lit(16.0)).as("f2_ams"))
      exact.crossJoin(ams)
    }),

    // COEC position-bias correction (clicks over expected clicks, the
    // click-model debias ranker-training pipelines apply before
    // learning from logged clicks): slot priors are global exact-count
    // CTRs, each item's expected clicks fold its ≤10 slot terms in
    // slot order, and the final COEC is one division
    "x_coec_debias" -> ((s, d) => {
      val ev = t(s, d, "events").select(
        (get_json_object(col("props"), "$.k").cast("long") % 10)
          .as("slot"),
        (col("user_id") % 50).as("item"),
        when(col("event_type") === "click", 1L).otherwise(0L).as("c"),
        when(col("event_type") === "view", 1L).otherwise(0L).as("v"))
        .where(col("c") === 1L || col("v") === 1L)
      val prior = ev.groupBy("slot")
        .agg(sum("c").as("cs"), sum("v").as("vs"))
        .where(col("vs") > 0L)
        .select(col("slot"),
          (col("cs").cast("double") / col("vs").cast("double"))
            .as("prior"))
      val per = ev.groupBy("item", "slot")
        .agg(sum("c").as("ci"), sum("v").as("vi"))
      per.join(broadcast(prior), Seq("slot"))
        .withColumn("exp_c", col("vi").cast("double") * col("prior"))
        .groupBy("item")
        .agg(sum("ci").as("clicks"),
          Exact.orderedSum(col("exp_c"), col("slot")).as("expected"))
        .select(col("item"), col("clicks"), col("expected"),
          when(col("expected") > 0.0,
            col("clicks").cast("double") / col("expected"))
            .otherwise(lit(null).cast("double")).as("coec"))
    }),

    // Bradley–Terry arena ranking of the five language corpora by
    // pairwise doc-length wins: ALL 20 directed strict-win counts come
    // from ONE distinct-length spine (per-lang counts × strict-below
    // cumulatives — the Mann–Whitney identity), then three unrolled
    // MM rounds on the 20-row pair frame
    "x_bradley_terry" -> ((s, d) => {
      val langs = Seq("de", "en", "es", "fr", "zh")
      val f = t(s, d, "documents")
        .select(col("n_chars").as("v"), col("lang").as("g"))
      val aCols = langs.map(g =>
        sum(when(col("g") === g, 1L).otherwise(0L)).as(s"a_$g"))
      val perV = f.groupBy("v").agg(aCols.head, aCols.tail: _*)
      val cum = Rank.withCumSums(perV, Seq("v"),
        langs.map(g => s"a_$g" -> s"c_$g"), inclusive = false)
      val wins = cum.select(explode(array(
          (for { a <- langs; b <- langs if a != b } yield
            struct(lit(a).as("i"), lit(b).as("j"),
              (col(s"a_$a") * col(s"c_$b")).as("w"))): _*)).as("p"))
        .select(col("p.i"), col("p.j"), col("p.w"))
        .groupBy("i", "j").agg(sum("w").as("w"))
      Stats.bradleyTerry(wins, iters = 3)
        .select(col("i").as("lang"), col("theta"), col("p"))
    }),

    // Local-DP randomized response over the is-English bit: every doc
    // reports truthfully with probability 3/4 (md5-seeded integer
    // coin — exactly replayable), and the debiased estimate inverts
    // the known flip rate: est = (rate − 1/4)/(1/2)
    "x_rand_response" -> ((s, d) => {
      val truth = (col("lang") === "en").cast("long")
      val keep = expr(
        "conv(substring(md5(cast(doc_id as string)), 1, 4), 16, 10)")
        .cast("long") % 4 < 3
      val rep = when(keep, truth).otherwise(lit(1L) - truth)
      t(s, d, "documents")
        .select(truth.as("t"), rep.as("r"))
        .groupBy().agg(count(lit(1)).as("n"), sum("t").as("k_true"),
          sum("r").as("k_reported"))
        .select(col("n"), col("k_true"), col("k_reported"),
          (((col("k_reported").cast("double") / col("n").cast("double")) -
            lit(0.25)) / lit(0.5)).as("est"))
    }),

    // Two-state Viterbi burst decoding of the daily error-count
    // series: scale-free integer binning (cross-multiplied
    // count-vs-mean compares), integer-scaled log-scores, and the
    // calendar-bounded DP of Temporal.viterbiTwoState; the oracle
    // replays the decode as a recursive CTE carrying both state
    // scores and both argmax paths
    "x_burst_states" -> ((s, d) => {
      val daily = t(s, d, "events").where(col("event_type") === "error")
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val tot = daily.groupBy().agg(sum("cnt").as("tot"),
        count(lit(1)).as("nd"))
      val binned = daily.crossJoin(broadcast(tot)).select(
        unix_seconds(col("day")).as("day_s"),
        when(col("cnt") * 4 * col("nd") < col("tot") * 3, 0)
          .when(col("cnt") * 4 * col("nd") > col("tot") * 5, 2)
          .otherwise(1).as("bin"))
      graft.operators.Temporal.viterbiTwoState(binned, "day_s", "bin",
        burstInit, burstTrans, burstEmit)
    }),

    // Fellegi–Sunter probabilistic record linkage: candidate pairs
    // blocked on (nation, segment), 3-bit field-agreement vectors
    // (balance within $1000, same phone tail, comment length within
    // 20), aggregated ONCE to ≤8 pattern counts; three EM rounds of
    // the two-class Bernoulli mixture run entirely on that
    // parameter-bounded frame and replay as unrolled SQL CTEs
    "x_fellegi_sunter" -> ((s, d) => {
      val c = t(s, d, "customer").select(col("c_custkey").as("id"),
        col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"),
        floor(col("c_acctbal") * lit(100.0)).cast("long").as("bal"),
        call_function("right", col("c_name"), lit(2)).as("n2"))
      val p = c.as("a").join(c.as("b"),
          col("a.nk") === col("b.nk") && col("a.id") < col("b.id"))
        .select(
          (col("a.seg") === col("b.seg")).cast("int").as("d1"),
          (abs(col("a.bal") - col("b.bal")) <= 100000L).cast("int")
            .as("d2"),
          (col("a.n2") === col("b.n2")).cast("int").as("d3"))
      graft.operators.Resolve.fellegiSunterEm(p)
    }),

    // QQ plot between the click and purchase value distributions:
    // exact type-1 order statistics at the 19 vigintile fractions for
    // BOTH groups from ONE distinct-cents spine — rank targets are
    // exact integer ceilings (r = ⌈q·n⌉ via (q_num·n + 19) div 20),
    // and each quantile is min(v | cum ≥ r), an aggregate over the
    // broadcast-fraction cross join; no per-group sort, no
    // single-partition window
    "x_qq_plot" -> ((s, d) => {
      import s.implicits._
      def idiv(a: Column, b: Column) = call_function("div", a, b)
      val f = t(s, d, "events")
        .where(col("event_type").isin("click", "purchase"))
        .select(floor(col("value") * lit(100.0)).cast("long").as("v"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("a"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("b"))
      val perV = f.groupBy("v").agg(sum("a").as("a"), sum("b").as("b"))
      val cum = Rank.withCumSums(perV, Seq("v"),
        Seq("a" -> "ca", "b" -> "cb"))
      val tot = f.groupBy().agg(sum("a").as("na"), sum("b").as("nb"))
      val qs = (1L to 19L).toDF("qn")
      cum.crossJoin(broadcast(tot)).crossJoin(broadcast(qs))
        .groupBy("qn").agg(
          min(when(col("ca") >=
            idiv(col("qn") * col("na") + lit(19L), lit(20L)), col("v")))
            .as("va"),
          min(when(col("cb") >=
            idiv(col("qn") * col("nb") + lit(19L), lit(20L)), col("v")))
            .as("vb"))
        .select((col("qn").cast("double") / lit(20.0)).as("q"),
          col("va"), col("vb"))
    }),

    // Decile gains/lift table of the engagement-score ranking (summed
    // view+click cents per user) against purchase response: deciles
    // from the DISTRIBUTED row-number spine + Rank.ntileCol (proven ≡
    // SQL ntile by x_rfm_segments), then a 10-row bounded cumulative
    // window; rate/gain/lift are single divisions of exact counts
    "x_gains_curve" -> ((s, d) => {
      val per = t(s, d, "events").groupBy("user_id").agg(
        sum(when(col("event_type").isin("view", "click"),
          floor(col("value") * lit(100.0)).cast("long")).otherwise(0L))
          .as("score"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("resp"))
      val rn = Rank.withRowNumber(per.withColumn("_ord", -col("score")),
        Seq("_ord", "user_id"), "rn")
      val n = per.groupBy().agg(count(lit(1)).as("n_all"),
        sum("resp").as("r_all"))
      val dec = rn.crossJoin(broadcast(n))
        .withColumn("decile", Rank.ntileCol(col("rn"), col("n_all"), 10))
        .groupBy("decile").agg(count(lit(1)).as("n"),
          sum("resp").as("responders"),
          max("n_all").as("n_all"), max("r_all").as("r_all"))
      val w = graft.operators.BoundedWindow.orderBy("decile")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      dec.withColumn("cum_resp", sum("responders").over(w))
        .select(col("decile"), col("n"), col("responders"),
          (col("responders").cast("double") / col("n").cast("double"))
            .as("rate"),
          (col("cum_resp").cast("double") / col("r_all").cast("double"))
            .as("cum_gain"),
          ((col("responders").cast("double") / col("n").cast("double")) /
            (col("r_all").cast("double") / col("n_all").cast("double")))
            .as("lift"))
    }),

    // Flesch reading-ease from structural counts only (words,
    // [.!?]+ sentence runs, vowel-group syllables — RE2∩Java-safe
    // classes), literal coefficients, fixed-order arithmetic
    "x_readability" -> ((s, d) => {
      val txt = col("text")
      val words = greatest(size(split(txt, " ")), lit(1)).cast("long")
      val sents = greatest(regexp_count(txt, lit("[.!?]+")), lit(1))
        .cast("long")
      val sylls = regexp_count(txt, lit("[aeiouyAEIOUY]+")).cast("long")
      t(s, d, "documents").select(col("doc_id"),
        words.as("n_words"), sents.as("n_sentences"),
        sylls.as("n_syllables"),
        (lit(206.835) -
          lit(1.015) * (words.cast("double") / sents.cast("double")) -
          lit(84.6) * (sylls.cast("double") / words.cast("double")))
          .as("flesch"))
    }),

    // Empirical-Bayes rate shrinkage: per-source en-rate pulled toward
    // the global rate with a literal pseudo-count of 10 —
    // shrunk = (k + 10·μ)/(n + 10), μ the exact global ratio. The
    // low-volume-source CTR-smoothing recipe; every double op is a
    // fixed-order single operation on exact counts
    "x_eb_shrinkage" -> ((s, d) => {
      val per = t(s, d, "documents").groupBy("source").agg(
        count(lit(1)).as("n"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("k"))
      val g = per.groupBy().agg(sum("k").as("kg"), sum("n").as("ng"))
      per.crossJoin(broadcast(g))
        .select(col("source"), col("n"), col("k"),
          (col("k").cast("double") / col("n").cast("double")).as("rate"),
          ((col("k").cast("double") + lit(10.0) *
            (col("kg").cast("double") / col("ng").cast("double"))) /
            (col("n").cast("double") + lit(10.0))).as("shrunk"))
    }),

    // Exact DTW between the daily click and purchase cents series:
    // row-scale work is the two per-day aggregations; the O(days²) DP
    // runs in one nested aggregate() HOF over the CALENDAR-bounded
    // arrays and replays as the oracle's recursive CTE over the same
    // integer recurrence
    "x_dtw" -> ((s, d) => {
      val ev = t(s, d, "events")
      def ser(tp: String) = ev.where(col("event_type") === tp)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(sum(floor(col("value") * lit(100.0)).cast("long")).as("v"))
      graft.operators.Temporal.dtwDistance(
          ser("click"), ser("purchase"), "day", "v")
        .select(col("la"), col("lb"), col("dtw").as("dtw_cents"),
          (col("dtw").cast("double") / lit(100.0)).as("dtw"))
    }),

    // Per-document 5-gram novelty (the arrival-order memorization
    // curve): which fraction of a doc's distinct shingles is FIRST
    // seen in that doc (owner = min doc_id per fingerprint). Two hash
    // aggregates + one fingerprint equi-join — no windows, no
    // all-pairs; the Lee-et-al dup-span measurement's set-level
    // complement
    "x_ngram_novelty" -> ((s, d) => {
      val sh = t(s, d, "documents")
        .select(col("doc_id"),
          Text.explodeWordShingles(col("text"), 5).as("sh"))
        .select(col("doc_id"), md5(col("sh")).as("fp")).distinct()
      val owner = sh.groupBy("fp").agg(min("doc_id").as("first_doc"))
      sh.join(owner, Seq("fp"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          (col("n_novel").cast("double") / col("n_grams").cast("double"))
            .as("novelty"))
    }),

    // Exact W1 between every pair of event-type value distributions:
    // ONE distinct-cents spine carries all five ECDFs (5 cum-sums in
    // one distributed rank pass), one distributed lead supplies the
    // interval widths, and the 10 pair totals are exact integer sums
    "x_wasserstein" -> ((s, d) =>
      Stats.wassersteinPairs(t(s, d, "events"), "event_type",
        floor(col("value") * lit(100.0)).cast("long"), w1Pairs)
        .orderBy("g_a", "g_b")),

    // Full precision/recall operating curve of the en-stopword-count
    // scorer against the en label, one row per distinct threshold
    // (predict positive at score ≥ t): cumulative counts over the
    // DESCENDING score spine via the distributed rank, ratios as
    // single divisions of exact counts
    "x_pr_curve" -> ((s, d) => {
      val m = Text.langMarkers.toMap
      val sc = t(s, d, "documents").select(
        Text.markerCount(col("text"), m("en")).cast("long").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      val perS = sc.groupBy("score")
        .agg(count(lit(1)).as("cnt"), sum("pos").as("p"))
        .withColumn("_ord", -col("score"))
      val cum = Rank.withCumSums(perS, Seq("_ord"),
        Seq("cnt" -> "k", "p" -> "tp"))
      val tot = sc.groupBy().agg(sum("pos").as("p_all"))
      cum.crossJoin(broadcast(tot))
        .select(col("score").as("threshold"), col("k"), col("tp"),
          (col("tp").cast("double") / col("k").cast("double"))
            .as("precision"),
          (col("tp").cast("double") / col("p_all").cast("double"))
            .as("recall"))
    }),

    // Cohen's kappa between the language-ID heuristic and the stored
    // label: kappa = (n·agree − Σ_c r_truth·r_pred)/(n² − Σ_c …) —
    // chance agreement from the exact marginal products (full-outer
    // class join, absent classes contribute 0), one final division.
    // Class-marginal frames are |lang-domain|-bounded, so the join is
    // broadcast-sized at any corpus scale; the counts are longs (exact
    // to 2^53 in the final double hop — beyond that, swap the last
    // cast for the string-mediated decimal recipe)
    "x_cohens_kappa" -> ((s, d) => {
      val pr = t(s, d, "documents").select(col("lang").as("truth"),
        Text.langId(col("text")).as("pred"))
      val na = pr.groupBy().agg(count(lit(1)).as("n"),
        sum(when(col("truth") === col("pred"), 1L).otherwise(0L))
          .as("agree"))
      val tc = pr.groupBy(col("truth").as("cls"))
        .agg(count(lit(1)).as("rt"))
      val pc = pr.groupBy(col("pred").as("cls"))
        .agg(count(lit(1)).as("rp"))
      val pe = tc.join(pc, Seq("cls"), "full_outer")
        .agg(sum(coalesce(col("rt"), lit(0L)) *
          coalesce(col("rp"), lit(0L))).as("pe_num"))
      na.crossJoin(pe).select(col("n"), col("agree"), col("pe_num"),
        ((col("n") * col("agree") - col("pe_num")).cast("double") /
          (col("n") * col("n") - col("pe_num")).cast("double"))
          .as("kappa"))
    }),

    // McNemar's paired test between two en-detectors (stopword-count
    // ≥ 2 vs the full language-ID ladder) on the en label: b/c are the
    // discordant-error counts, the statistic (b−c)²/(b+c) one exact
    // integer square over one division (NULL when never discordant)
    "x_mcnemar" -> ((s, d) => {
      val m = Text.langMarkers.toMap
      val f = t(s, d, "documents").select(
        (Text.markerCount(col("text"), m("en")) >= 2).as("pa"),
        (Text.langId(col("text")) === "en").as("pb"),
        (col("lang") === "en").as("y"))
      f.groupBy().agg(
          sum(when(col("pa") === col("y") && col("pb") =!= col("y"), 1L)
            .otherwise(0L)).as("b"),
          sum(when(col("pa") =!= col("y") && col("pb") === col("y"), 1L)
            .otherwise(0L)).as("c"))
        .select(col("b"), col("c"),
          when(col("b") + col("c") === 0L, lit(null).cast("double"))
            .otherwise(
              ((col("b") - col("c")) * (col("b") - col("c")))
                .cast("double") /
                (col("b") + col("c")).cast("double")).as("chi2"))
    }))

  val oracle: Map[String, String] = Map(

    "x_shapley" -> {
      val maskExpr = shapChannels.zipWithIndex.map { case (c, i) =>
        s"max(CASE WHEN event_type = '$c' THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      val values = shapTerms.map { case (c, sm, su, w) =>
        s"('$c', $sm, $su, ${w.toString})"
      }.mkString(", ")
      s"""WITH pres AS (SELECT user_id, $maskExpr AS m,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
           FROM events GROUP BY 1),
         v AS (SELECT m, sum(conv)::DOUBLE / count(*)::DOUBLE AS v
               FROM pres WHERE m <> 0 GROUP BY 1),
         terms(channel, s_mask, su_mask, w) AS (VALUES $values),
         tj AS (SELECT channel, s_mask,
                  w * (coalesce(b.v, 0.0) - coalesce(a.v, 0.0)) AS term
                FROM terms
                LEFT JOIN v a ON terms.s_mask = a.m
                LEFT JOIN v b ON terms.su_mask = b.m)
         SELECT channel, list_sum(list(term ORDER BY s_mask)) AS phi
         FROM tj GROUP BY 1"""
    },

    "x_t_closeness" ->
      """WITH c AS (SELECT c_nationkey AS nk, c_mktsegment AS seg,
             least(19, greatest(0, CAST(floor(
               (floor(c_acctbal*100.0) + 100000.0) / 55000.0)
               AS BIGINT))) AS band
           FROM customer),
         gb AS (SELECT nk, seg, band, count(*) AS cnt
                FROM c GROUP BY 1, 2, 3),
         grid AS (SELECT q.nk, q.seg, b.band, coalesce(gb.cnt, 0) AS cnt
                  FROM (SELECT DISTINCT nk, seg FROM c) q
                  CROSS JOIN (SELECT unnest(range(0, 20)) AS band) b
                  LEFT JOIN gb ON gb.nk = q.nk AND gb.seg = q.seg
                    AND gb.band = b.band),
         globcum AS (SELECT b.band,
                       sum(coalesce(g.gcnt, 0)) OVER (ORDER BY b.band
                         ROWS UNBOUNDED PRECEDING) AS ca
                     FROM (SELECT unnest(range(0, 20)) AS band) b
                     LEFT JOIN (SELECT band, count(*) AS gcnt FROM c
                                GROUP BY 1) g ON g.band = b.band),
         tot AS (SELECT count(*) AS nall FROM c),
         st AS (SELECT grid.nk, grid.seg, grid.band, cnt,
                  sum(cnt) OVER (PARTITION BY grid.nk, grid.seg
                    ORDER BY grid.band ROWS UNBOUNDED PRECEDING) AS cg,
                  sum(cnt) OVER (PARTITION BY grid.nk, grid.seg) AS ngrp,
                  ca
                FROM grid JOIN globcum ON grid.band = globcum.band)
         SELECT nk, seg, CAST(max(ngrp) AS BIGINT) AS n,
                sum(abs(cg * nall - ca * ngrp))::DOUBLE /
                  (max(ngrp) * max(nall) * 19)::DOUBLE AS t
         FROM st, tot WHERE band < 19 GROUP BY 1, 2""",

    "x_chatterjee_xi" ->
      """WITH ev AS (SELECT event_id,
             CAST(floor(value*100.0) AS BIGINT) AS y
           FROM events),
         spine AS (SELECT y, count(*) AS c FROM ev GROUP BY 1),
         ranks AS (SELECT y, sum(c) OVER (ORDER BY y
                     ROWS UNBOUNDED PRECEDING) AS r
                   FROM spine),
         sq AS (SELECT ev.event_id, ranks.r
                FROM ev JOIN ranks ON ev.y = ranks.y),
         led AS (SELECT r, lead(r) OVER (ORDER BY event_id) AS r_next
                 FROM sq),
         tot AS (SELECT count(*) AS n FROM ev),
         ag AS (SELECT sum(abs(r_next - r)) AS s FROM led
                WHERE r_next IS NOT NULL)
         SELECT CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS s,
                1.0 - (3*s)::DOUBLE / (n*n - 1)::DOUBLE AS xi
         FROM ag, tot""",

    "x_blomqvist" ->
      """WITH li AS (SELECT CAST(floor(l_quantity) AS BIGINT) AS x,
             CAST(floor(l_extendedprice*100.0) AS BIGINT) AS y
           FROM lineitem),
         tot AS (SELECT count(*) AS n FROM li),
         mx AS (SELECT min(CASE WHEN cc >= (n+1) // 2 THEN x END)
                  AS med_x
                FROM (SELECT x, sum(cnt) OVER (ORDER BY x
                        ROWS UNBOUNDED PRECEDING) AS cc
                      FROM (SELECT x, count(*) AS cnt FROM li
                            GROUP BY 1)), tot),
         my AS (SELECT min(CASE WHEN cc >= (n+1) // 2 THEN y END)
                  AS med_y
                FROM (SELECT y, sum(cnt) OVER (ORDER BY y
                        ROWS UNBOUNDED PRECEDING) AS cc
                      FROM (SELECT y, count(*) AS cnt FROM li
                            GROUP BY 1)), tot),
         ag AS (SELECT n,
                  sum(CASE WHEN (x > med_x) = (y > med_y)
                      THEN 1 ELSE -1 END) AS conc
                FROM li, mx, my, tot GROUP BY 1)
         SELECT CAST(n AS BIGINT) AS n, CAST(conc AS BIGINT) AS conc,
                conc::DOUBLE / n::DOUBLE AS beta
         FROM ag""",

    "x_palma" ->
      """WITH per AS (SELECT l_partkey,
             sum(CAST(floor(l_extendedprice*100.0) AS BIGINT)) AS rev
           FROM lineitem GROUP BY 1),
         cum AS (SELECT l_partkey, rev,
                   row_number() OVER (ORDER BY rev, l_partkey) AS rn,
                   sum(rev) OVER (ORDER BY rev, l_partkey
                     ROWS UNBOUNDED PRECEDING) AS crev
                 FROM per),
         tot AS (SELECT count(*) AS n, sum(rev) AS trev FROM per),
         ag AS (SELECT
             max(CASE WHEN rn <= (4*n) // 10 THEN crev END) AS b40,
             max(CASE WHEN rn <= (9*n) // 10 THEN crev END) AS c90,
             max(n) AS n, max(trev) AS trev
           FROM cum, tot)
         SELECT CAST(n AS BIGINT) AS n, CAST(b40 AS BIGINT) AS b40,
                CAST(trev - c90 AS BIGINT) AS top10,
                CASE WHEN b40 > 0 THEN
                  (trev - c90)::DOUBLE / b40::DOUBLE
                ELSE NULL END AS palma
         FROM ag""",

    "x_cramer_vm" ->
      """WITH f AS (SELECT CAST(floor(value*100.0) AS BIGINT) AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS b
           FROM events WHERE event_type IN ('click', 'purchase')),
         perv AS (SELECT v, sum(a) AS a, sum(b) AS b FROM f GROUP BY 1),
         cum AS (SELECT v, a, b, sum(a) OVER w AS c1, sum(b) OVER w AS c2
                 FROM perv
                 WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
         tot AS (SELECT sum(a) AS n, sum(b) AS m FROM f),
         ag AS (SELECT n, m,
                  sum((a + b)::HUGEINT *
                    ((c1*m - c2*n) * (c1*m - c2*n))::HUGEINT) AS num
                FROM cum, tot GROUP BY 1, 2)
         SELECT CAST(n AS BIGINT) AS n, CAST(m AS BIGINT) AS m,
                CAST(CAST(num AS VARCHAR) AS DOUBLE) /
                  (((n + m) * (n + m))::DOUBLE * (n * m)::DOUBLE)
                  AS t_cvm
         FROM ag""",

    "x_moments" ->
      """WITH f AS (SELECT event_type,
             CAST(floor(value*100.0) AS BIGINT) AS x
           FROM events),
         ag AS (SELECT event_type, count(*) AS n,
                  sum(x::HUGEINT) AS s1,
                  sum((x*x)::HUGEINT) AS s2,
                  sum((x*x*x)::HUGEINT) AS s3,
                  sum((x*x)::HUGEINT * (x*x)) AS s4
                FROM f GROUP BY 1),
         m AS (SELECT event_type, n,
             CAST(CAST(n*s2 - s1*s1 AS VARCHAR) AS DOUBLE)
               / (n*n)::DOUBLE AS m2,
             CAST(CAST(n*n*s3 - 3*n*s1*s2 + 2*s1*s1*s1 AS VARCHAR)
               AS DOUBLE) / (n*n*n)::DOUBLE AS m3,
             CAST(CAST(n*n*n*s4 - 4*n*n*s1*s3 + 6*n*s1*s1*s2
               - 3*s1*s1*s1*s1 AS VARCHAR) AS DOUBLE)
               / ((n*n)*(n*n))::DOUBLE AS m4
           FROM ag)
         SELECT event_type, CAST(n AS BIGINT) AS n,
                m3 / (m2 * sqrt(m2)) AS skewness,
                m4 / (m2 * m2) - 3.0 AS excess_kurtosis
         FROM m""",

    "x_bowley_skew" ->
      """WITH f AS (SELECT CAST(floor(value*100.0) AS BIGINT) AS v
                    FROM events),
         perv AS (SELECT v, count(*) AS c FROM f GROUP BY 1),
         cum AS (SELECT v, sum(c) OVER (ORDER BY v
                   ROWS UNBOUNDED PRECEDING) AS cc
                 FROM perv),
         tot AS (SELECT count(*) AS n FROM f),
         q AS (SELECT
             min(CASE WHEN cc >= (n+3) // 4 THEN v END) AS q1,
             min(CASE WHEN cc >= (n+1) // 2 THEN v END) AS q2,
             min(CASE WHEN cc >= (3*n+3) // 4 THEN v END) AS q3
           FROM cum, tot)
         SELECT CAST(q1 AS BIGINT) AS q1, CAST(q2 AS BIGINT) AS q2,
                CAST(q3 AS BIGINT) AS q3,
                CASE WHEN q3 > q1 THEN
                  (q3 + q1 - 2*q2)::DOUBLE / (q3 - q1)::DOUBLE
                ELSE NULL END AS bowley
         FROM q""",

    "x_ljung_box" -> {
      def ck2(k: Int): String =
        if (k == 0) "n*n*sxx0 - n*sv*sv"
        else s"n*n*sxx$k - n*sv*(h$k+t$k) + (n-$k)*sv*sv"
      def r(k: Int): String =
        s"CAST(CAST(${ck2(k)} AS VARCHAR) AS DOUBLE) / CAST(CAST(${ck2(0)} AS VARCHAR) AS DOUBLE)"
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day,
             sum(CAST(floor(value*100.0) AS BIGINT)) AS v
           FROM events GROUP BY 1),
         lg AS (SELECT v, lag(v, 1) OVER (ORDER BY day) AS v1,
                  lag(v, 2) OVER (ORDER BY day) AS v2,
                  lag(v, 3) OVER (ORDER BY day) AS v3
                FROM daily),
         ag AS (SELECT count(*) AS n, sum(v) AS sv, sum(v*v) AS sxx0,
             sum(CASE WHEN v1 IS NOT NULL THEN v*v1 ELSE 0 END) AS sxx1,
             sum(CASE WHEN v1 IS NOT NULL THEN v ELSE 0 END) AS h1,
             sum(CASE WHEN v1 IS NOT NULL THEN v1 ELSE 0 END) AS t1,
             sum(CASE WHEN v2 IS NOT NULL THEN v*v2 ELSE 0 END) AS sxx2,
             sum(CASE WHEN v2 IS NOT NULL THEN v ELSE 0 END) AS h2,
             sum(CASE WHEN v2 IS NOT NULL THEN v2 ELSE 0 END) AS t2,
             sum(CASE WHEN v3 IS NOT NULL THEN v*v3 ELSE 0 END) AS sxx3,
             sum(CASE WHEN v3 IS NOT NULL THEN v ELSE 0 END) AS h3,
             sum(CASE WHEN v3 IS NOT NULL THEN v3 ELSE 0 END) AS t3
           FROM lg),
         rr AS (SELECT CAST(n AS BIGINT) AS n, ${r(1)} AS r1,
                  ${r(2)} AS r2, ${r(3)} AS r3
                FROM ag)
         SELECT n, r1, r2, r3,
                (n * (n + 2))::DOUBLE *
                  (r1 * r1 / (n - 1)::DOUBLE +
                   r2 * r2 / (n - 2)::DOUBLE +
                   r3 * r3 / (n - 3)::DOUBLE) AS lb
         FROM rr"""
    },

    "x_turning_points" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
             sum(CAST(floor(value*100.0) AS BIGINT)) AS v
           FROM events GROUP BY 1),
         tri AS (SELECT v, lag(v) OVER (ORDER BY day) AS vp,
                   lead(v) OVER (ORDER BY day) AS vn
                 FROM daily),
         t2 AS (SELECT * FROM tri
                WHERE vp IS NOT NULL AND vn IS NOT NULL),
         ag AS (SELECT count(*) + 2 AS n,
                  sum(CASE WHEN (v > vp AND v > vn)
                        OR (v < vp AND v < vn)
                      THEN 1 ELSE 0 END) AS turns
                FROM t2)
         SELECT CAST(n AS BIGINT) AS n, CAST(turns AS BIGINT) AS turns,
                (2 * (n - 2))::DOUBLE / 3.0 AS expected,
                (16 * n - 29)::DOUBLE / 90.0 AS variance
         FROM ag""",

    "x_von_neumann" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
             sum(CAST(floor(value*100.0) AS BIGINT)) AS v
           FROM events GROUP BY 1),
         lagd AS (SELECT v, lead(v) OVER (ORDER BY day) AS vn
                  FROM daily),
         diffs AS (SELECT sum((vn - v) * (vn - v)) AS sd2
                   FROM lagd WHERE vn IS NOT NULL),
         moms AS (SELECT count(*) AS n, sum(v) AS sv,
                    sum(v*v) AS sv2
                  FROM daily)
         SELECT CAST(n AS BIGINT) AS n, CAST(sd2 AS BIGINT) AS sd2,
                CAST(n*sv2 - sv*sv AS BIGINT) AS ss,
                CASE WHEN n*sv2 - sv*sv > 0 THEN
                  (n*sd2)::DOUBLE / (n*sv2 - sv*sv)::DOUBLE
                ELSE NULL END AS vn_ratio
         FROM diffs, moms""",

    "x_sample_entropy" -> {
      val (l1, l2, l3) = graft.functions.Pmath.lnSqlCtes("lnin", "lnx")
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day,
             sum(CAST(floor(value*100.0) AS BIGINT)) AS v
           FROM events GROUP BY 1),
         tpl AS (SELECT v, lead(v, 1) OVER (ORDER BY day) AS v1,
                   lead(v, 2) OVER (ORDER BY day) AS v2,
                   row_number() OVER (ORDER BY day) AS i
                 FROM daily),
         t2 AS (SELECT * FROM tpl WHERE v2 IS NOT NULL),
         tol AS (SELECT (max(v) - min(v)) // 5 AS r FROM daily),
         p AS (SELECT
             CASE WHEN greatest(abs(a.v - b.v), abs(a.v1 - b.v1)) <= r
               THEN 1 ELSE 0 END AS m2,
             CASE WHEN greatest(abs(a.v - b.v), abs(a.v1 - b.v1),
                 abs(a.v2 - b.v2)) <= r
               THEN 1 ELSE 0 END AS m3
           FROM t2 a JOIN t2 b ON a.i < b.i, tol),
         ag AS (SELECT sum(m2) AS bb, sum(m3) AS aa FROM p),
         j AS (SELECT r, bb, aa,
                 CAST(CASE WHEN aa > 0 AND bb > 0
                   THEN bb::DOUBLE / aa::DOUBLE ELSE 1.0 END AS DOUBLE)
                   AS lnin
               FROM ag, tol),
         pb AS (SELECT *, $l1 FROM j),
         pc AS (SELECT *, $l2 FROM pb),
         pd AS (SELECT *, $l3 FROM pc)
         SELECT CAST(r AS BIGINT) AS r, CAST(bb AS BIGINT) AS b,
                CAST(aa AS BIGINT) AS a,
                CASE WHEN aa > 0 AND bb > 0 THEN lnx ELSE NULL END
                  AS sampen
         FROM pd"""
    },

    "x_perm_entropy" -> {
      val (ctes, last) = graft.functions.Pmath.lnSqlChainCtes("t0", "pe",
        Seq(("n::DOUBLE / c::DOUBLE", "lnx")), Seq("pattern", "c", "n"))
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day,
             sum(CAST(floor(value*100.0) AS BIGINT)) AS v
           FROM events GROUP BY 1),
         tri AS (SELECT v, lead(v, 1) OVER (ORDER BY day) AS v1,
                   lead(v, 2) OVER (ORDER BY day) AS v2
                 FROM daily),
         t2 AS (SELECT * FROM tri WHERE v2 IS NOT NULL),
         pat AS (SELECT
             (CASE WHEN v <= v1 THEN 1 ELSE 0 END) * 4 +
             (CASE WHEN v <= v2 THEN 1 ELSE 0 END) * 2 +
             (CASE WHEN v1 <= v2 THEN 1 ELSE 0 END) AS pattern
           FROM t2),
         cnt AS (SELECT pattern, count(*) AS c FROM pat GROUP BY 1),
         tot AS (SELECT count(*) AS n FROM pat),
         t0 AS (SELECT pattern, c, n FROM cnt, tot),
         $ctes,
         tm AS (SELECT pattern, c, n,
                  (c::DOUBLE / n::DOUBLE) * lnx AS term
                FROM $last),
         h AS (SELECT list_reduce([0.0] || list(term ORDER BY pattern),
                 (a, v) -> a + v) AS h
               FROM tm)
         SELECT pattern, CAST(c AS BIGINT) AS c,
                c::DOUBLE / n::DOUBLE AS p, h
         FROM tm, h"""
    },

    "x_mean_excess" ->
      """WITH cents AS (SELECT CAST(floor(value*100.0) AS BIGINT) AS x
                        FROM events),
         grid AS (SELECT unnest([10000, 15000, 20000, 25000, 30000])
                    AS u)
         SELECT CAST(u AS BIGINT) AS u,
                CAST(count(*) AS BIGINT) AS n_exceed,
                (sum(x - u)::DOUBLE / count(*)::DOUBLE) / 100.0
                  AS mean_excess
         FROM cents, grid WHERE x > u GROUP BY u""",

    "x_mmd_embed" ->
      """WITH e AS (SELECT label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         s AS (SELECT label, v,
                 coalesce(list_max(list_transform(v, x -> abs(x))), 0.0)
                   / 127.0 AS scale
               FROM e),
         q AS (SELECT label,
                 CASE WHEN scale = 0
                   THEN list_transform(v, x -> 0)
                   ELSE list_transform(v, x ->
                     CAST(floor(x / scale + 0.5) AS INTEGER))
                 END AS q8
               FROM s),
         per AS (SELECT label, i, sum(q8[CAST(i AS INTEGER)]) AS sd
                 FROM q, (SELECT unnest(range(1, 65)) AS i)
                 GROUP BY 1, 2),
         ns AS (SELECT label, count(*) AS n FROM q GROUP BY 1),
         pr AS (SELECT a.label AS la, b.label AS lb,
                  na.n AS na, nb.n AS nb,
                  sum((a.sd * nb.n - b.sd * na.n) *
                      (a.sd * nb.n - b.sd * na.n)) AS num
                FROM per a JOIN per b
                  ON a.i = b.i AND a.label < b.label
                JOIN ns na ON a.label = na.label
                JOIN ns nb ON b.label = nb.label
                GROUP BY 1, 2, 3, 4)
         SELECT la, lb, CAST(na AS BIGINT) AS na,
                CAST(nb AS BIGINT) AS nb,
                CAST(CAST(num AS VARCHAR) AS DOUBLE) /
                  ((na::DOUBLE * nb::DOUBLE) *
                   (na::DOUBLE * nb::DOUBLE)) AS mmd2
         FROM pr""",

    "x_nelson_aalen" ->
      """WITH users AS (SELECT user_id, min(epoch_us(ts)) AS first_us,
             min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               AS purch_us,
             max(epoch_us(ts)) AS last_us
           FROM events GROUP BY 1),
         per AS (SELECT
             (coalesce(purch_us, last_us) - first_us) // 3600000000
               AS dur,
             CASE WHEN purch_us IS NOT NULL THEN 1 ELSE 0 END AS obs
           FROM users),
         spine AS (SELECT dur, count(*) AS c, sum(obs) AS d
                   FROM per GROUP BY 1),
         risk AS (SELECT dur, d,
                    sum(c) OVER (ORDER BY dur ROWS BETWEEN CURRENT ROW
                      AND UNBOUNDED FOLLOWING) AS n
                  FROM spine),
         rr AS (SELECT list(struct_pack(dur := dur, d := d, n := n)
                  ORDER BY dur) AS rows
                FROM risk WHERE d > 0),
         ex AS (SELECT unnest(rows) AS r,
                  generate_subscripts(rows, 1) AS i
                FROM rr)
         SELECT CAST(r['dur'] AS BIGINT) AS dur,
                CAST(r['d'] AS BIGINT) AS d,
                CAST(r['n'] AS BIGINT) AS n_at_risk,
                list_reduce([0.0] || list_transform(list_slice(rows, 1, i),
                  x -> x['d']::DOUBLE / x['n']::DOUBLE),
                  (a, v) -> a + v) AS h,
                list_reduce([0.0] || list_transform(list_slice(rows, 1, i),
                  x -> x['d']::DOUBLE / (x['n'] * x['n'])::DOUBLE),
                  (a, v) -> a + v) AS var_h
         FROM ex, rr""",

    "x_late_arrivals" ->
      """WITH ev AS (SELECT event_id,
             epoch(date_trunc('second', ts)) AS ts_s,
             CAST(ts AS DATE) AS day
           FROM events),
         mk AS (SELECT day, ts_s,
                  max(ts_s) OVER (ORDER BY event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS hwm
                FROM ev)
         SELECT strftime(day, '%Y-%m-%d') AS day,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN hwm IS NOT NULL
                          AND ts_s + 3600 < hwm
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_late
         FROM mk GROUP BY day""",

    "x_dispersion" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                          count(*) AS x
                        FROM events GROUP BY 1, 2),
         ag AS (SELECT event_type, count(*) AS n, sum(x) AS sx,
                  sum(x*x) AS sx2
                FROM daily GROUP BY 1)
         SELECT event_type, CAST(n AS BIGINT) AS n,
                CAST(sx AS BIGINT) AS sx,
                CASE WHEN n > 1 AND sx > 0 THEN
                  (n*sx2 - sx*sx)::DOUBLE / ((n-1)*sx)::DOUBLE
                ELSE NULL END AS vmr
         FROM ag""",

    "x_best_split" ->
      """WITH f AS (SELECT n_chars AS v,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS a,
             CASE WHEN lang <> 'en' THEN 1 ELSE 0 END AS b
           FROM documents),
         perv AS (SELECT v, sum(a) AS pa, sum(b) AS pb
                  FROM f GROUP BY 1),
         cum AS (SELECT v, sum(pa) OVER w AS ca, sum(pb) OVER w AS cb
                 FROM perv
                 WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
         tot AS (SELECT sum(a) AS ta, sum(b) AS tb FROM f),
         sc AS (SELECT v,
                  ((nl*nl - ca*ca - cb*cb)::DOUBLE / nl::DOUBLE) +
                    ((nr*nr - ra*ra - rb*rb)::DOUBLE / nr::DOUBLE)
                    AS imp
                FROM (SELECT v, ca, cb, ca + cb AS nl,
                        ta - ca AS ra, tb - cb AS rb,
                        ta + tb - ca - cb AS nr
                      FROM cum, tot)
                WHERE nl > 0 AND nr > 0),
         best AS (SELECT min(imp) AS best_imp FROM sc)
         SELECT CAST(min(v) AS BIGINT) AS threshold,
                max(best_imp) AS weighted_gini
         FROM sc, best WHERE imp = best_imp""",

    "x_modularity" -> {
      // the x_communities LPA replay (same rounds construction), then
      // the modularity assembly over the undirected distinct edge set
      val rounds = (1 to 3).map { i =>
        s""", c$i AS MATERIALIZED (SELECT e.u AS id, l.lbl,
                count(*) AS n
              FROM e0 e JOIN l${i - 1} l ON e.v = l.id GROUP BY 1, 2),
           l$i AS MATERIALIZED (SELECT id, lbl FROM (
              SELECT id, lbl, row_number() OVER (PARTITION BY id
                ORDER BY n DESC, lbl ASC) AS rn FROM c$i) q$i
              WHERE rn = 1)"""
      }.mkString
      s"""WITH raw AS (SELECT 's' || CAST(l_suppkey AS VARCHAR) AS u,
                'p' || CAST(l_partkey AS VARCHAR) AS v FROM lineitem),
         e0 AS MATERIALIZED (SELECT DISTINCT u, v FROM (
              SELECT u, v FROM raw
              UNION ALL SELECT v AS u, u AS v FROM raw) s
              WHERE u <> v),
         l0 AS MATERIALIZED (SELECT id, id AS lbl FROM
              (SELECT DISTINCT u AS id FROM e0) n0)$rounds,
         und AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
                 FROM raw WHERE u <> v),
         mm AS (SELECT count(*) AS m FROM und),
         ec AS (SELECT la.lbl, count(*) AS ec
                FROM und
                JOIN l3 la ON und.u = la.id
                JOIN l3 lb ON und.v = lb.id
                WHERE la.lbl = lb.lbl GROUP BY 1),
         dg AS (SELECT id, count(*) AS deg FROM (
                  SELECT u AS id FROM und
                  UNION ALL SELECT v FROM und) GROUP BY 1),
         dc AS (SELECT l3.lbl, sum(dg.deg) AS dc
                FROM dg JOIN l3 ON dg.id = l3.id GROUP BY 1),
         per AS (SELECT dc.lbl, coalesce(ec.ec, 0) AS ec, dc.dc, m
                 FROM dc LEFT JOIN ec ON dc.lbl = ec.lbl, mm),
         ag AS (SELECT count(*) AS n_comms, max(m) AS m,
                  sum(4*m*ec - dc*dc) AS q_num
                FROM per)
         SELECT CAST(n_comms AS BIGINT) AS n_comms, CAST(m AS BIGINT) AS m,
                CAST(q_num AS BIGINT) AS q_num,
                q_num::DOUBLE / (4*m*m)::DOUBLE AS q
         FROM ag"""
    },

    "x_cochran_q" -> {
      val m = Text.langMarkers.toMap
      s"""WITH f AS (SELECT
             CASE WHEN ${dMarker(m("en"))} >= 2 THEN 1 ELSE 0 END AS d1,
             CASE WHEN ($dLangId) = 'en' THEN 1 ELSE 0 END AS d2,
             CASE WHEN length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g'))::DOUBLE
                    / greatest(length(text), 1) < 0.1
               THEN 1 ELSE 0 END AS d3
           FROM documents),
         g AS (SELECT d1, d2, d3, d1 + d2 + d3 AS r FROM f),
         ag AS (SELECT count(*) AS n, sum(d1) AS t1, sum(d2) AS t2,
                  sum(d3) AS t3, sum(r) AS ss, sum(r*r) AS sr2
                FROM g)
         SELECT CAST(n AS BIGINT) AS n, CAST(t1 AS BIGINT) AS t1,
                CAST(t2 AS BIGINT) AS t2, CAST(t3 AS BIGINT) AS t3,
                CASE WHEN 3*ss - sr2 > 0 THEN
                  (2 * (3 * (t1*t1 + t2*t2 + t3*t3) - ss*ss))::DOUBLE /
                    (3*ss - sr2)::DOUBLE
                ELSE NULL END AS q
         FROM ag"""
    },

    "x_classifier_report" -> {
      val m = Text.langMarkers.toMap
      s"""WITH f AS (SELECT ${dMarker(m("en"))} >= 2 AS p,
                       lang = 'en' AS y
                     FROM documents),
         c AS (SELECT
             sum(CASE WHEN p AND y THEN 1 ELSE 0 END) AS tp,
             sum(CASE WHEN p AND NOT y THEN 1 ELSE 0 END) AS fp,
             sum(CASE WHEN NOT p AND y THEN 1 ELSE 0 END) AS fn,
             sum(CASE WHEN NOT p AND NOT y THEN 1 ELSE 0 END) AS tn
           FROM f)
         SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
                CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
                tp::DOUBLE / (tp + fp)::DOUBLE AS "precision",
                tp::DOUBLE / (tp + fn)::DOUBLE AS recall,
                (2*tp)::DOUBLE / (2*tp + fp + fn)::DOUBLE AS f1,
                tp::DOUBLE / (tp + fn)::DOUBLE +
                  tn::DOUBLE / (tn + fp)::DOUBLE - 1.0 AS youden_j,
                (tp*tn - fp*fn)::DOUBLE /
                  sqrt(((tp + fp) * (tp + fn))::DOUBLE *
                       ((tn + fp) * (tn + fn))::DOUBLE) AS mcc
         FROM c"""
    },

    "x_ipf_raking" -> {
      def lfold(x: String, k: String) =
        s"list_reduce([0.0] || list($x ORDER BY $k), (a, v) -> a + v)"
      val rounds = (1 to 3).map { r =>
        val prev = if (r == 1) "w0" else s"w${r - 1}c"
        s"""rs$r AS (SELECT lang, ${lfold("w", "source")} AS rs
                     FROM $prev GROUP BY 1),
           w${r}r AS (SELECT p.lang, p.source, p.n_sample,
                        p.w * (rt.rt::DOUBLE / rs$r.rs) AS w
                      FROM $prev p
                      JOIN rs$r ON p.lang = rs$r.lang
                      JOIN rowt rt ON p.lang = rt.lang),
           cs$r AS (SELECT source, ${lfold("w", "lang")} AS cs
                    FROM w${r}r GROUP BY 1),
           w${r}c AS (SELECT p.lang, p.source, p.n_sample,
                        p.w * (ct.ct::DOUBLE / cs$r.cs) AS w
                      FROM w${r}r p
                      JOIN cs$r ON p.source = cs$r.source
                      JOIN colt ct ON p.source = ct.source)"""
      }.mkString(", ")
      s"""WITH rowt AS (SELECT lang, count(*) AS rt
                        FROM documents GROUP BY 1),
         colt AS (SELECT source, count(*) AS ct
                  FROM documents GROUP BY 1),
         w0 AS (SELECT lang, source, count(*) AS n_sample,
                  count(*)::DOUBLE AS w
                FROM documents WHERE doc_id % 3 = 0 GROUP BY 1, 2),
         $rounds
         SELECT lang, source, CAST(n_sample AS BIGINT) AS n_sample, w
         FROM w3c"""
    },

    "x_rouge_l" ->
      """WITH RECURSIVE
         pr AS (SELECT doc_id, source, text,
                  lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id)
                    AS ref,
                  lead(text) OVER (PARTITION BY source ORDER BY doc_id)
                    AS rtext
                FROM documents),
         pairs AS (SELECT doc_id AS cand, ref,
                     string_split(text, ' ') AS ta,
                     string_split(rtext, ' ') AS tb
                   FROM pr
                   WHERE ref IS NOT NULL AND doc_id % 10 = 0),
         dp(cand, ref, ta, tb, i, row) AS (
           SELECT cand, ref, ta, tb, 0,
             [0::BIGINT for _ in range(0, len(tb) + 1)]
           FROM pairs
           UNION ALL
           SELECT cand, ref, ta, tb, i + 1,
             list_reduce(
               [[0::BIGINT]] || [[j::BIGINT] for j in range(1, len(tb) + 1)],
               (acc, e) -> acc ||
                 [CASE WHEN ta[i+1] = tb[CAST(e[1] AS INTEGER)]
                    THEN row[CAST(e[1] AS INTEGER)] + 1
                    ELSE greatest(row[CAST(e[1] AS INTEGER) + 1],
                                  acc[len(acc)]) END])
           FROM dp WHERE i < len(ta))
         SELECT cand, ref, CAST(row[len(tb) + 1] AS BIGINT) AS lcs,
                CAST(len(ta) AS BIGINT) AS lc,
                CAST(len(tb) AS BIGINT) AS lr,
                (2 * row[len(tb) + 1])::DOUBLE /
                  (len(ta) + len(tb))::DOUBLE AS rouge_l_f
         FROM dp WHERE i = len(ta)""",

    "x_holt_winters" -> {
      def lsum(e: String) = s"list_reduce([0.0] || $e, (a, x) -> a + x)"
      val newL = "0.5::DOUBLE*(xs[t+1] - ss[1]) + 0.5::DOUBLE*(l + b)"
      s"""WITH RECURSIVE
         daily AS (SELECT epoch(date_trunc('day', ts))::BIGINT AS day_s,
                     sum(CAST(floor(value*100.0) AS BIGINT)) AS v
                   FROM events GROUP BY 1),
         arr AS (SELECT list(day_s ORDER BY day_s) AS ks,
                   list(v::DOUBLE ORDER BY day_s) AS xs,
                   count(*) AS n
                 FROM daily),
         init AS (SELECT
             ${lsum("list_slice(xs, 1, 7)")} / 7.0 AS l0,
             (${lsum("list_slice(xs, 8, 14)")} -
               ${lsum("list_slice(xs, 1, 7)")}) / 49.0 AS b0,
             xs, n
           FROM arr),
         dp(t, l, b, ss, fits) AS (
           SELECT 7, l0, b0,
             list_transform(list_slice(xs, 1, 7), x -> x - l0),
             []::DOUBLE[]
           FROM init
           UNION ALL
           SELECT t+1,
             $newL,
             0.3::DOUBLE*(($newL) - l) + 0.7::DOUBLE*b,
             list_slice(ss, 2, 7) ||
               [0.2::DOUBLE*(xs[t+1] - ($newL)) + 0.8::DOUBLE*ss[1]],
             fits || [l + b + ss[1]]
           FROM dp, init WHERE t < n)
         SELECT day_s, x, fitted, x - fitted AS resid FROM (
           SELECT unnest(list_slice(ks, 8, n)) AS day_s,
                  unnest(list_slice(xs, 8, n)) AS x,
                  unnest(fits) AS fitted
           FROM dp, arr WHERE t = n)"""
    },

    "x_pacf" -> {
      def ck2(k: Int): String =
        if (k == 0) "n*n*sxx0 - n*sv*sv"
        else s"n*n*sxx$k - n*sv*(h$k+t$k) + (n-$k)*sv*sv"
      def r(k: Int): String =
        s"CAST(CAST(${ck2(k)} AS VARCHAR) AS DOUBLE) / CAST(CAST(${ck2(0)} AS VARCHAR) AS DOUBLE)"
      val p2 = "(r2 - r1*r1) / (1.0 - r1*r1)"
      val phi21 = s"(r1 * (1.0 - ($p2)))"
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day,
             sum(CAST(floor(value*100.0) AS BIGINT)) AS v
           FROM events GROUP BY 1),
         lg AS (SELECT v, lag(v, 1) OVER (ORDER BY day) AS v1,
                  lag(v, 2) OVER (ORDER BY day) AS v2,
                  lag(v, 3) OVER (ORDER BY day) AS v3
                FROM daily),
         ag AS (SELECT count(*) AS n, sum(v) AS sv, sum(v*v) AS sxx0,
             sum(CASE WHEN v1 IS NOT NULL THEN v*v1 ELSE 0 END) AS sxx1,
             sum(CASE WHEN v1 IS NOT NULL THEN v ELSE 0 END) AS h1,
             sum(CASE WHEN v1 IS NOT NULL THEN v1 ELSE 0 END) AS t1,
             sum(CASE WHEN v2 IS NOT NULL THEN v*v2 ELSE 0 END) AS sxx2,
             sum(CASE WHEN v2 IS NOT NULL THEN v ELSE 0 END) AS h2,
             sum(CASE WHEN v2 IS NOT NULL THEN v2 ELSE 0 END) AS t2,
             sum(CASE WHEN v3 IS NOT NULL THEN v*v3 ELSE 0 END) AS sxx3,
             sum(CASE WHEN v3 IS NOT NULL THEN v ELSE 0 END) AS h3,
             sum(CASE WHEN v3 IS NOT NULL THEN v3 ELSE 0 END) AS t3
           FROM lg),
         rr AS (SELECT CAST(n AS BIGINT) AS n, ${r(1)} AS r1,
                  ${r(2)} AS r2, ${r(3)} AS r3
                FROM ag)
         SELECT n, r1, r2, r3, r1 AS pacf1, $p2 AS pacf2,
                (r3 - $phi21*r2 - ($p2)*r1) /
                  (1.0 - $phi21*r1 - ($p2)*r2) AS pacf3
         FROM rr"""
    },

    "x_bleu2" -> {
      val (ctes, last) = graft.functions.Pmath.lnSqlChainCtes("j", "bl",
        Seq(
          ("CASE WHEN clip1 > 0 THEN tot1::DOUBLE / clip1::DOUBLE ELSE 1.0 END", "lnq1"),
          ("CASE WHEN clip2 > 0 THEN tot2::DOUBLE / clip2::DOUBLE ELSE 1.0 END", "lnq2")),
        Seq("cand", "ref", "clip1", "tot1", "clip2", "tot2", "clen",
          "rlen"))
      s"""WITH pr AS (SELECT doc_id AS cand,
             lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id)
               AS ref
           FROM documents),
         p AS (SELECT cand, ref FROM pr WHERE ref IS NOT NULL),
         u AS (SELECT doc_id, g, count(*) AS c FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS g
             FROM documents) GROUP BY 1, 2),
         bg AS (SELECT doc_id, g, count(*) AS c FROM (
             SELECT doc_id,
               unnest([array_to_string(list_slice(ws, i, i+1), ' ')
                       for i in range(1, len(ws))]) AS g
             FROM (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents)) GROUP BY 1, 2),
         c1 AS (SELECT cand, ref,
                  sum(least(cc.c, coalesce(rc.c, 0))) AS clip1,
                  sum(cc.c) AS tot1
                FROM p JOIN u cc ON cand = cc.doc_id
                LEFT JOIN u rc ON ref = rc.doc_id AND cc.g = rc.g
                GROUP BY 1, 2),
         c2 AS (SELECT cand, ref,
                  sum(least(cc.c, coalesce(rc.c, 0))) AS clip2,
                  sum(cc.c) AS tot2
                FROM p JOIN bg cc ON cand = cc.doc_id
                LEFT JOIN bg rc ON ref = rc.doc_id AND cc.g = rc.g
                GROUP BY 1, 2),
         lens AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT
                    AS len FROM documents),
         j AS (SELECT p.cand, p.ref, clip1, tot1, clip2, tot2,
                 cl.len AS clen, rl.len AS rlen
               FROM p JOIN c1 USING (cand, ref)
               JOIN c2 USING (cand, ref)
               JOIN lens cl ON p.cand = cl.doc_id
               JOIN lens rl ON p.ref = rl.doc_id),
         $ctes
         SELECT cand, ref, CAST(clip1 AS BIGINT) AS clip1,
                CAST(tot1 AS BIGINT) AS tot1,
                CAST(clip2 AS BIGINT) AS clip2,
                CAST(tot2 AS BIGINT) AS tot2,
                CASE WHEN clip1 > 0 AND clip2 > 0 THEN
                  least(0.0, 1.0 - rlen::DOUBLE / clen::DOUBLE) +
                    0.5 * ((-lnq1) + (-lnq2))
                ELSE NULL END AS log_bleu
         FROM $last"""
    },

    "x_pettitt" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
             sum(CAST(floor(value*100.0) AS BIGINT)) AS v
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         pairs AS (SELECT a.day AS di, b.day AS dj,
                     CASE WHEN a.v > b.v THEN 1
                          WHEN a.v < b.v THEN -1 ELSE 0 END AS sg
                   FROM daily a JOIN daily b ON a.day < b.day),
         ut AS (SELECT t.day AS t, sum(sg) AS u
                FROM (SELECT day FROM daily) t
                JOIN pairs ON di <= t.day AND dj > t.day
                GROUP BY 1),
         best AS (SELECT max(abs(u)) AS k FROM ut)
         SELECT strftime(min(t), '%Y-%m-%d') AS t_star,
                CAST(max(k) AS BIGINT) AS k,
                CAST(min(u) AS BIGINT) AS u_at
         FROM ut, best WHERE abs(u) = k""",

    "x_mann_kendall" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
             sum(CAST(floor(value*100.0) AS BIGINT)) AS v
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         sv AS (SELECT sum(CASE WHEN b.v > a.v THEN 1
                            WHEN b.v < a.v THEN -1 ELSE 0 END) AS s
                FROM daily a JOIN daily b ON a.day < b.day),
         nn AS (SELECT count(*) AS n FROM daily),
         ties AS (SELECT coalesce(sum(tt*(tt-1)*(2*tt+5)), 0) AS tie_term
                  FROM (SELECT count(*) AS tt FROM daily GROUP BY v)),
         vv AS (SELECT n, s, n*(n-1)*(2*n+5) - tie_term AS var18
                FROM sv, nn, ties)
         SELECT CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS s,
                CAST(var18 AS BIGINT) AS var18,
                CASE WHEN var18 > 0 THEN
                  (s::DOUBLE - (CASE WHEN s > 0 THEN 1.0
                                     WHEN s < 0 THEN -1.0
                                     ELSE 0.0 END)) /
                    sqrt(var18::DOUBLE / 18.0)
                ELSE NULL END AS z
         FROM vv""",

    "x_cross_corr" ->
      """WITH a AS (SELECT CAST(ts AS DATE) AS day,
             sum(CAST(floor(value*100.0) AS BIGINT)) AS av
           FROM events WHERE event_type = 'click' GROUP BY 1),
         b AS (SELECT CAST(ts AS DATE) AS bday,
             sum(CAST(floor(value*100.0) AS BIGINT)) AS bv
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         l AS (SELECT unnest(range(-7, 8)) AS lag)
         SELECT CAST(l.lag AS INTEGER) AS lag,
                CAST(count(*) AS BIGINT) AS n_overlap,
                CAST(sum(av * bv) AS BIGINT) AS dot
         FROM a CROSS JOIN l
         JOIN b ON a.day + CAST(l.lag AS INTEGER) = b.bday
         GROUP BY 1""",

    "x_burstiness" ->
      """WITH g AS (SELECT user_id,
             epoch(date_trunc('second', ts)) -
               epoch(date_trunc('second', lag(ts) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id))) AS gap
           FROM events),
         a AS (SELECT user_id, count(*) AS n, sum(gap) AS sg,
                 sum(gap * gap) AS sg2
               FROM g WHERE gap IS NOT NULL
               GROUP BY 1 HAVING count(*) >= 2)
         SELECT user_id, CAST(n AS BIGINT) AS n,
                CASE WHEN n*sg2 - sg*sg >= 0 THEN
                  (sqrt((n*sg2 - sg*sg)::DOUBLE) - sg::DOUBLE) /
                  (sqrt((n*sg2 - sg*sg)::DOUBLE) + sg::DOUBLE)
                ELSE NULL END AS b
         FROM a""",

    "x_abc_analysis" ->
      """WITH per AS (SELECT l_partkey,
             sum(CAST(floor(l_extendedprice*100.0) AS BIGINT)) AS rev
           FROM lineitem GROUP BY 1),
         cum AS (SELECT l_partkey, rev,
                   sum(rev) OVER (ORDER BY rev DESC, l_partkey
                     ROWS UNBOUNDED PRECEDING) AS crev
                 FROM per),
         tot AS (SELECT sum(rev) AS trev FROM per)
         SELECT l_partkey, CAST(rev AS BIGINT) AS rev,
                CASE WHEN crev * 5 <= trev * 4 THEN 'A'
                     WHEN crev * 20 <= trev * 19 THEN 'B'
                     ELSE 'C' END AS abc_class
         FROM cum, tot""",

    "x_friedman" ->
      """WITH per AS (SELECT CAST(ts AS DATE) AS day,
             event_type AS tr,
             sum(CAST(floor(value*100.0) AS BIGINT)) AS v
           FROM events GROUP BY 1, 2),
         r2 AS (SELECT a.day, a.tr,
                  sum(CASE WHEN b.v < a.v THEN 2
                           WHEN b.v = a.v THEN 1 ELSE 0 END) + 1 AS r2
                FROM per a JOIN per b ON a.day = b.day
                GROUP BY 1, 2),
         sums AS (SELECT tr, sum(r2) AS r2j FROM r2 GROUP BY 1),
         nb AS (SELECT count(DISTINCT day)::DOUBLE AS nb FROM per),
         s AS (SELECT list_reduce([0.0] ||
                 list((r2j::DOUBLE / 2.0) * (r2j::DOUBLE / 2.0)
                   ORDER BY tr), (acc, v) -> acc + v) AS s
               FROM sums)
         SELECT CAST(nb AS BIGINT) AS n_blocks, s,
                12.0 * s / (nb * 5.0 * 6.0) - 3.0 * nb * 6.0 AS chi2
         FROM s, nb""",

    "x_mh_odds" ->
      """WITH f AS (SELECT source,
             CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS e,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
           FROM documents),
         st AS (SELECT source,
             sum(CASE WHEN e = 1 AND y = 1 THEN 1 ELSE 0 END) AS a,
             sum(CASE WHEN e = 1 AND y = 0 THEN 1 ELSE 0 END) AS b,
             sum(CASE WHEN e = 0 AND y = 1 THEN 1 ELSE 0 END) AS c,
             sum(CASE WHEN e = 0 AND y = 0 THEN 1 ELSE 0 END) AS dd,
             count(*) AS n
           FROM f GROUP BY 1 HAVING count(*) > 0),
         ag AS (SELECT
             list_reduce([0.0] || list((a * dd)::DOUBLE / n::DOUBLE
               ORDER BY source), (acc, v) -> acc + v) AS num,
             list_reduce([0.0] || list((b * c)::DOUBLE / n::DOUBLE
               ORDER BY source), (acc, v) -> acc + v) AS den
           FROM st)
         SELECT num, den,
                CASE WHEN den > 0.0 THEN num / den ELSE NULL END AS or_mh
         FROM ag""",

    "x_runs_test" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS cnt
                        FROM events WHERE event_type = 'purchase'
                        GROUP BY 1),
         tot AS (SELECT sum(cnt) AS tc, count(*) AS nd FROM daily),
         signed AS (SELECT day,
                      CASE WHEN cnt * nd >= tc THEN 1 ELSE 0 END AS hi
                    FROM daily, tot),
         ch AS (SELECT hi,
                  CASE WHEN lag(hi) OVER (ORDER BY day) IS NULL THEN 1
                       WHEN lag(hi) OVER (ORDER BY day) <> hi THEN 1
                       ELSE 0 END AS chg
                FROM signed),
         ag AS (SELECT sum(chg) AS runs,
                  sum(CASE WHEN hi = 1 THEN 1 ELSE 0 END) AS n1,
                  sum(CASE WHEN hi = 0 THEN 1 ELSE 0 END) AS n2
                FROM ch)
         SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
                CAST(runs AS BIGINT) AS runs,
                1.0 + 2.0 * (n1 * n2)::DOUBLE / (n1 + n2)::DOUBLE
                  AS expected_runs
         FROM ag""",

    "x_did" ->
      """WITH ev AS (SELECT user_id, ts,
             CAST(floor(value*100.0) AS BIGINT) AS cents
           FROM events WHERE event_type = 'purchase'),
         d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM ev),
         cells AS (SELECT
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS treat,
             CASE WHEN datediff('day', d0, CAST(ts AS DATE)) >= 15
               THEN 1 ELSE 0 END AS post,
             count(*) AS n, sum(cents) AS sc
           FROM ev, d0 GROUP BY 1, 2),
         m AS (SELECT treat, post, sc::DOUBLE / n::DOUBLE AS m
               FROM cells),
         wide AS (SELECT
             max(CASE WHEN treat = 1 AND post = 1 THEN m END) AS tp,
             max(CASE WHEN treat = 1 AND post = 0 THEN m END) AS tr,
             max(CASE WHEN treat = 0 AND post = 1 THEN m END) AS cp,
             max(CASE WHEN treat = 0 AND post = 0 THEN m END) AS cr
           FROM m)
         SELECT tp, tr, cp, cr, (tp - tr) - (cp - cr) AS did FROM wide""",

    "x_apportion" ->
      """WITH per AS (SELECT source, count(*) AS n
                      FROM documents GROUP BY 1),
         tot AS (SELECT sum(n) AS nall FROM per),
         q AS (SELECT source, n, (1000 * n) // nall AS base,
                 (1000 * n) % nall AS rem
               FROM per, tot),
         e AS (SELECT 1000 - sum(base) AS extra FROM q),
         r AS (SELECT source, n, base,
                 row_number() OVER (ORDER BY rem DESC, source ASC) AS rk
               FROM q)
         SELECT source, CAST(n AS BIGINT) AS n,
                CAST(base + CASE WHEN rk <= extra THEN 1 ELSE 0 END
                  AS BIGINT) AS alloc
         FROM r, e""",

    "x_kendall_tau" ->
      """WITH li AS (SELECT CAST(floor(l_quantity) AS BIGINT) AS x,
             least(19, CAST(floor(floor(l_extendedprice*100.0) / 500000.0)
               AS BIGINT)) AS y
           FROM lineitem),
         grid AS (SELECT x, y, count(*) AS c FROM li GROUP BY 1, 2),
         pairs AS (SELECT
             sum(CASE WHEN b.y < a.y THEN a.c * b.c ELSE 0 END) AS conc,
             sum(CASE WHEN b.y > a.y THEN a.c * b.c ELSE 0 END) AS disc
           FROM grid a JOIN grid b ON b.x < a.x),
         m AS (SELECT count(*) AS n FROM li),
         tx AS (SELECT sum(r * (r - 1) / 2) AS n1 FROM
                  (SELECT sum(c) AS r FROM grid GROUP BY x)),
         ty AS (SELECT sum(r * (r - 1) / 2) AS n2 FROM
                  (SELECT sum(c) AS r FROM grid GROUP BY y))
         SELECT CAST(n AS BIGINT) AS n, CAST(conc AS BIGINT) AS conc,
                CAST(disc AS BIGINT) AS disc,
                (conc - disc)::DOUBLE /
                  sqrt((n * (n - 1) / 2 - n1)::DOUBLE *
                       (n * (n - 1) / 2 - n2)::DOUBLE) AS tau_b
         FROM pairs, m, tx, ty""",

    "x_logrank" ->
      """WITH u AS (SELECT user_id,
             CAST(datediff('day', min(CAST(ts AS DATE)),
               max(CAST(ts AS DATE))) AS BIGINT) AS dur,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS obs,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS grp
           FROM events GROUP BY user_id),
         per AS (SELECT dur,
                   sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS e1,
                   sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS e2,
                   sum(CASE WHEN grp = 1 AND obs = 1 THEN 1 ELSE 0 END)
                     AS d1,
                   sum(CASE WHEN grp = 0 AND obs = 1 THEN 1 ELSE 0 END)
                     AS d2
                 FROM u GROUP BY 1),
         risk AS (SELECT dur, d1, d2,
                    sum(e1) OVER (ORDER BY dur ROWS BETWEEN CURRENT ROW
                      AND UNBOUNDED FOLLOWING) AS n1,
                    sum(e2) OVER (ORDER BY dur ROWS BETWEEN CURRENT ROW
                      AND UNBOUNDED FOLLOWING) AS n2
                  FROM per),
         terms AS (SELECT dur, d1::DOUBLE AS o1t,
                     ((d1 + d2)::DOUBLE * (n1::DOUBLE /
                       (n1 + n2)::DOUBLE)) AS e1t,
                     CASE WHEN (n1 + n2)::DOUBLE > 1.0
                       THEN (d1 + d2)::DOUBLE *
                         (n1::DOUBLE / (n1 + n2)::DOUBLE) *
                         (1.0 - n1::DOUBLE / (n1 + n2)::DOUBLE) *
                         (((n1 + n2)::DOUBLE - (d1 + d2)::DOUBLE) /
                          ((n1 + n2)::DOUBLE - 1.0))
                       ELSE 0.0 END AS vt
                   FROM risk WHERE d1 + d2 > 0),
         ag AS (SELECT
             list_reduce([0.0] || list(o1t ORDER BY dur),
               (a, v) -> a + v) AS o1,
             list_reduce([0.0] || list(e1t ORDER BY dur),
               (a, v) -> a + v) AS e1,
             list_reduce([0.0] || list(vt ORDER BY dur),
               (a, v) -> a + v) AS v
           FROM terms)
         SELECT o1, e1, v,
                CASE WHEN v > 0.0
                  THEN ((o1 - e1) * (o1 - e1)) / v
                  ELSE NULL END AS chi2
         FROM ag""",

    "x_simpsons_flag" ->
      """WITH li AS (SELECT l_returnflag AS g,
             CAST(floor(l_quantity) AS BIGINT) AS x,
             CAST(floor(l_extendedprice*100.0) AS BIGINT) AS y
           FROM lineitem),
         per AS (SELECT g, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                   sum(x*y) AS sxy
                 FROM li GROUP BY 1),
         tot AS (SELECT sum(n) AS nn, sum(sx) AS tx, sum(sy) AS ty,
                   sum(sxy) AS txy
                 FROM per)
         SELECT g, CAST(n AS BIGINT) AS n,
           CASE WHEN n*sxy - sx*sy > 0 THEN 1
                WHEN n*sxy - sx*sy < 0 THEN -1 ELSE 0 END AS sign_group,
           CASE WHEN nn*txy - tx*ty > 0 THEN 1
                WHEN nn*txy - tx*ty < 0 THEN -1 ELSE 0 END AS sign_all,
           (CASE WHEN n*sxy - sx*sy > 0 THEN 1
                 WHEN n*sxy - sx*sy < 0 THEN -1 ELSE 0 END) <>
           (CASE WHEN nn*txy - tx*ty > 0 THEN 1
                 WHEN nn*txy - tx*ty < 0 THEN -1 ELSE 0 END) AS reversal
         FROM per, tot""",

    "x_hll_portable" -> {
      val (l1, l2, l3) = graft.functions.Pmath.lnSqlCtes("lnin", "lnx")
      s"""WITH h AS (SELECT DISTINCT source AS k, md5(text) AS h
                     FROM documents),
         r0 AS (SELECT k, ('0x' || substr(h, 1, 4))::BIGINT % 64 AS b,
                  ('0x' || substr(h, 5, 8))::BIGINT AS v
                FROM h),
         r1 AS (SELECT k, b,
                  CASE WHEN v = 0 THEN 33
                       ELSE 33 - length(bin(v)) END AS rho
                FROM r0),
         regs AS (SELECT k, b, max(rho) AS m FROM r1 GROUP BY 1, 2),
         allregs AS (SELECT k, b, m FROM regs
                     UNION ALL
                     SELECT '__all__', b, max(m) FROM regs GROUP BY 2),
         agg AS (SELECT k, count(*) AS nb,
                   sum(1.0::DOUBLE / (1::BIGINT << m)::DOUBLE) AS s_part
                 FROM allregs GROUP BY 1),
         ex AS (SELECT k, count(*) AS n_exact FROM h GROUP BY 1
                UNION ALL
                SELECT '__all__', count(DISTINCT h) FROM h),
         pre AS (SELECT k, nb, s_part + (64 - nb)::DOUBLE AS s,
                   64 - nb AS zeros
                 FROM agg),
         pa AS (SELECT k, nb, s, zeros,
                  CAST(CASE WHEN zeros > 0 THEN 64.0 / zeros::DOUBLE
                       ELSE 1.0 END AS DOUBLE) AS lnin
                FROM pre),
         pb AS (SELECT *, $l1 FROM pa),
         pc AS (SELECT *, $l2 FROM pb),
         pd AS (SELECT *, $l3 FROM pc)
         SELECT pd.k AS source, CAST(n_exact AS BIGINT) AS n_exact,
                CAST(nb AS BIGINT) AS nb,
                CASE WHEN (0.709::DOUBLE * 4096.0::DOUBLE) / s
                       <= 160.0 AND zeros > 0
                  THEN 64.0 * lnx
                  ELSE (0.709::DOUBLE * 4096.0::DOUBLE) / s END AS est
         FROM pd JOIN ex ON pd.k = ex.k"""
    },

    "x_ams_f2" ->
      """WITH tok AS (SELECT t, count(*) AS f FROM (
             SELECT unnest(string_split(text, ' ')) AS t
             FROM documents) GROUP BY 1),
         ex AS (SELECT sum(f * f) AS f2_exact FROM tok),
         sk AS (SELECT s,
                  sum(CASE WHEN ('0x' || substr(md5(s::VARCHAR || '|' || t), 1, 4))::BIGINT % 2 = 0
                      THEN f ELSE -f END) AS z
                FROM tok, (SELECT unnest(range(0, 16)) AS s)
                GROUP BY 1),
         a AS (SELECT sum(z * z)::DOUBLE / 16.0 AS f2_ams FROM sk)
         SELECT CAST(f2_exact AS BIGINT) AS f2_exact, f2_ams FROM ex, a""",

    "x_coec_debias" ->
      """WITH ev AS (SELECT
             CAST(json_extract_string(props, '$.k') AS BIGINT) % 10
               AS slot,
             user_id % 50 AS item,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS c,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS v
           FROM events
           WHERE event_type IN ('click', 'view')),
         prior AS (SELECT slot,
                     sum(c)::DOUBLE / sum(v)::DOUBLE AS prior
                   FROM ev GROUP BY 1 HAVING sum(v) > 0),
         per AS (SELECT item, slot, sum(c) AS ci, sum(v) AS vi
                 FROM ev GROUP BY 1, 2)
         SELECT item, CAST(sum(ci) AS BIGINT) AS clicks,
                list_reduce([0.0] ||
                  list(vi::DOUBLE * prior ORDER BY per.slot),
                  (a, x) -> a + x) AS expected,
                CASE WHEN list_reduce([0.0] ||
                    list(vi::DOUBLE * prior ORDER BY per.slot),
                    (a, x) -> a + x) > 0.0
                  THEN sum(ci)::DOUBLE / list_reduce([0.0] ||
                    list(vi::DOUBLE * prior ORDER BY per.slot),
                    (a, x) -> a + x)
                  ELSE NULL END AS coec
         FROM per JOIN prior ON per.slot = prior.slot
         GROUP BY item""",

    "x_bradley_terry" -> {
      val langs = Seq("de", "en", "es", "fr", "zh")
      def lfold(x: String, k: String) =
        s"list_reduce([0.0] || list($x ORDER BY $k), (a, v) -> a + v)"
      val perVCols = langs.map(g =>
        s"sum(CASE WHEN g = '$g' THEN 1 ELSE 0 END) AS a_$g").mkString(", ")
      val cumCols = langs.map(g =>
        s"coalesce(sum(a_$g) OVER w, 0) AS c_$g").mkString(", ")
      val winSelects = (for { a <- langs; b <- langs if a != b } yield
        s"""SELECT '$a' AS i, '$b' AS j, sum(a_$a * c_$b) AS w
            FROM cum GROUP BY 1, 2""").mkString(" UNION ALL ")
      val rounds = (1 to 3).map { r =>
        val pv = s"th${r - 1}"
        s"""den$r AS (SELECT n.i,
               ${lfold("n.n::DOUBLE / (ti.th + tj.th)", "n.j")} AS den
             FROM nij n
             JOIN $pv ti ON n.i = ti.i
             JOIN $pv tj ON n.j = tj.i
             GROUP BY n.i),
           th$r AS (SELECT w.i, w.wi::DOUBLE / d.den AS th
                    FROM wi w JOIN den$r d ON w.i = d.i)"""
      }.mkString(", ")
      s"""WITH f AS (SELECT n_chars AS v, lang AS g FROM documents),
         perv AS (SELECT v, $perVCols FROM f GROUP BY 1),
         cum AS (SELECT v, ${langs.map(g => s"a_$g").mkString(", ")},
                   $cumCols
                 FROM perv
                 WINDOW w AS (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         wins AS ($winSelects),
         nij AS (SELECT x.i, x.j, x.w + y.w AS n
                 FROM wins x JOIN wins y ON x.i = y.j AND x.j = y.i),
         wi AS (SELECT i, sum(w) AS wi FROM wins GROUP BY 1),
         th0 AS (SELECT i, 1.0::DOUBLE AS th FROM wi),
         $rounds,
         z AS (SELECT ${lfold("th", "i")} AS z FROM th3)
         SELECT th3.i AS lang, th AS theta, th / z AS p FROM th3, z"""
    },

    "x_rand_response" ->
      """WITH f AS (SELECT
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS t,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 4 < 3
                  THEN CASE WHEN lang = 'en' THEN 1 ELSE 0 END
                  ELSE 1 - CASE WHEN lang = 'en' THEN 1 ELSE 0 END
             END AS r
           FROM documents)
         SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(t) AS BIGINT) AS k_true,
                CAST(sum(r) AS BIGINT) AS k_reported,
                ((sum(r)::DOUBLE / count(*)::DOUBLE) - 0.25) / 0.5 AS est
         FROM f""",

    "x_burst_states" -> {
      def emitCase(s: Int, bin: String) =
        s"(CASE WHEN $bin = 0 THEN ${burstEmit(s)(0)} WHEN $bin = 1 THEN ${burstEmit(s)(1)} ELSE ${burstEmit(s)(2)} END)"
      s"""WITH RECURSIVE
         daily AS (SELECT date_trunc('day', ts) AS day, count(*) AS cnt
                   FROM events WHERE event_type = 'error' GROUP BY 1),
         tot AS (SELECT sum(cnt) AS tot, count(*) AS nd FROM daily),
         b AS (SELECT epoch(day)::BIGINT AS day_s,
                 CASE WHEN cnt*4*nd < tot*3 THEN 0
                      WHEN cnt*4*nd > tot*5 THEN 2 ELSE 1 END AS bin
               FROM daily, tot),
         arr AS (SELECT list(day_s ORDER BY day_s) AS days,
                   list(bin ORDER BY day_s) AS bins,
                   count(*) AS n
                 FROM b),
         dp(t, sc0, sc1, p0, p1) AS (
           SELECT 1,
             ${burstInit(0)} + ${emitCase(0, "bins[1]")},
             ${burstInit(1)} + ${emitCase(1, "bins[1]")},
             [0], [1]
           FROM arr
           UNION ALL
           SELECT t+1,
             greatest(sc0 + ${burstTrans(0)(0)},
               sc1 + ${burstTrans(1)(0)}) + ${emitCase(0, "bins[t+1]")},
             greatest(sc0 + ${burstTrans(0)(1)},
               sc1 + ${burstTrans(1)(1)}) + ${emitCase(1, "bins[t+1]")},
             (CASE WHEN sc0 + ${burstTrans(0)(0)} >=
                sc1 + ${burstTrans(1)(0)} THEN p0 ELSE p1 END) || [0],
             (CASE WHEN sc0 + ${burstTrans(0)(1)} >=
                sc1 + ${burstTrans(1)(1)} THEN p0 ELSE p1 END) || [1]
           FROM dp, arr WHERE t < n)
         SELECT unnest(days) AS day_s,
                unnest(CASE WHEN sc0 >= sc1 THEN p0 ELSE p1 END) AS state
         FROM dp, arr WHERE t = n"""
    },

    "x_fellegi_sunter" -> {
      def bern(d: String, p: String) =
        s"(CASE WHEN $d = 1 THEN $p ELSE 1.0 - $p END)"
      // strict left fold (0.0 seed) — list_sum may re-associate at
      // this precision, the lambda fold cannot
      def osum(x: String) =
        s"list_reduce([0.0] || list($x ORDER BY pid), (a, v) -> a + v)"
      def mStep(d: String, w: String, tot: String) =
        s"${osum(s"CASE WHEN $d = 1 THEN $w ELSE 0.0 END")} / ${osum(tot)}"
      val rounds = (1 to 3).map { r =>
        val pv = if (r == 1) "par0" else s"par${r - 1}"
        s"""em$r AS (SELECT pid, d1, d2, d3, n,
             pi * ${bern("d1", "m1")} * ${bern("d2", "m2")} *
               ${bern("d3", "m3")} AS wm,
             (1.0 - pi) * ${bern("d1", "u1")} * ${bern("d2", "u2")} *
               ${bern("d3", "u3")} AS wu
           FROM pat, $pv),
         g$r AS (SELECT pid, d1, d2, d3, n, wm / (wm + wu) AS gam
                 FROM em$r),
         par$r AS (SELECT
             ${osum("n::DOUBLE * gam")} / ${osum("n::DOUBLE")} AS pi,
             ${mStep("d1", "n::DOUBLE * gam", "n::DOUBLE * gam")} AS m1,
             ${mStep("d2", "n::DOUBLE * gam", "n::DOUBLE * gam")} AS m2,
             ${mStep("d3", "n::DOUBLE * gam", "n::DOUBLE * gam")} AS m3,
             ${mStep("d1", "n::DOUBLE * (1.0 - gam)",
               "n::DOUBLE * (1.0 - gam)")} AS u1,
             ${mStep("d2", "n::DOUBLE * (1.0 - gam)",
               "n::DOUBLE * (1.0 - gam)")} AS u2,
             ${mStep("d3", "n::DOUBLE * (1.0 - gam)",
               "n::DOUBLE * (1.0 - gam)")} AS u3
           FROM g$r)"""
      }.mkString(", ")
      s"""WITH c AS (SELECT c_custkey AS id, c_nationkey AS nk,
             c_mktsegment AS seg,
             CAST(floor(c_acctbal*100.0) AS BIGINT) AS bal,
             right(c_name, 2) AS n2
           FROM customer),
         p AS (SELECT
             CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END AS d1,
             CASE WHEN abs(a.bal - b.bal) <= 100000 THEN 1 ELSE 0 END
               AS d2,
             CASE WHEN a.n2 = b.n2 THEN 1 ELSE 0 END AS d3
           FROM c a JOIN c b ON a.nk = b.nk AND a.id < b.id),
         pat AS (SELECT d1, d2, d3, count(*) AS n,
                   d1*4 + d2*2 + d3 AS pid
                 FROM p GROUP BY 1, 2, 3),
         par0 AS (SELECT 0.1::DOUBLE AS pi,
                    0.8::DOUBLE AS m1, 0.8::DOUBLE AS m2,
                    0.8::DOUBLE AS m3, 0.3::DOUBLE AS u1,
                    0.3::DOUBLE AS u2, 0.3::DOUBLE AS u3),
         $rounds
         SELECT d1, d2, d3, CAST(n AS BIGINT) AS n, gam FROM g3"""
    },

    "x_qq_plot" ->
      """WITH f AS (SELECT CAST(floor(value*100.0) AS BIGINT) AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS b
           FROM events WHERE event_type IN ('click', 'purchase')),
         perv AS (SELECT v, sum(a) AS a, sum(b) AS b FROM f GROUP BY 1),
         cum AS (SELECT v, sum(a) OVER w AS ca, sum(b) OVER w AS cb
                 FROM perv
                 WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
         tot AS (SELECT sum(a) AS na, sum(b) AS nb FROM f),
         qs AS (SELECT unnest(range(1, 20)) AS qn)
         SELECT qn::DOUBLE / 20.0 AS q,
                CAST(min(CASE WHEN ca >= (qn*na + 19) // 20 THEN v END)
                  AS BIGINT) AS va,
                CAST(min(CASE WHEN cb >= (qn*nb + 19) // 20 THEN v END)
                  AS BIGINT) AS vb
         FROM cum, tot, qs GROUP BY qn""",

    "x_gains_curve" ->
      """WITH per AS (SELECT user_id,
             sum(CASE WHEN event_type IN ('view', 'click')
                 THEN CAST(floor(value*100.0) AS BIGINT) ELSE 0 END)
               AS score,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS resp
           FROM events GROUP BY 1),
         n AS (SELECT count(*) AS n_all, sum(resp) AS r_all FROM per),
         dec0 AS (SELECT resp,
                    ntile(10) OVER (ORDER BY score DESC, user_id)
                      AS decile
                  FROM per),
         dec AS (SELECT decile, count(*) AS n, sum(resp) AS responders
                 FROM dec0 GROUP BY 1),
         cum AS (SELECT decile, n, responders,
                   sum(responders) OVER (ORDER BY decile
                     ROWS UNBOUNDED PRECEDING) AS cum_resp
                 FROM dec)
         SELECT CAST(decile AS INTEGER) AS decile, CAST(n AS BIGINT) AS n,
                CAST(responders AS BIGINT) AS responders,
                responders::DOUBLE / n::DOUBLE AS rate,
                cum_resp::DOUBLE / r_all::DOUBLE AS cum_gain,
                (responders::DOUBLE / n::DOUBLE) /
                  (r_all::DOUBLE / n_all::DOUBLE) AS lift
         FROM cum, n""",

    "x_readability" ->
      """SELECT doc_id,
           CAST(greatest(len(string_split(text, ' ')), 1) AS BIGINT)
             AS n_words,
           CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
             AS BIGINT) AS n_sentences,
           CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))
             AS BIGINT) AS n_syllables,
           206.835 -
             1.015 * (greatest(len(string_split(text, ' ')), 1)::DOUBLE /
               greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::DOUBLE) -
             84.6 * (len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))::DOUBLE /
               greatest(len(string_split(text, ' ')), 1)::DOUBLE) AS flesch
         FROM documents""",

    "x_eb_shrinkage" ->
      """WITH per AS (SELECT source, count(*) AS n,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS k
           FROM documents GROUP BY 1),
         g AS (SELECT sum(k) AS kg, sum(n) AS ng FROM per)
         SELECT source, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
                k::DOUBLE / n::DOUBLE AS rate,
                (k::DOUBLE + 10.0 * (kg::DOUBLE / ng::DOUBLE)) /
                  (n::DOUBLE + 10.0) AS shrunk
         FROM per, g""",

    "x_dtw" ->
      """WITH RECURSIVE
         sa AS (SELECT list(v ORDER BY day) AS av FROM (
             SELECT date_trunc('day', ts) AS day,
                    sum(CAST(floor(value*100.0) AS BIGINT)) AS v
             FROM events WHERE event_type = 'click' GROUP BY 1)),
         sb AS (SELECT list(v ORDER BY day) AS bv FROM (
             SELECT date_trunc('day', ts) AS day,
                    sum(CAST(floor(value*100.0) AS BIGINT)) AS v
             FROM events WHERE event_type = 'purchase' GROUP BY 1)),
         dims AS (SELECT av, bv, len(av) AS la, len(bv) AS lb FROM sa, sb),
         dp(i, row) AS (
           SELECT 0, [0::BIGINT] ||
                  [1000000000000000::BIGINT for _ in range(1, lb+1)]
           FROM dims
           UNION ALL
           SELECT i+1,
             list_reduce(
               [[1000000000000000::BIGINT]] ||
                 [[j::BIGINT] for j in range(1, lb+1)],
               (acc, e) -> acc ||
                 [abs(av[i+1] - bv[CAST(e[1] AS INTEGER)]) +
                  least(row[CAST(e[1] AS INTEGER)+1],
                        row[CAST(e[1] AS INTEGER)],
                        acc[len(acc)])])
           FROM dp, dims WHERE i < la)
         SELECT CAST(la AS INTEGER) AS la, CAST(lb AS INTEGER) AS lb,
                CAST(row[lb+1] AS BIGINT) AS dtw_cents,
                row[lb+1]::DOUBLE / 100.0 AS dtw
         FROM dp, dims WHERE i = la""",

    "x_ngram_novelty" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents),
         sh0 AS (SELECT doc_id,
                   unnest([array_to_string(list_slice(ws, i, i+4), ' ')
                           for i in range(1, len(ws) - 3)]) AS s
                 FROM w),
         sh AS (SELECT DISTINCT doc_id, md5(s) AS fp FROM sh0),
         own AS (SELECT fp, min(doc_id) AS first_doc FROM sh GROUP BY 1)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel,
                sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)::DOUBLE
                  / count(*)::DOUBLE AS novelty
         FROM sh JOIN own USING (fp) GROUP BY 1""",

    "x_wasserstein" -> {
      val perVCols = eventTypes.map(g =>
        s"sum(CASE WHEN g = '$g' THEN 1 ELSE 0 END) AS a_$g").mkString(", ")
      val cumCols = eventTypes.map(g =>
        s"sum(a_$g) OVER w AS c_$g").mkString(", ")
      val totCols = eventTypes.map(g =>
        s"sum(CASE WHEN g = '$g' THEN 1 ELSE 0 END) AS n_$g").mkString(", ")
      val pairSelects = w1Pairs.map { case (ga, gb) =>
        s"""SELECT '$ga' AS g_a, '$gb' AS g_b,
             CAST(n_$ga AS BIGINT) AS n_a, CAST(n_$gb AS BIGINT) AS n_b,
             sum(abs(c_$ga * n_$gb - c_$gb * n_$ga) * (v_next - v)) AS w_num
           FROM cum, tot WHERE v_next IS NOT NULL GROUP BY 1, 2, 3, 4"""
      }.mkString(" UNION ALL ")
      s"""WITH f AS (SELECT CAST(floor(value * 100.0) AS BIGINT) AS v,
                       event_type AS g
                     FROM events WHERE value IS NOT NULL),
         perv AS (SELECT v, $perVCols FROM f GROUP BY 1),
         cum AS (SELECT v, $cumCols, lead(v) OVER (ORDER BY v) AS v_next
                 FROM perv
                 WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
         tot AS (SELECT $totCols FROM f),
         pairs AS ($pairSelects)
         SELECT g_a, g_b, n_a, n_b,
                CAST(CAST(w_num AS VARCHAR) AS DOUBLE) /
                  (n_a::DOUBLE * n_b::DOUBLE * 100.0) AS w1
         FROM pairs ORDER BY g_a, g_b"""
    },

    "x_pr_curve" -> {
      val m = Text.langMarkers.toMap
      s"""WITH sc AS (SELECT CAST(${dMarker(m("en"))} AS BIGINT) AS score,
                        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
                      FROM documents),
         per AS (SELECT score, count(*) AS cnt, sum(pos) AS p
                 FROM sc GROUP BY 1),
         cum AS (SELECT score, sum(cnt) OVER w AS k, sum(p) OVER w AS tp
                 FROM per
                 WINDOW w AS (ORDER BY score DESC ROWS UNBOUNDED PRECEDING)),
         tot AS (SELECT sum(pos) AS p_all FROM sc)
         SELECT score AS threshold, CAST(k AS BIGINT) AS k,
                CAST(tp AS BIGINT) AS tp,
                tp::DOUBLE / k::DOUBLE AS "precision",
                tp::DOUBLE / p_all::DOUBLE AS recall
         FROM cum, tot"""
    },

    "x_cohens_kappa" ->
      s"""WITH pr AS (SELECT lang AS truth, $dLangId AS pred
                      FROM documents),
         na AS (SELECT count(*) AS n,
                  sum(CASE WHEN truth = pred THEN 1 ELSE 0 END) AS agree
                FROM pr),
         tc AS (SELECT truth AS cls, count(*) AS rt FROM pr GROUP BY 1),
         pc AS (SELECT pred AS cls, count(*) AS rp FROM pr GROUP BY 1),
         pe AS (SELECT sum(coalesce(rt, 0) * coalesce(rp, 0)) AS pe_num
                FROM tc FULL OUTER JOIN pc USING (cls))
         SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS agree,
                CAST(pe_num AS BIGINT) AS pe_num,
                (n * agree - pe_num)::DOUBLE /
                  (n * n - pe_num)::DOUBLE AS kappa
         FROM na, pe""",

    "x_mcnemar" -> {
      val m = Text.langMarkers.toMap
      s"""WITH f AS (SELECT ${dMarker(m("en"))} >= 2 AS pa,
                       ($dLangId) = 'en' AS pb,
                       lang = 'en' AS y
                     FROM documents),
         ag AS (SELECT
             sum(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END) AS b,
             sum(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END) AS c
           FROM f)
         SELECT CAST(b AS BIGINT) AS b, CAST(c AS BIGINT) AS c,
                CASE WHEN b + c = 0 THEN NULL
                     ELSE ((b - c) * (b - c))::DOUBLE / (b + c)::DOUBLE
                END AS chi2
         FROM ag"""
    })
}
