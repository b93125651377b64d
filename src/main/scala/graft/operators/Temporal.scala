package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series join operators Spark lacks natively (SURVEY.md §2.10):
  * as-of join and banded range (temporal-neighborhood) join — both
  * expressed as compositions of exchange-friendly primitives rather than
  * custom physical operators, because the composition already yields the
  * plan a purpose-built operator would produce.
  *
  * Scale shapes:
  *  - [[asofJoin]]: ONE shuffle on the join key + an in-partition sort —
  *    the union-then-window formulation never builds a per-row probe or a
  *    range cross product, so it is exactly the distributed merge-join
  *    shape purpose-built engines use for as-of.
  *  - [[neighborCounts]]: time is quantized into radius-sized bins; each
  *    probe touches 3 bins (own + neighbors), so cost is
  *    |events|·density, not |events|² — the classic banded temporal
  *    self-join. Skewed bins (an event burst) are ordinary hot join keys:
  *    AQE skew-split applies.
  */
object Temporal {

  /** 1..n index array, EMPTY-SAFE (ADVICE r08): `sequence(1, 0)` is the
    * DESCENDING array [1, 0], so a fold over it evaluates
    * `element_at(xs, 0)` and throws "SQL array indices start at 1" on
    * an empty input series; guard to an empty index instead. */
  private[operators] def idx1(n: Column): Column =
    when(n > 0, sequence(lit(1), n))
      .otherwise(expr("cast(array() as array<int>)"))

  /** As-of join (backward): attach to each left row the LATEST right row
    * with `rightTs <= leftTs` for the same key — pandas `merge_asof` /
    * DuckDB `ASOF JOIN` semantics, including the tie case (equal
    * timestamps match).
    *
    * Implementation: union both sides tagged, window per key ordered by
    * (ts, side) with the right side FIRST on ties, then propagate the
    * last non-null right payload with `last(_, ignoreNulls)` over rows
    * unbounded-preceding..current; keep left rows. Right rows must be
    * unique per (key, ts) — pre-aggregate if not (as-of is ill-defined
    * otherwise; DuckDB picks an arbitrary winner, we refuse to).
    *
    * The RESULT carries the matched payload as an `_asof` struct column
    * (null when no right row precedes); `_side`/`_p` are internal scratch
    * names, so inputs must not already use `_side`/`_p`/`_asof` —
    * asserted, because a collision would silently corrupt the
    * union/window logic rather than error. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, tsCol: String,
               payloadCols: Seq[String]): DataFrame = {
    val reserved = Seq("_side", "_p", "_asof")
    for ((df, side) <- Seq(left -> "left", right -> "right")) {
      val clash = df.columns.toSet.intersect(reserved.toSet)
      require(clash.isEmpty,
        s"asofJoin: $side input uses reserved column name(s) ${clash.mkString(", ")}")
    }
    val payload = struct(payloadCols.map(col): _*)
    val l = left.withColumn("_side", lit(1)).withColumn("_p",
      lit(null).cast(right.select(payload).schema.head.dataType))
    val r = right.select(col(key), col(tsCol), payload.as("_p"))
      .withColumn("_side", lit(0))
    val unioned = l.select(left.columns.toIndexedSeq.map(col) :+ col("_side") :+ col("_p"): _*)
      .unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(key)
      .orderBy(col(tsCol).asc, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("_asof", last(col("_p"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .drop("_side", "_p")
  }

  /** NEAREST-event join: attach to each left row the right row with the
    * minimum |Δt| for the same key, in EITHER direction — pandas
    * `merge_asof(direction='nearest')` semantics, with the tie pinned
    * to the EARLIER right row (backward wins an exact-distance tie).
    * Composed as two [[asofJoin]] passes — backward on event micros,
    * forward on their negation — so it inherits the one-shuffle
    * distributed-merge shape; the combine is a narrow integer-micros
    * comparison. Right rows should be unique per (key, ts) (dedup
    * first, as with asofJoin) for a fully deterministic pick.
    *
    * Returns the left frame + `_nearest` (payload struct incl. `_rts`
    * micros), `nearest_delta_us`, and `nearest_dir` ('back'/'fwd'). */
  def nearestJoin(left: DataFrame, right: DataFrame, key: String,
                  tsCol: String, payloadCols: Seq[String]): DataFrame = {
    val l0 = left.withColumn("_us", unix_micros(col(tsCol)))
    val r0 = right
      .select((Seq(key, tsCol) ++ payloadCols).distinct.map(col): _*)
      .withColumn("_us", unix_micros(col(tsCol)))
      .withColumn("_rts", col("_us"))
    val pays = payloadCols :+ "_rts"
    val back = asofJoin(l0, r0, key, "_us", pays)
      .withColumnRenamed("_asof", "_back")
    val fwd = asofJoin(back.withColumn("_nus", -col("_us")),
        r0.withColumn("_nus", -col("_us")), key, "_nus", pays)
      .withColumnRenamed("_asof", "_fwd")
    val db = col("_us") - col("_back._rts")
    val df = col("_fwd._rts") - col("_us")
    val any = col("_back").isNotNull || col("_fwd").isNotNull
    val pickBack = col("_fwd").isNull ||
      (col("_back").isNotNull && db <= df)
    fwd
      .withColumn("_nearest",
        when(any, when(pickBack, col("_back")).otherwise(col("_fwd"))))
      .withColumn("nearest_delta_us",
        when(any, when(pickBack, db).otherwise(df)))
      .withColumn("nearest_dir",
        when(any, when(pickBack, lit("back")).otherwise(lit("fwd"))))
      .drop("_us", "_nus", "_back", "_fwd")
  }

  /** Per-event count of OTHER events within ±`radiusSec` seconds — a pure
    * range self-join (no equi key) made shuffle-joinable by binning time
    * at the radius: a qualifying pair is always within one bin of each
    * other, so probing {bin-1, bin, bin+1} finds every pair exactly once
    * (each right row lives in exactly one bin). Zero-neighbor events
    * survive via the left join.
    *
    * Output schema is exactly (`id`, `n_neighbors`) — both inputs are
    * projected down to (id, us) before any scratch column (`bin`,
    * `nbr_id`, `nbr_us`, `hit`) is introduced, so caller columns can
    * never collide with the internal names. */
  def neighborCounts(events: DataFrame, idCol: String, tsCol: String,
                     radiusSec: Int): DataFrame = {
    val radiusUs = radiusSec * 1000000L
    def usCol(c: Column) = unix_micros(c)
    val base = events.select(col(idCol).as("id"), usCol(col(tsCol)).as("us"))
    val probes = base.withColumn("bin",
      explode(array(Seq(-1, 0, 1).map(d =>
        expr(s"us div $radiusUs") + lit(d)): _*)))
    val binned = base
      .select(col("id").as("nbr_id"), col("us").as("nbr_us"),
        expr(s"us div $radiusUs").as("bin"))
    probes.join(binned, Seq("bin"), "left")
      .withColumn("hit",
        col("nbr_id").isNotNull && col("nbr_id") =!= col("id") &&
          abs(col("nbr_us") - col("us")) <= radiusUs)
      .groupBy(col("id"))
      .agg(sum(when(col("hit"), 1L).otherwise(0L)).as("n_neighbors"))
  }

  /** Exact dynamic time warping distance (Sakoe & Chiba 1978, full
    * window) between two integer-valued daily series, with
    * |a_i − b_j| cell costs:
    * D(i,j) = c(i,j) + min(D(i−1,j), D(i,j−1), D(i−1,j−1)).
    *
    * The DP runs entirely inside ONE nested `aggregate` higher-order
    * expression over the two collected series — legitimate
    * concentration because the series are CALENDAR-bounded (one value
    * per day), never data-sized: at 100 TB the per-day aggregation
    * upstream is the only row-scale work, and the DP stays
    * O(days²) on one executor. Integer arithmetic throughout (the
    * sentinel 10¹⁵ never overflows: path length ≤ l_a + l_b and cell
    * costs are cents), so the result replays bit-exactly in the
    * oracle's recursive-CTE formulation of the same recurrence.
    *
    * `seriesA`/`seriesB`: (day-orderable key, long value) frames —
    * callers pre-aggregate; this operator only sorts each into its
    * array. Output: l_a, l_b, dtw (the raw integer distance).
    *
    * `maxLen` ENFORCES the calendar-bounded contract (VERDICT r13
    * item 6 — the concentration argument above is sound only when the
    * caller actually pre-aggregated): a series longer than `maxLen`
    * raises in-plan, naming the bound, BEFORE the O(l_a·l_b) DP
    * expression materializes its row — a caller that passes raw event
    * rows gets a refusal, not a silent executor-memory bomb. The
    * default 8192 is ~22 years of daily values (DP ≤ 67M cells); raise
    * it deliberately for finer calendars, never to admit data-sized
    * input. */
  def dtwDistance(seriesA: DataFrame, seriesB: DataFrame,
                  orderCol: String, valCol: String,
                  maxLen: Int = 8192): DataFrame = {
    require(maxLen >= 1, s"dtwDistance: maxLen=$maxLen outside [1, ∞)")
    val inf = lit(1000000000000000L)
    def arr(df: DataFrame, out: String) = df.groupBy().agg(
      transform(
        sort_array(collect_list(struct(col(orderCol), col(valCol)))),
        x => x.getField(valCol)).as(out))
    // the guard wraps the ARRAY columns (not a separate filter): the DP
    // below reads av/bv only through these projections, so a too-long
    // series raises during the same row evaluation that would have run
    // the quadratic fold
    def guarded(c: Column, side: String) =
      when(size(c) <= maxLen, c).otherwise(raise_error(concat(
        lit(s"dtwDistance: $side series length "), size(c).cast("string"),
        lit(s" exceeds maxLen=$maxLen — the DP is O(l_a*l_b) on one" +
          " executor; pre-aggregate to a calendar-bounded series" +
          " (e.g. one value per day) or raise maxLen deliberately"))))
    val dims = arr(seriesA, "av").crossJoin(arr(seriesB, "bv"))
      .select(guarded(col("av"), "seriesA").as("av"),
        guarded(col("bv"), "seriesB").as("bv"))
      .select(col("av"), col("bv"),
        size(col("av")).as("la"), size(col("bv")).as("lb"))
    val row0 = concat(array(lit(0L)),
      transform(sequence(lit(1), col("lb")), _ => inf))
    val dp = aggregate(
      sequence(lit(1), col("la")),
      row0,
      (prev, i) => aggregate(
        sequence(lit(1), col("lb")),
        array(inf),
        (acc, j) => concat(acc, array(
          abs(element_at(col("av"), i.cast("int")) -
            element_at(col("bv"), j.cast("int"))) +
            least(element_at(prev, j.cast("int") + 1),
              element_at(prev, j.cast("int")),
              element_at(acc, size(acc)))))))
    dims.select(col("la"), col("lb"),
      element_at(dp, col("lb") + 1).as("dtw"))
  }

  /** Two-state Viterbi decoding (Viterbi 1967; the Kleinberg-burst
    * two-state shape) over a calendar-bounded observation series:
    * integer-scaled log-scores only — score_t(j) =
    * emit(j, bin_t) + max_i(score_{t−1}(i) + trans(i, j)) with a
    * deterministic prefer-state-0 tie-break — so the decode replays
    * bit-exactly in SQL.
    *
    * Same concentration contract as [[dtwDistance]]: upstream per-day
    * aggregation is the row-scale work; the DP folds once over the
    * day-ordered array inside one `aggregate` HOF carrying
    * (score0, score1, path0, path1) and emits the argmax path.
    *
    * @param series (orderCol, bin) rows, bin ∈ [0, emit(_).length)
    * @param init   integer start scores per state (length 2)
    * @param trans  trans(i)(j) integer scores
    * @param emit   emit(state)(bin) integer scores
    * @return (orderCol, state) — one row per input row */
  def viterbiTwoState(series: DataFrame, orderCol: String, binCol: String,
                      init: Seq[Long], trans: Seq[Seq[Long]],
                      emit: Seq[Seq[Long]]): DataFrame = {
    def emitScore(s: Int, bin: Column): Column =
      emit(s).zipWithIndex.foldLeft(lit(Long.MinValue / 4)) {
        case (acc, (e, b)) => when(bin === b, lit(e)).otherwise(acc)
      }
    val packed = series.groupBy().agg(
      transform(sort_array(collect_list(struct(col(orderCol), col(binCol)))),
        x => x.getField(orderCol)).as("days"),
      transform(sort_array(collect_list(struct(col(orderCol), col(binCol)))),
        x => x.getField(binCol)).as("bins"))
    // fold state: (sc0, sc1, p0, p1); step t moves both states
    val init0 = struct(
      (lit(init(0)) + emitScore(0, element_at(col("bins"), 1))).as("sc0"),
      (lit(init(1)) + emitScore(1, element_at(col("bins"), 1))).as("sc1"),
      array(lit(0)).as("p0"), array(lit(1)).as("p1"))
    val dp = aggregate(
      slice(sequence(lit(1), size(col("bins"))), lit(2),
        size(col("bins")) - 1),
      init0,
      (st, t) => {
        val bin = element_at(col("bins"), t.cast("int"))
        def move(j: Int): (Column, Column) = {
          val via0 = st.getField("sc0") + lit(trans(0)(j))
          val via1 = st.getField("sc1") + lit(trans(1)(j))
          val best = greatest(via0, via1) + emitScore(j, bin)
          val path = when(via0 >= via1, st.getField("p0"))
            .otherwise(st.getField("p1"))
          (best, concat(path, array(lit(j))))
        }
        val (s0, p0) = move(0)
        val (s1, p1) = move(1)
        struct(s0.as("sc0"), s1.as("sc1"), p0.as("p0"), p1.as("p1"))
      })
    packed.select(col("days"),
        when(dp.getField("sc0") >= dp.getField("sc1"), dp.getField("p0"))
          .otherwise(dp.getField("p1")).as("path"))
      .select(posexplode(col("days")).as(Seq("i", orderCol)), col("path"))
      .select(col(orderCol),
        element_at(col("path"), col("i") + 1).as("state"))
  }

  /** Holt–Winters additive triple smoothing (Winters 1960) over a
    * calendar-bounded series: classic init (first-period mean level,
    * two-period mean-difference trend, first-period deviations as
    * seasonals), then the L/B/S recurrences as a single `aggregate`
    * fold whose state carries (level, trend, rolling seasonal queue,
    * fitted list). Every op is a fixed-order double chain on exact
    * cent inputs, so the whole fit replays as a recursive SQL CTE.
    * Emits one row per post-warmup step: (orderCol, x, fitted, resid)
    * where fitted is the one-step-ahead forecast L+B+S. */
  def holtWintersAdditive(series: DataFrame, orderCol: String,
                          valCol: String, alpha: Double, beta: Double,
                          gamma: Double, period: Int): DataFrame = {
    val p = period
    val sorted = sort_array(collect_list(struct(col(orderCol),
      col(valCol))))
    val packed = series.groupBy().agg(
      transform(sorted, x => x.getField(orderCol)).as("ks"),
      transform(sorted, x => x.getField(valCol).cast("double")).as("xs"))
    def ssum(arr: Column, from: Int, len: Int): Column =
      aggregate(slice(arr, from, len), lit(0.0), (a, x) => a + x)
    val l0 = ssum(col("xs"), 1, p) / lit(p.toDouble)
    val b0 = (ssum(col("xs"), p + 1, p) - ssum(col("xs"), 1, p)) /
      lit((p * p).toDouble)
    val ss0 = transform(slice(col("xs"), 1, p), x => x - l0)
    val st0 = struct(l0.as("l"), b0.as("b"), ss0.as("ss"),
      expr("cast(array() as array<double>)").as("fits"))
    val (a1, b1, g1) = (1.0 - alpha, 1.0 - beta, 1.0 - gamma)
    val dp = aggregate(
      sequence(lit(p + 1), size(col("xs"))),
      st0,
      (st, t) => {
        val x = element_at(col("xs"), t.cast("int"))
        val sUsed = element_at(st.getField("ss"), 1)
        val fit = st.getField("l") + st.getField("b") + sUsed
        val newL = lit(alpha) * (x - sUsed) +
          lit(a1) * (st.getField("l") + st.getField("b"))
        val newB = lit(beta) * (newL - st.getField("l")) +
          lit(b1) * st.getField("b")
        val newS = lit(gamma) * (x - newL) + lit(g1) * sUsed
        struct(newL.as("l"), newB.as("b"),
          concat(slice(st.getField("ss"), 2, p - 1), array(newS))
            .as("ss"),
          concat(st.getField("fits"), array(fit)).as("fits"))
      })
    packed.select(col("ks"), col("xs"), dp.getField("fits").as("fits"))
      .select(posexplode(col("fits")).as(Seq("i", "fitted")),
        col("ks"), col("xs"))
      .select(element_at(col("ks"), col("i") + p + 1).as(orderCol),
        element_at(col("xs"), col("i") + p + 1).as("x"),
        col("fitted"),
        (element_at(col("xs"), col("i") + p + 1) - col("fitted"))
          .as("resid"))
  }

  /** One-dimensional random-walk Kalman filter over a bounded series:
    * state xₜ = xₜ₋₁ + w (process var `q`), observation zₜ = xₜ + v
    * (noise var `r`), diffuse prior (x₀ = 0, large `p0`) so every step
    * is a uniform update — no init special case. The optimal-recursive
    * denoiser for level-tracking metrics, and the [[holtWintersAdditive]]
    * fold shape: one `aggregate` whose state is (x, P, emitted lists).
    *
    * Exactness: each step is `P⁺ = P + q`, `K = P⁺/(P⁺ + r)`,
    * `x' = x + K·(z − x)`, `P' = (1 − K)·P⁺` — only IEEE +,−,×,÷ in a
    * fixed sequential order, so the whole trajectory replays bit-exact
    * as a recursive SQL CTE (callers feed exact-integer-derived z).
    *
    * Scale shape: the data-sized reduction happens UPSTREAM (callers
    * aggregate to a calendar-bounded series); the fold itself is a
    * parameter-bounded single-row op, the Viterbi/Holt-Winters
    * convention. */
  def kalman1d(series: DataFrame, orderCol: String, valCol: String,
               q: Double, r: Double, p0: Double): DataFrame = {
    val sorted = sort_array(collect_list(struct(col(orderCol),
      col(valCol))))
    val packed = series.groupBy().agg(
      transform(sorted, x => x.getField(orderCol)).as("ks"),
      transform(sorted, x => x.getField(valCol).cast("double")).as("zs"))
    val st0 = struct(lit(0.0).as("x"), lit(p0).as("p"),
      expr("cast(array() as array<double>)").as("fx"),
      expr("cast(array() as array<double>)").as("fp"),
      expr("cast(array() as array<double>)").as("fk"))
    val dp = aggregate(
      idx1(size(col("zs"))),
      st0,
      (st, tc) => {
        val z = element_at(col("zs"), tc.cast("int"))
        val ppred = st.getField("p") + lit(q)
        val kg = ppred / (ppred + lit(r))
        val xn = st.getField("x") + kg * (z - st.getField("x"))
        val pn = (lit(1.0) - kg) * ppred
        struct(xn.as("x"), pn.as("p"),
          concat(st.getField("fx"), array(xn)).as("fx"),
          concat(st.getField("fp"), array(pn)).as("fp"),
          concat(st.getField("fk"), array(kg)).as("fk"))
      })
    packed.select(col("ks"), col("zs"), dp.getField("fx").as("fx"),
        dp.getField("fp").as("fp"), dp.getField("fk").as("fk"))
      .select(posexplode(col("ks")).as(Seq("i", orderCol)),
        col("zs"), col("fx"), col("fp"), col("fk"))
      .select(col(orderCol),
        element_at(col("zs"), col("i") + 1).as("z"),
        element_at(col("fx"), col("i") + 1).as("x_filt"),
        element_at(col("fp"), col("i") + 1).as("p_var"),
        element_at(col("fk"), col("i") + 1).as("k_gain"))
  }

  /** Croston's method (1972) for intermittent demand: exponential
    * smoothing of the nonzero demand SIZES and of the INTER-DEMAND
    * intervals separately, forecast = ẑ/p̂ — the standard sparse-series
    * forecaster (zero-inflated SES would bias toward zero). Input is a
    * DENSE calendar spine (callers left-join zeros in); output one row
    * per demand day with the post-update state.
    *
    * Init convention: at the first demand, ẑ = that demand and p̂ = the
    * elapsed interval since the series start (q starts at 1). Zero
    * days only increment the interval counter. Pure +,×,÷ double
    * chain in fold order → recursive-CTE replayable.
    *
    * Scale shape: same as [[kalman1d]] — calendar-bounded fold after a
    * data-sized upstream aggregate. */
  def croston(series: DataFrame, orderCol: String, valCol: String,
              alpha: Double): DataFrame = {
    val sorted = sort_array(collect_list(struct(col(orderCol),
      col(valCol))))
    val packed = series.groupBy().agg(
      transform(sorted, x => x.getField(orderCol)).as("ks"),
      transform(sorted, x => x.getField(valCol).cast("long")).as("ds"))
    val st0 = struct(lit(false).as("seen"), lit(0.0).as("zh"),
      lit(0.0).as("ph"), lit(1.0).as("qq"),
      expr("cast(array() as array<int>)").as("oi"),
      expr("cast(array() as array<double>)").as("oz"),
      expr("cast(array() as array<double>)").as("op"))
    val dp = aggregate(
      idx1(size(col("ds"))),
      st0,
      (st, tc) => {
        val ti = tc.cast("int")
        val d = element_at(col("ds"), ti)
        val dd = d.cast("double")
        val zhn = when(st.getField("seen"),
          st.getField("zh") + lit(alpha) * (dd - st.getField("zh")))
          .otherwise(dd)
        val phn = when(st.getField("seen"),
          st.getField("ph") + lit(alpha) *
            (st.getField("qq") - st.getField("ph")))
          .otherwise(st.getField("qq"))
        when(d > 0L,
          struct(lit(true).as("seen"), zhn.as("zh"), phn.as("ph"),
            lit(1.0).as("qq"),
            concat(st.getField("oi"), array(ti)).as("oi"),
            concat(st.getField("oz"), array(zhn)).as("oz"),
            concat(st.getField("op"), array(phn)).as("op")))
          .otherwise(
            struct(st.getField("seen").as("seen"),
              st.getField("zh").as("zh"), st.getField("ph").as("ph"),
              (st.getField("qq") + lit(1.0)).as("qq"),
              st.getField("oi").as("oi"), st.getField("oz").as("oz"),
              st.getField("op").as("op")))
      })
    packed.select(col("ks"), col("ds"), dp.getField("oi").as("oi"),
        dp.getField("oz").as("oz"), dp.getField("op").as("op"))
      .select(posexplode(col("oi")).as(Seq("j", "ti")),
        col("ks"), col("ds"), col("oz"), col("op"))
      .select(element_at(col("ks"), col("ti")).as(orderCol),
        element_at(col("ds"), col("ti")).as("demand"),
        element_at(col("oz"), col("j") + 1).as("z_hat"),
        element_at(col("op"), col("j") + 1).as("p_hat"),
        (element_at(col("oz"), col("j") + 1) /
          element_at(col("op"), col("j") + 1)).as("forecast"))
  }

  /** SAX symbolic words (Lin/Keogh's Symbolic Aggregate approXimation,
    * rank-quantized variant) — each key's day becomes a short string:
    * hourly integer-cents sums → Piecewise Aggregate Approximation
    * (segment sums over `slotsPerSeg`-hour blocks, kept integral) →
    * per-key rank quartiles via a TOTALLY-ordered ntile (segment sum,
    * then day, then segment — the x_rfm_segments tiebreak discipline;
    * textbook SAX cuts Gaussian breakpoints on z-scores, which would
    * put unordered double sums on the graded path) → letters, joined in
    * segment order. Only FULL days (all 24 slots present) emit a word —
    * a partial day would quantize against a different support.
    *
    * The "time series as text" bridge: SAX words feed the engine's
    * whole string stack — exact dedup, n-gram similarity, inverted
    * indexes — turning motif discovery and whole-series clustering at
    * 100 TB into the string problems those operators already solve.
    *
    * Scale shape: two hash aggregates down the calendar spine, one
    * key-partitioned window over segments-per-key rows (calendar-sized,
    * never data-sized), one day-keyed rebuild aggregate. */
  def saxWords(df: DataFrame, keyCol: String, tsCol: Column,
               valueExpr: Column, slotsPerSeg: Int = 4,
               alphabet: Int = 4): DataFrame = {
    require(slotsPerSeg >= 1 && 24 % slotsPerSeg == 0,
      s"saxWords: slotsPerSeg must divide 24, got $slotsPerSeg")
    require(alphabet >= 2 && alphabet <= 26,
      s"saxWords: alphabet must be in [2, 26], got $alphabet")
    val hourly = df.groupBy(col(keyCol).as("key"),
        date_trunc("day", tsCol).as("day"), hour(tsCol).as("slot"))
      .agg(sum(floor(valueExpr * lit(100.0)).cast("decimal(38,0)")).as("v"))
    val segs = hourly
      .groupBy(col("key"), col("day"),
        (col("slot") / lit(slotsPerSeg)).cast("int").as("seg"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("nslots"))
    val fullDay = segs
      .withColumn("nday",
        sum(col("nslots")).over(Window.partitionBy("key", "day")))
      .filter(col("nday") === 24)
    val nt = ntile(alphabet).over(
      Window.partitionBy("key").orderBy(col("s"), col("day"), col("seg")))
    fullDay.withColumn("sym", call_function("chr", lit(96) + nt))
      .groupBy("key", "day")
      .agg(concat_ws("",
        transform(array_sort(collect_list(struct(col("seg"), col("sym")))),
          x => x.getField("sym"))).as("sax_word"))
      .select(col("key"), col("day"), col("sax_word"))
  }

  /** Two-state Gaussian-emission HMM Viterbi decode (regime
    * detection): states H/L with means 1.5·m̄ and 0.5·m̄ (m̄, σ² the
    * series' exact moments), shared variance, literal stay/switch
    * log-transitions. Forward pass = ONE ordered max-fold carrying
    * (v_H, v_L, backpointer arrays); the MAP path = a SECOND bounded
    * fold walking the backpointers from the argmax terminal — both
    * replayable as recursive CTEs (the [[kalman1d]] contract, plus a
    * downward recursion for the backtrace). Output: one row per
    * period with its count and MAP state.
    *
    * All emission scores are fixed IEEE chains (−(c−μ)²/(2σ²)); max
    * ties break toward H via the same `>=` on both engines. */
  def hmmViterbi2(series: DataFrame, orderCol: String, valCol: String,
                  stayP: Double = 0.9): DataFrame = {
    val lnStay = math.log(stayP)
    val lnSwitch = math.log(1.0 - stayP)
    val sorted = sort_array(collect_list(struct(col(orderCol),
      col(valCol))))
    val packed = series.groupBy().agg(
      transform(sorted, x => x.getField(orderCol)).as("ks"),
      transform(sorted, x => x.getField(valCol).cast("double")).as("cs"),
      (sum(col(valCol).cast("long")).cast("double") /
        count(lit(1)).cast("double")).as("m"),
      (sum(col(valCol).cast("long") * col(valCol).cast("long"))
        .cast("double") / count(lit(1)).cast("double")).as("ex2"))
      .withColumn("vr", col("ex2") - col("m") * col("m"))
      .withColumn("muh", lit(1.5) * col("m"))
      .withColumn("mul", lit(0.5) * col("m"))
    val st0 = struct(lit(0.0).as("vh"), lit(0.0).as("vl"),
      expr("cast(array() as array<int>)").as("bh"),
      expr("cast(array() as array<int>)").as("bl"))
    val fwd = aggregate(col("cs"), st0, (st, c) => {
      val thH = st.getField("vh") + lit(lnStay)
      val thL = st.getField("vl") + lit(lnSwitch)
      val tlH = st.getField("vh") + lit(lnSwitch)
      val tlL = st.getField("vl") + lit(lnStay)
      val emH = -(((c - col("muh")) * (c - col("muh"))) /
        (lit(2.0) * col("vr")))
      val emL = -(((c - col("mul")) * (c - col("mul"))) /
        (lit(2.0) * col("vr")))
      val bh = when(thH >= thL, 1).otherwise(0)
      val bl = when(tlH >= tlL, 1).otherwise(0)
      struct(
        (when(thH >= thL, thH).otherwise(thL) + emH).as("vh"),
        (when(tlH >= tlL, tlH).otherwise(tlL) + emL).as("vl"),
        concat(st.getField("bh"), array(bh)).as("bh"),
        concat(st.getField("bl"), array(bl)).as("bl"))
    })
    val p2 = packed.withColumn("fw", fwd)
      .withColumn("tt", size(col("cs")))
      .withColumn("fin", when(col("fw").getField("vh") >=
        col("fw").getField("vl"), 1).otherwise(0))
    // backtrace: state at day i−1 is the day-i backpointer of the
    // day-i state; build the path front-to-back by prepending
    val path = aggregate(
      sequence(lit(1), col("tt") - 1),
      struct(col("fin").as("cur"),
        array(col("fin")).as("arr")),
      (st, j) => {
        val i = (col("tt") - j + 1).cast("int")
        val nxt = when(st.getField("cur") === 1,
          element_at(col("fw").getField("bh"), i))
          .otherwise(element_at(col("fw").getField("bl"), i))
        struct(nxt.as("cur"),
          concat(array(nxt), st.getField("arr")).as("arr"))
      })
    p2.withColumn("path", path.getField("arr"))
      .select(col("ks"), col("cs"), col("path"))
      .select(posexplode(col("ks")).as(Seq("i", orderCol)),
        col("cs"), col("path"))
      .select(col(orderCol),
        element_at(col("cs"), col("i") + 1).as("c"),
        element_at(col("path"), col("i") + 1).cast("long")
          .as("map_state"))
  }

  /** Two-state HMM forward–backward posterior (the smoothing
    * companion to [[hmmViterbi2]]): per-period P(high | ALL data), in
    * per-step-normalized linear space so both recursions are pure
    * +,×,÷ chains — the Gaussian emission likelihoods are precomputed
    * in ONE [[graft.functions.Pmath.expColumn]] pass over the bounded
    * spine (clamped exponent), which keeps the recursive arms (and
    * their recursive-CTE oracle replays) free of transcendentals.
    * Output: one row per period with count, forward filter P, and
    * smoothed posterior P. */
  def hmmPosterior2(series: DataFrame, orderCol: String, valCol: String,
                    stayP: Double = 0.9): DataFrame = {
    import graft.functions.Pmath
    val sw = 1.0 - stayP
    val sorted = sort_array(collect_list(struct(col(orderCol),
      col(valCol))))
    val packed = series.groupBy().agg(
      transform(sorted, x => x.getField(orderCol)).as("ks"),
      transform(sorted, x => x.getField(valCol).cast("double")).as("cs"),
      (sum(col(valCol).cast("long")).cast("double") /
        count(lit(1)).cast("double")).as("m"),
      (sum(col(valCol).cast("long") * col(valCol).cast("long"))
        .cast("double") / count(lit(1)).cast("double")).as("ex2"))
      .withColumn("vr", col("ex2") - col("m") * col("m"))
      .withColumn("muh", lit(1.5) * col("m"))
      .withColumn("mul", lit(0.5) * col("m"))
    def em(mu: Column) = (c: Column) => Pmath.expColumn(
      greatest(-(((c - mu) * (c - mu)) / (lit(2.0) * col("vr"))),
        lit(-30.0)))
    val p1 = packed
      .withColumn("eh", transform(col("cs"), em(col("muh"))))
      .withColumn("el", transform(col("cs"), em(col("mul"))))
    val fwd = aggregate(idx1(size(col("cs"))),
      struct(lit(0.5).as("ah"), lit(0.5).as("al"),
        expr("cast(array() as array<double>)").as("fh"),
        expr("cast(array() as array<double>)").as("fl")),
      (st, tc) => {
        val i = tc.cast("int")
        val uh = (st.getField("ah") * lit(stayP) +
          st.getField("al") * lit(sw)) * element_at(col("eh"), i)
        val ul = (st.getField("ah") * lit(sw) +
          st.getField("al") * lit(stayP)) * element_at(col("el"), i)
        val s = uh + ul
        struct((uh / s).as("ah"), (ul / s).as("al"),
          concat(st.getField("fh"), array(uh / s)).as("fh"),
          concat(st.getField("fl"), array(ul / s)).as("fl"))
      })
    val bwd = aggregate(idx1(size(col("cs")) - 1),
      struct(lit(0.5).as("bh"), lit(0.5).as("bl"),
        expr("cast(array(0.5) as array<double>)").as("gh"),
        expr("cast(array(0.5) as array<double>)").as("gl")),
      (st, j) => {
        // walking t = T−1 … 1; uses emissions/β at t+1 = T−j+1
        val i = (size(col("cs")) - j + 1).cast("int")
        val vh = lit(stayP) * (element_at(col("eh"), i) *
          st.getField("bh")) + lit(sw) * (element_at(col("el"), i) *
          st.getField("bl"))
        val vl = lit(sw) * (element_at(col("eh"), i) *
          st.getField("bh")) + lit(stayP) * (element_at(col("el"), i) *
          st.getField("bl"))
        val s = vh + vl
        struct((vh / s).as("bh"), (vl / s).as("bl"),
          concat(array(vh / s), st.getField("gh")).as("gh"),
          concat(array(vl / s), st.getField("gl")).as("gl"))
      })
    p1.withColumn("fw", fwd).withColumn("bw", bwd)
      .select(col("ks"), col("cs"), col("fw"), col("bw"))
      .select(posexplode(col("ks")).as(Seq("i", orderCol)),
        col("cs"), col("fw"), col("bw"))
      .select(col(orderCol),
        element_at(col("cs"), col("i") + 1).as("c"),
        element_at(col("fw").getField("fh"), col("i") + 1)
          .as("p_filter"),
        (element_at(col("fw").getField("fh"), col("i") + 1) *
          element_at(col("bw").getField("gh"), col("i") + 1) /
          (element_at(col("fw").getField("fh"), col("i") + 1) *
            element_at(col("bw").getField("gh"), col("i") + 1) +
            element_at(col("fw").getField("fl"), col("i") + 1) *
              element_at(col("bw").getField("gl"), col("i") + 1)))
          .as("p_smooth"))
  }

  /** GARCH(1,1) conditional-variance filter with variance targeting:
    * simple returns r between consecutive observed periods, ω =
    * (1−α−β)·σ̂² with σ̂² the uncentered return second moment, then the
    * recursion v ← ω + α·r² + β·v seeded at v = σ̂². The volatility-
    * clustering readout (is tomorrow risky because today was) that a
    * revenue/telemetry monitor wants next to the level forecasts.
    *
    * Exactness: same sequential-state-fold contract as [[kalman1d]] —
    * ONE ordered fold over the calendar-bounded series, each step a
    * fixed IEEE chain, so a recursive CTE replays it bit for bit; the
    * variance target is a series-ordered fold too. Output one row per
    * return: (order, ret, cond_var — the post-update state, var_target).
    *
    * Scale shape: data-sized upstream aggregate (caller), then a
    * bounded fold — never a data-sized window. */
  def garchFilter(series: DataFrame, orderCol: String, valCol: String,
                  alpha: Double, beta: Double): DataFrame = {
    val sorted = sort_array(collect_list(struct(col(orderCol),
      col(valCol))))
    val packed = series.groupBy().agg(
      transform(sorted, x => x.getField(orderCol)).as("ks"),
      transform(sorted, x => x.getField(valCol).cast("double")).as("cs"))
    val rsExpr = transform(sequence(lit(2), size(col("cs"))), i =>
      (element_at(col("cs"), i.cast("int")) -
        element_at(col("cs"), (i - 1).cast("int"))) /
        element_at(col("cs"), (i - 1).cast("int")))
    val p2 = packed.withColumn("rs", rsExpr)
      .withColumn("mvar",
        aggregate(col("rs"), lit(0.0), (a, r) => a + r * r) /
          size(col("rs")).cast("double"))
    val omega = lit(1.0 - alpha - beta) * col("mvar")
    val st0 = struct(col("mvar").as("v"),
      expr("cast(array() as array<double>)").as("fv"))
    val dp = aggregate(col("rs"), st0, (st, r) => {
      val vn = omega + lit(alpha) * (r * r) + lit(beta) * st.getField("v")
      struct(vn.as("v"), concat(st.getField("fv"), array(vn)).as("fv"))
    })
    p2.select(col("ks"), col("rs"), col("mvar"),
        dp.getField("fv").as("fv"))
      .select(col("ks"), col("fv"), col("mvar"),
        posexplode(col("rs")).as(Seq("j", "ret")))
      .select(element_at(col("ks"), (col("j") + 2).cast("int"))
          .as(orderCol),
        col("ret"),
        element_at(col("fv"), (col("j") + 1).cast("int")).as("cond_var"),
        col("mvar").as("var_target"))
  }
}
