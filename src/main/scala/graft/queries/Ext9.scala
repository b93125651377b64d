package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Pmath, Text}
import graft.operators.Similarity

/** Round-7 second wave — agreement / association / variance-component
  * statistics and corpus-comparison scoring, all on the standing exact
  * recipes:
  *
  *  - the kendall-grid pair geometry (bin → cell-count self-join) for
  *    the ordinal trio gamma / Somers' D / Stuart tau-c — pairwise
  *    counts from the O(cells²) grid, never the O(n²) rows;
  *  - the PMI ratio-branch portable ln (integer num/den, ln of the ≥1
  *    branch, sign from the integer compare) for per-term G²;
  *  - pure integer rating counts for Fleiss' kappa (three marker-
  *    threshold raters), one fixed-order double epilogue;
  *  - the 2⁻²⁰ quantized per-group S²/n term for the one-way ICC so the
  *    between-group sum of squares accumulates as an exact decimal.
  */
object Ext9 extends QuerySet {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val dbl = (c: Column) => c.cast("double")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ordinal association trio over the (word-count bin, char-count bin)
    // grid of documents: Goodman–Kruskal gamma, Somers' D (y|x) and
    // Stuart's tau-c from one concordant/discordant pair census — the
    // kendall_tau machinery with the tie census kept in doubled integers
    // (2·T_y) so no division happens before the final ratios
    "x_ordinal_assoc" -> ((s, d) => {
      val f = t(s, d, "documents").select(
        least(lit(19L), floor(dbl(size(split(col("text"), " "))) /
          lit(20.0)).cast("long")).as("x"),
        least(lit(19L), floor(dbl(col("n_chars")) / lit(100.0))
          .cast("long")).as("y"))
      val grid = f.groupBy("x", "y").agg(count(lit(1)).as("c"))
      // pair products and tie terms accumulate in decimal(38,0): cell
      // counts are data-sized, so c_a·c_b and r·(r−1) pass 2⁶³ near
      // 3×10⁹ rows — the cliffsDelta cross-product discipline. Final
      // conc/disc readouts cast back to BIGINT (never DECIMAL output).
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val pairs = grid.as("a").join(grid.as("b"), col("b.x") < col("a.x"))
        .groupBy().agg(
          sum(when(col("b.y") < col("a.y"),
            dec(col("a.c")) * col("b.c")).otherwise(lit(0L))).as("conc"),
          sum(when(col("b.y") > col("a.y"),
            dec(col("a.c")) * col("b.c")).otherwise(lit(0L))).as("disc"))
      val ty = grid.groupBy("y").agg(sum("c").as("r"))
        .groupBy().agg(sum(dec(col("r")) * (col("r") - 1)).as("ty2"))
      val tb = grid.groupBy().agg(sum(dec(col("c")) * (col("c") - 1)).as("tb2"))
      val mm = grid.groupBy().agg(countDistinct("x").as("nx"),
        countDistinct("y").as("ny"), sum("c").as("n"))
      pairs.crossJoin(ty).crossJoin(tb).crossJoin(mm)
        .withColumn("m", least(col("nx"), col("ny")))
        .select(col("n"), col("conc").cast("long").as("conc"),
          col("disc").cast("long").as("disc"), col("m"),
          (dbl(col("conc") - col("disc")) / dbl(col("conc") + col("disc")))
            .as("gamma"),
          (dbl(lit(2L) * (col("conc") - col("disc"))) /
            dbl(lit(2L) * col("conc") + lit(2L) * col("disc") +
              (col("ty2") - col("tb2")))).as("somers_d"),
          (dbl(lit(2L) * col("m") * (col("conc") - col("disc"))) /
            dbl(dec(col("n")) * col("n") * (col("m") - lit(1L)))).as("tau_c"))
    }),

    // per-term G² (log-likelihood-ratio keyness) of English vs the rest:
    // the chi2_terms contingency with the information-theoretic score —
    // integer num/den ratio branches through the portable ln, top 20
    // by G² with the term string as the deterministic tie-break
    "x_gtest_terms" -> ((s, d) => {
      val tok = t(s, d, "documents").select(
        (col("lang") === "en").as("pos"),
        explode(split(col("text"), " ")).as("t"))
      val term = tok.groupBy("t").agg(
        sum(when(col("pos"), 1L).otherwise(0L)).as("a"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("b"))
      val tot = tok.groupBy().agg(
        sum(when(col("pos"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("n2"))
      term.filter(col("a") >= 1L && col("b") >= 1L &&
          (col("a") + col("b")) >= 50L)
        .crossJoin(broadcast(tot))
        .withColumn("nn", col("n1") + col("n2"))
        .withColumn("num_a", col("a") * col("nn"))
        .withColumn("den_a", (col("a") + col("b")) * col("n1"))
        .withColumn("num_b", col("b") * col("nn"))
        .withColumn("den_b", (col("a") + col("b")) * col("n2"))
        .withColumn("ln_a", Pmath.lnColumn(
          when(col("num_a") >= col("den_a"),
            dbl(col("num_a")) / dbl(col("den_a")))
            .otherwise(dbl(col("den_a")) / dbl(col("num_a")))))
        .withColumn("ln_b", Pmath.lnColumn(
          when(col("num_b") >= col("den_b"),
            dbl(col("num_b")) / dbl(col("den_b")))
            .otherwise(dbl(col("den_b")) / dbl(col("num_b")))))
        .withColumn("g2", lit(2.0) * (
          dbl(col("a")) * (when(col("num_a") >= col("den_a"), col("ln_a"))
            .otherwise(-col("ln_a"))) +
          dbl(col("b")) * (when(col("num_b") >= col("den_b"), col("ln_b"))
            .otherwise(-col("ln_b")))))
        .orderBy(desc("g2"), col("t"))
        .limit(20)
        .select(col("t").as("term"), col("a"), col("b"), col("g2"))
    }),

    // Fleiss' kappa over three deterministic "raters" (the en-marker
    // detector at thresholds 1/2/3) on every document, binary verdicts:
    // the whole statistic reduces to two integer sums (Σn₁, Σ(n₁²+n₀²))
    // and a fixed-order double epilogue — exact at any scale
    "x_fleiss_kappa" -> ((s, d) => {
      val en = Text.langMarkers.toMap.apply("en")
      val mc = Text.markerCount(col("text"), en)
      val f = t(s, d, "documents").select(
        ((mc >= 1).cast("long") + (mc >= 2).cast("long") +
          (mc >= 3).cast("long")).as("n1"))
      f.groupBy().agg(count(lit(1)).as("n_docs"), sum("n1").as("s1"),
          sum(col("n1") * col("n1") +
            (lit(3L) - col("n1")) * (lit(3L) - col("n1"))).as("s2"))
        .withColumn("pbar", dbl(col("s2") - lit(3L) * col("n_docs")) /
          dbl(lit(6L) * col("n_docs")))
        .withColumn("p1", dbl(col("s1")) / dbl(lit(3L) * col("n_docs")))
        .withColumn("p0", dbl(lit(3L) * col("n_docs") - col("s1")) /
          dbl(lit(3L) * col("n_docs")))
        .withColumn("pe", col("p1") * col("p1") + col("p0") * col("p0"))
        .select(col("n_docs"), col("s1"), col("s2"), col("pbar"), col("pe"),
          ((col("pbar") - col("pe")) / (lit(1.0) - col("pe"))).as("kappa"))
    }),

    // one-way intraclass correlation ICC(1) of quantity within part
    // groups: between/within sums of squares from integer cents, the
    // per-group S²/n rational quantized to 2⁻²⁰ fixed point and summed
    // in decimal(38,0) (the exact-decimal rule for data-scale Σ of
    // non-identical rationals), unequal group sizes via the k₀ =
    // (N − Σn²/N)/(a−1) ANOVA correction
    "x_icc" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(col("l_partkey").as("g"),
        floor(col("l_quantity") * lit(100.0)).cast("long").as("xc"))
      // sg², ng², xc² square data-scale integers → decimal(38,0) before
      // the multiply (LONG wraps past ~3×10⁹-row groups); all three are
      // internal accumulators, never output columns
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val per = li.groupBy("g").agg(count(lit(1)).as("ng"),
          sum("xc").as("sg"))
        .select(col("ng"), col("sg"),
          floor((dbl(dec(col("sg")) * col("sg")) / dbl(col("ng"))) *
            lit(1048576.0)).cast("long").as("qg"))
      val byGroup = per.groupBy().agg(count(lit(1)).as("a"),
        sum("ng").as("n"), sum(dec(col("ng")) * col("ng")).as("sn2"),
        sum(col("qg").cast("decimal(38,0)")).as("qsum"))
      val byRow = li.groupBy().agg(sum(dec(col("xc")) * col("xc")).as("ssq"),
        sum("xc").as("sx"))
      byGroup.crossJoin(byRow)
        .withColumn("t1", col("qsum").cast("string").cast("double") /
          lit(1048576.0))
        .withColumn("ssb", col("t1") - (dbl(col("sx")) * dbl(col("sx"))) /
          dbl(col("n")))
        .withColumn("ssw", dbl(col("ssq")) - col("t1"))
        .withColumn("k0", (dbl(col("n")) - dbl(col("sn2")) / dbl(col("n"))) /
          (dbl(col("a")) - lit(1.0)))
        .withColumn("msb", col("ssb") / (dbl(col("a")) - lit(1.0)))
        .withColumn("msw", col("ssw") / (dbl(col("n")) - dbl(col("a"))))
        .select(col("a"), col("n"), col("k0"), col("msb"), col("msw"),
          ((col("msb") - col("msw")) /
            (col("msb") + (col("k0") - lit(1.0)) * col("msw"))).as("icc"))
    }),

    // driver-hash canary (round-8 verdict item 7): one row exercising
    // every output type the engine emits — BIGINT, INTEGER, DOUBLE,
    // VARCHAR, BOOLEAN, TIMESTAMP (µs NTZ, the testdata's own physical
    // layout), DATE — each produced BOTH from a plain scan and from an
    // aggregate. Purely diagnostic: if the driver's parquet-read vs
    // duckdb-fetch hash paths ever diverge on a dtype (the round-6/7
    // DECIMAL lesson), this query localizes the culprit column
    // instantly instead of costing a round of archaeology.
    // Round-9 note: the r08 driver proved raw ARRAY output columns are
    // un-hashable in the harness (pandas sort_values on ndarray cells),
    // so the list probes are serialized to canonical "[a,b]" VARCHAR on
    // BOTH sides — the dtype path (array construction, element order)
    // is still exercised; only the final cell is a string.
    "x_type_canary" -> ((s, d) => {
      val ev = t(s, d, "events")
      val one = ev.orderBy(col("event_id").asc).limit(1)
        .select(
          col("event_id").as("scan_big"),
          col("event_id").cast("int").as("scan_int"),
          col("value").as("scan_dbl"),
          col("event_type").as("scan_str"),
          (col("value") > lit(1.0)).as("scan_bool"),
          col("ts").cast("timestamp_ntz").as("scan_ts"),
          col("ts").cast("date").as("scan_date"),
          concat(lit("["), concat_ws(",",
            array(col("event_id"), col("user_id"))), lit("]"))
            .as("scan_arr"))
      val agg = ev.agg(
          count(lit(1)).as("nr"),
          max("event_id").as("mx"),
          max("value").as("agg_dbl"),
          max("event_type").as("agg_str"),
          max("ts").as("mts"))
        .select(col("nr").as("agg_big"),
          col("mx").cast("int").as("agg_int"),
          col("agg_dbl"), col("agg_str"),
          (col("nr") > lit(0L)).as("agg_bool"),
          col("mts").cast("timestamp_ntz").as("agg_ts"),
          col("mts").cast("date").as("agg_date"),
          concat(lit("["), concat_ws(",",
            array(col("nr"), col("nr") + lit(1L))), lit("]"))
            .as("agg_arr"))
      one.crossJoin(broadcast(agg))
    }),

    // single-type probes for the three dtypes NO r07-driver-green query
    // ever emitted (TIMESTAMP, DATE, ARRAY — checked against
    // CORRECTNESS_r07: 330 green queries output BIGINT, 217 DOUBLE,
    // 156 VARCHAR, 72 INTEGER, 13 BOOLEAN, zero emit these three).
    // The driver's hash is per-QUERY, so if the combined canary fails
    // these minis say exactly WHICH dtype diverged; each also carries
    // one proven-green BIGINT key so a mini failing isolates its own
    // type beyond doubt.
    "x_type_canary_ts" -> ((s, d) => {
      val ev = t(s, d, "events")
      ev.orderBy(col("event_id").asc).limit(1)
        .select(col("event_id").as("k"),
          col("ts").cast("timestamp_ntz").as("scan_ts"))
        .crossJoin(broadcast(ev.agg(max("ts").as("m"))
          .select(col("m").cast("timestamp_ntz").as("agg_ts"))))
    }),

    "x_type_canary_date" -> ((s, d) => {
      val ev = t(s, d, "events")
      ev.orderBy(col("event_id").asc).limit(1)
        .select(col("event_id").as("k"), col("ts").cast("date").as("scan_date"))
        .crossJoin(broadcast(ev.agg(max(col("ts").cast("date")).as("agg_date"))))
    }),

    // frame-level audio features from the REAL JDK WAV decode — the
    // feature-extract step after x_audio_decode's clip gate: 16-sample
    // frames, integer energy/peak/ZCR per frame plus the one-division-
    // one-sqrt rms; the oracle regenerates every sample from the synth
    // closed form, so any frame-boundary or sign-logic slip mismatches
    "x_audio_frames" -> ((s, d) =>
      graft.operators.Multimodal.decodeWavFrames(
        graft.operators.Multimodal.synthWavs(
          t(s, d, "documents").filter(col("doc_id") < 200), "doc_id"))),

    // the WordPiece-runtime half of tokenizer induction: vocab = top-64
    // substrings (len ≤ 4) of the doc_id<1000 sample's words by
    // weighted occurrence count, then greedy longest-match segmentation
    // of the whole corpus — pure integer/string arithmetic end to end,
    // oracle replays vocab induction AND the walk (list_reduce over a
    // position-state string, the bpeEncode fold precedent)
    "x_wordpiece_segment" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.LangModel.wordpieceUsage(
        docs.filter(col("doc_id") < 1000), docs, "text")
    }),

    // greedy k-center coreset seeding (Gonzalez) over the embeddings —
    // the diversity-MAX census: 8 centers, each round argmax of
    // min-distance (ties to the lowest id), then the covering census
    // per center. All distances are the proven fixed-order dot
    // arithmetic, so the full selection chain replays as unrolled CTEs.
    "x_kcenter_select" -> ((s, d) =>
      Similarity.kCenterSelect(t(s, d, "embeddings"), "vec_id",
        "embedding", 8)),

    "x_type_canary_arr" -> ((s, d) => {
      val ev = t(s, d, "events")
      ev.orderBy(col("event_id").asc).limit(1)
        .select(col("event_id").as("k"),
          concat(lit("["), concat_ws(",",
            array(col("event_id"), col("user_id"))), lit("]"))
            .as("scan_arr"))
        .crossJoin(broadcast(ev.agg(count(lit(1)).as("nr"))
          .select(concat(lit("["), concat_ws(",",
            array(col("nr"), col("nr") + lit(1L))), lit("]"))
            .as("agg_arr"))))
    }),
  )

  // ---------------------------------------------------------------- SQL

  /** Unrolled Gonzalez k-center chain: c0 = lowest-id vector; round r
    * computes every point's min distance to c0..c{r-1} (the engine's
    * exact fixed-order form v·v + least(c·c − 2 v·c)) and takes the
    * (d DESC, vec_id ASC) head; the census assigns by (s ASC, rk ASC)
    * row_number — the array_min struct order on the engine side. */
  private def kcenterSql(k: Int): String = {
    def term(c: String) =
      s"list_dot_product($c.v, $c.v) - 2.0 * list_dot_product(e.v, $c.v)"
    val ctes = Seq.newBuilder[String]
    ctes += """e AS (SELECT vec_id, list_transform(embedding,
        x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE embedding IS NOT NULL)"""
    ctes += "c0 AS (SELECT vec_id, v FROM e ORDER BY vec_id ASC LIMIT 1)"
    (1 until k).foreach { r =>
      val prev = (0 until r).map(j => term(s"c$j"))
      val m = if (prev.size == 1) prev.head
        else s"least(${prev.mkString(", ")})"
      val joins = (0 until r).map(j => s"CROSS JOIN c$j").mkString(" ")
      ctes += s"""d$r AS (SELECT e.vec_id, e.v,
          list_dot_product(e.v, e.v) + ($m) AS d FROM e $joins)"""
      ctes += s"""c$r AS (SELECT vec_id, v FROM d$r
          ORDER BY d DESC, vec_id ASC LIMIT 1)"""
    }
    val union = (0 until k)
      .map(j => s"SELECT $j AS rk, vec_id, v FROM c$j")
      .mkString(" UNION ALL ")
    s"""WITH ${ctes.result().mkString(",\n")},
       cents AS ($union),
       sc AS (SELECT e.vec_id, c.rk,
                list_dot_product(e.v, e.v) AS vv,
                list_dot_product(c.v, c.v) - 2.0 * list_dot_product(e.v, c.v)
                  AS s
              FROM e CROSS JOIN cents c),
       asg AS (SELECT vec_id, rk, vv + s AS d FROM
               (SELECT *, row_number() OVER (PARTITION BY vec_id
                  ORDER BY s ASC, rk ASC) AS rn FROM sc)
               WHERE rn = 1)
       SELECT CAST(a.rk AS BIGINT) AS center_rank,
              c.vec_id AS center_id,
              CAST(count(*) AS BIGINT) AS n_assigned,
              max(a.d) AS radius_d2
       FROM asg a JOIN cents c ON a.rk = c.rk
       GROUP BY 1, 2"""
  }

  /** WordPiece greedy-segmentation replay: vocab induction as plain
    * aggregates, the longest-match walk as a list_reduce whose
    * accumulator is a chr(30)-separated (consumed-chars, pieces)
    * state string (pieces chr(31)-joined — the bpeFold encoding).
    * Words are ≤ 20 chars so 20 fold steps always finish the walk;
    * finished states pass through untouched. */
  private def wordpieceSql: String = {
    val P = "CAST(string_split(acc, chr(30))[1] AS INT)"
    val PS = "string_split(acc, chr(30))[2]"
    def mk(np: String, piece: String) =
      s"CAST($np AS VARCHAR) || chr(30) || (CASE WHEN $PS = '' " +
        s"THEN $piece ELSE $PS || chr(31) || $piece END)"
    def arm(l: Int) =
      s"WHEN $P + $l <= len(w) AND list_contains(vocab, " +
        s"substr(w, $P + 1, $l)) THEN " +
        mk(s"$P + $l", s"substr(w, $P + 1, $l)")
    val step = s"""CASE WHEN $P >= len(w) THEN acc
        ${(4 to 1 by -1).map(arm).mkString("\n        ")}
        ELSE ${mk(s"$P + 1", "'<unk>'")} END"""
    s"""WITH wsamp AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM
          (SELECT unnest(string_split(text, ' ')) AS w FROM documents
           WHERE doc_id < 1000)
          WHERE w <> '' AND len(w) <= 20 GROUP BY w),
       g1 AS (SELECT cnt, w, unnest(range(1, len(w) + 1)) AS i FROM wsamp),
       g2 AS (SELECT cnt, w, i, unnest([1, 2, 3, 4]) AS l FROM g1),
       sub AS (SELECT substr(w, i::INT, l) AS p,
                 CAST(sum(cnt) AS BIGINT) AS n
               FROM g2 WHERE i + l - 1 <= len(w) GROUP BY 1),
       voc AS (SELECT p FROM sub ORDER BY n DESC, p ASC LIMIT 64),
       vl AS (SELECT list(p) AS vocab FROM voc),
       wcorp AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM
          (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
          WHERE w <> '' AND len(w) <= 20 GROUP BY w),
       seg AS (SELECT cnt, list_reduce(
                 list_prepend('0' || chr(30),
                   list_transform(range(1, 21), x -> '')),
                 (acc, x) -> $step) AS st
               FROM wcorp CROSS JOIN vl),
       pieces AS (SELECT cnt, unnest(string_split(
                    string_split(st, chr(30))[2], chr(31))) AS piece
                  FROM seg),
       agg AS (SELECT piece, CAST(sum(cnt) AS BIGINT) AS n_uses
               FROM pieces WHERE piece <> '' GROUP BY 1)
       SELECT piece, n_uses FROM agg
       ORDER BY n_uses DESC, piece ASC LIMIT 20"""
  }

  val oracle: Map[String, String] = Map(

    "x_kcenter_select" -> kcenterSql(8),

    "x_wordpiece_segment" -> wordpieceSql,

    // what a correct frame split of the decoded WAV MUST report: the
    // synth samples ((id·73 + i·37) mod 4096) − 2048 regenerated
    // positionally, framed by i div 16, zero crossings over adjacent
    // pairs WITHIN the frame (lag partitioned by frame), rms as one
    // exact division then one correctly-rounded sqrt
    "x_audio_frames" ->
      """WITH ids AS (SELECT doc_id AS media_id, 32 + doc_id % 33 AS n
                      FROM documents WHERE doc_id < 200),
         s AS (SELECT media_id, i // 16 AS frame_idx, i,
                 ((media_id * 73 + i * 37) % 4096) - 2048 AS v
               FROM (SELECT media_id, unnest(range(n)) AS i FROM ids)),
         z AS (SELECT media_id, frame_idx, v,
                 CASE WHEN v < 0 THEN -1 ELSE 1 END AS sg,
                 lag(CASE WHEN v < 0 THEN -1 ELSE 1 END) OVER
                   (PARTITION BY media_id, frame_idx ORDER BY i) AS psg
               FROM s)
         SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
                CAST(count(*) AS BIGINT) AS n_in_frame,
                CAST(sum(v) AS BIGINT) AS sum_amp,
                CAST(sum(v * v) AS BIGINT) AS sum_sq,
                CAST(max(abs(v)) AS INTEGER) AS peak,
                CAST(count(*) FILTER (WHERE psg IS NOT NULL AND sg <> psg)
                     AS BIGINT) AS zcr,
                sqrt(CAST(sum(v * v) AS DOUBLE) / count(*)) AS rms
         FROM z GROUP BY media_id, frame_idx""",

    "x_ordinal_assoc" ->
      """WITH f AS (SELECT
             least(19, CAST(floor(len(string_split(text, ' '))::DOUBLE
               / 20.0) AS BIGINT)) AS x,
             least(19, CAST(floor(n_chars::DOUBLE / 100.0) AS BIGINT)) AS y
           FROM documents),
         grid AS (SELECT x, y, count(*) AS c FROM f GROUP BY 1, 2),
         p AS (SELECT
             sum(CASE WHEN b.y < a.y THEN a.c::HUGEINT * b.c ELSE 0 END)
               AS conc,
             sum(CASE WHEN b.y > a.y THEN a.c::HUGEINT * b.c ELSE 0 END)
               AS disc
           FROM grid a JOIN grid b ON b.x < a.x),
         ty AS (SELECT sum(r::HUGEINT * (r - 1)) AS ty2 FROM
                  (SELECT sum(c) AS r FROM grid GROUP BY y)),
         tb AS (SELECT sum(c::HUGEINT * (c - 1)) AS tb2 FROM grid),
         mm AS (SELECT count(DISTINCT x) AS nx, count(DISTINCT y) AS ny,
                       sum(c) AS n FROM grid)
         SELECT CAST(n AS BIGINT) AS n, CAST(conc AS BIGINT) AS conc,
                CAST(disc AS BIGINT) AS disc,
                CAST(least(nx, ny) AS BIGINT) AS m,
                (conc - disc)::DOUBLE / (conc + disc)::DOUBLE AS gamma,
                (2 * (conc - disc))::DOUBLE /
                  (2 * conc + 2 * disc + (ty2 - tb2))::DOUBLE AS somers_d,
                (2 * least(nx, ny) * (conc - disc))::DOUBLE /
                  (n::HUGEINT * n * (least(nx, ny) - 1))::DOUBLE AS tau_c
         FROM p, ty, tb, mm""",

    "x_gtest_terms" -> {
      val (chains, last) = Pmath.lnSqlChainCtes("j", "gq",
        Seq(
          ("CASE WHEN num_a >= den_a THEN num_a::DOUBLE / den_a::DOUBLE " +
            "ELSE den_a::DOUBLE / num_a::DOUBLE END") -> "ln_a",
          ("CASE WHEN num_b >= den_b THEN num_b::DOUBLE / den_b::DOUBLE " +
            "ELSE den_b::DOUBLE / num_b::DOUBLE END") -> "ln_b"),
        carry = Seq("t", "a", "b", "num_a", "den_a", "num_b", "den_b"))
      s"""WITH tok AS (SELECT lang = 'en' AS pos,
                 unnest(string_split(text, ' ')) AS t FROM documents),
         term AS (SELECT t,
             CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS b
           FROM tok GROUP BY t),
         tot AS (SELECT
             CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS n2
           FROM tok),
         j AS (SELECT t, a, b,
             CAST(a * (n1 + n2) AS BIGINT) AS num_a,
             CAST((a + b) * n1 AS BIGINT) AS den_a,
             CAST(b * (n1 + n2) AS BIGINT) AS num_b,
             CAST((a + b) * n2 AS BIGINT) AS den_b
           FROM term CROSS JOIN tot
           WHERE a >= 1 AND b >= 1 AND (a + b) >= 50),
         $chains
         SELECT t AS term, a, b,
                2.0 * (a::DOUBLE * (CASE WHEN num_a >= den_a THEN ln_a
                         ELSE -ln_a END)
                     + b::DOUBLE * (CASE WHEN num_b >= den_b THEN ln_b
                         ELSE -ln_b END)) AS g2
         FROM $last ORDER BY g2 DESC, t LIMIT 20"""
    },

    "x_fleiss_kappa" -> {
      val en = Text.langMarkers.toMap.apply("en")
        .map(v => s"'$v'").mkString(",")
      s"""WITH r AS (SELECT len(list_filter(string_split(text, ' '),
                 t -> t IN ($en))) AS mc FROM documents),
         f AS (SELECT (CASE WHEN mc >= 1 THEN 1 ELSE 0 END
                     + CASE WHEN mc >= 2 THEN 1 ELSE 0 END
                     + CASE WHEN mc >= 3 THEN 1 ELSE 0 END) AS n1 FROM r),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(n1) AS BIGINT) AS s1,
                      CAST(sum(n1 * n1 + (3 - n1) * (3 - n1)) AS BIGINT)
                        AS s2
               FROM f),
         e AS (SELECT *,
                 (s2 - 3 * n_docs)::DOUBLE / (6 * n_docs)::DOUBLE AS pbar,
                 s1::DOUBLE / (3 * n_docs)::DOUBLE AS p1,
                 (3 * n_docs - s1)::DOUBLE / (3 * n_docs)::DOUBLE AS p0
               FROM m),
         pe AS (SELECT *, p1 * p1 + p0 * p0 AS pe FROM e)
         SELECT n_docs, s1, s2, pbar, pe,
                (pbar - pe) / (1.0 - pe) AS kappa
         FROM pe"""
    },

    "x_icc" ->
      """WITH li AS (SELECT l_partkey AS g,
             CAST(floor(l_quantity * 100.0) AS BIGINT) AS xc
           FROM lineitem),
         per AS (SELECT CAST(count(*) AS BIGINT) AS ng,
                        CAST(sum(xc) AS BIGINT) AS sg
                 FROM li GROUP BY g),
         q AS (SELECT ng, sg,
                 CAST(floor(((sg::HUGEINT * sg)::DOUBLE / ng::DOUBLE)
                   * 1048576.0) AS BIGINT) AS qg
               FROM per),
         bg AS (SELECT CAST(count(*) AS BIGINT) AS a,
                       CAST(sum(ng) AS BIGINT) AS n,
                       sum(ng::HUGEINT * ng) AS sn2,
                       CAST(sum(qg) AS DECIMAL(38,0)) AS qsum
                FROM q),
         br AS (SELECT sum(xc::HUGEINT * xc) AS ssq,
                       CAST(sum(xc) AS BIGINT) AS sx
                FROM li),
         e AS (SELECT *, CAST(CAST(qsum AS VARCHAR) AS DOUBLE)
                 / 1048576.0 AS t1
               FROM bg CROSS JOIN br),
         e2 AS (SELECT *,
                  t1 - (sx::DOUBLE * sx::DOUBLE) / n::DOUBLE AS ssb,
                  ssq::DOUBLE - t1 AS ssw,
                  (n::DOUBLE - sn2::DOUBLE / n::DOUBLE)
                    / (a::DOUBLE - 1.0) AS k0
                FROM e),
         e3 AS (SELECT *, ssb / (a::DOUBLE - 1.0) AS msb,
                          ssw / (n::DOUBLE - a::DOUBLE) AS msw
                FROM e2)
         SELECT a, n, k0, msb, msw,
                (msb - msw) / (msb + (k0 - 1.0) * msw) AS icc
         FROM e3""",

    "x_type_canary" ->
      """WITH one AS (SELECT event_id AS scan_big,
                CAST(event_id AS INTEGER) AS scan_int,
                value AS scan_dbl,
                event_type AS scan_str,
                value > 1.0 AS scan_bool,
                ts AS scan_ts,
                CAST(ts AS DATE) AS scan_date,
                '[' || array_to_string([event_id, user_id], ',') || ']'
                  AS scan_arr
              FROM events ORDER BY event_id ASC LIMIT 1),
         agg AS (SELECT CAST(count(*) AS BIGINT) AS agg_big,
                CAST(max(event_id) AS INTEGER) AS agg_int,
                max(value) AS agg_dbl,
                max(event_type) AS agg_str,
                count(*) > 0 AS agg_bool,
                max(ts) AS agg_ts,
                CAST(max(ts) AS DATE) AS agg_date,
                '[' || array_to_string(
                  [CAST(count(*) AS BIGINT),
                   CAST(count(*) + 1 AS BIGINT)], ',') || ']' AS agg_arr
              FROM events)
         SELECT * FROM one CROSS JOIN agg""",

    "x_type_canary_ts" ->
      """SELECT event_id AS k, ts AS scan_ts,
                (SELECT max(ts) FROM events) AS agg_ts
         FROM events ORDER BY event_id ASC LIMIT 1""",

    "x_type_canary_date" ->
      """SELECT event_id AS k, CAST(ts AS DATE) AS scan_date,
                (SELECT CAST(max(ts) AS DATE) FROM events) AS agg_date
         FROM events ORDER BY event_id ASC LIMIT 1""",

    "x_type_canary_arr" ->
      """SELECT event_id AS k,
                '[' || array_to_string([event_id, user_id], ',') || ']'
                  AS scan_arr,
                (SELECT '[' || array_to_string(
                          [CAST(count(*) AS BIGINT),
                           CAST(count(*) + 1 AS BIGINT)], ',') || ']'
                 FROM events) AS agg_arr
         FROM events ORDER BY event_id ASC LIMIT 1""",
  )
}
