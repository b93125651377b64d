package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Web
import graft.pipelines.Corpus

/** Round-5 web-corpus curation wave: the normalization passes a crawl
  * pipeline runs BEFORE the dedup/quality stages the engine already
  * ships — cross-document line-level boilerplate removal
  * ([[Corpus.lineDedup]]), HTML stripping and URL dissection
  * ([[graft.functions.Web]]), and per-domain quota capping
  * ([[Corpus.domainCap]]).
  *
  * The `documents` fixture has no newlines and no markup, so each query
  * CONSTRUCTS its input deterministically from the text (word-chunk
  * lines, entity-encoded HTML wrapping, synthesized URLs) with
  * engine-portable expressions, and the oracle performs the identical
  * construction — the differential gate then checks the OPERATOR, not
  * the fixture. Regex discipline per [[Web]]: RE2 ∩ java.util.regex
  * only (no backreferences), global replace made explicit on the
  * DuckDB side ('g' flag — DuckDB replaces first-match by default
  * where Spark replaces all).
  */
object Ext4 extends QuerySet {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** 2-word chunk "lines" of a space-tokenized text column — the
    * deterministic multi-line construction shared by the line-dedup
    * query and its oracle. */
  private def chunkLines(text: Column, chunk: Int): Column = {
    val w = split(text, " ")
    concat_ws("\n",
      transform(
        sequence(lit(0), (ceil(size(w) / lit(chunk.toDouble))).cast("int") - 1),
        i => concat_ws(" ", slice(w, i * chunk + 1, lit(chunk)))))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // cross-doc line dedup: 2-word lines, boilerplate = a line shared
    // by ≥ 20 distinct docs (105 of 944 distinct lines here) — docs
    // rebuilt from surviving lines in order.
    // Skew.spread before the chunking: lineDedup references its input
    // THREE times (hot-line census, anti-join, per-doc totals), so the
    // word-split + slice chain re-runs per subtree — and on the
    // single-row-group documents fixture each re-run sat in ONE task
    // (JobProbe r16: two concurrent multi-second jobs, one per scan
    // subtree). Spreading the scan parallelizes every re-run; counts,
    // the anti-join and the sort_array(struct(pos,line)) rebuild are
    // partitioning-invariant.
    "x_line_dedup" -> ((s, d) => {
      val docs = graft.operators.Skew.spread(t(s, d, "documents"))
        .select(col("doc_id"), chunkLines(col("text"), 2).as("ml"))
      Corpus.lineDedup(docs, "doc_id", "ml", minDocs = 20L)
        .select(col("doc_id"), col("clean_text"),
          col("n_kept").cast("long").as("n_kept"),
          col("n_dropped").cast("long").as("n_dropped"))
    }),

    // HTML strip roundtrip: wrap each doc in markup (style block,
    // comment, attributes, script block, &nbsp;-encoded spaces), strip
    // it back to visible text; `roundtrip` certifies text survived
    "x_html_strip" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
          concat(
            lit("<html><head><style>p{color:red}</style></head><body><!-- nav bar --><p class=\"doc\">"),
            call_function("replace", col("text"), lit(" "), lit("&nbsp;")),
            lit("</p><script type=\"text/javascript\">var x = 1 < 2;</script></body></html>"))
            .as("html"))
        .select(col("doc_id"), Web.stripHtml(col("html")).as("clean_text"))
        .join(t(s, d, "documents").select(col("doc_id"), col("text")), Seq("doc_id"))
        .select(col("doc_id"), col("clean_text"),
          (col("clean_text") === col("text")).as("roundtrip"))),

    // URL dissection over synthesized per-doc URLs: host, registered
    // domain, path, path depth, query/fragment-stripped canonical form
    "x_url_parse" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
          concat(lit("https://User@WWW."), col("source"),
            lit(".Example.org:8443/docs/"), col("lang"), lit("/"),
            col("doc_id"), lit("/view?ref=rss&utm_source=feed#top"))
            .as("url"))
        .select(col("doc_id"), col("url"),
          Web.urlHost(col("url")).as("host"),
          Web.urlDomain(col("url")).as("domain"),
          Web.urlPath(col("url")).as("path"),
          Web.urlPathDepth(col("url")).cast("long").as("depth"),
          Web.urlStrip(col("url")).as("canonical"))),

    // per-domain quota: keep the 10 largest docs per source, ties to
    // the smaller doc id — domain balancing before mixing
    "x_domain_cap" -> ((s, d) =>
      Corpus.domainCap(t(s, d, "documents"), "source", "doc_id",
          "n_chars", cap = 10)
        .select(col("domain"), col("doc_id"), col("score"),
          col("rk").cast("long").as("rk"))),

    // adaptive per-source quality gate: drop each source's bottom
    // quartile by ITS OWN quality distribution (per-language/-domain
    // thresholds, not one global cutoff) — rank arithmetic is integer,
    // the quality score is the proven-portable x_quality expression
    "x_adaptive_quality" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      t(s, d, "documents")
        .select(col("source"), col("doc_id"),
          graft.functions.Text.qualityScore(col("text")).as("quality"))
        .withColumn("r", row_number().over(Window.partitionBy("source")
          .orderBy(col("quality").asc, col("doc_id").asc)))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
        .filter(col("r") > expr("n div 4"))
        .select(col("source"), col("doc_id"), col("quality"),
          col("r").cast("long").as("r"), col("n").cast("long").as("n"))
    }),

    // entity resolution with the Jaro-Winkler scorer: the 'xy' suffix
    // variant is 2 edits (out of the lev<=1 form's reach) but jw~0.99 —
    // the scorer that tolerates proportionally more noise in long names
    "x_er_jaro" -> ((s, d) => {
      val c = t(s, d, "customer")
      val ents = c.select(col("c_custkey").as("id"), col("c_name").as("nm"),
          col("c_nationkey").as("grp"))
        .unionByName(c.filter(col("c_custkey") % 3 === 0)
          .select((col("c_custkey") + 1000000L).as("id"),
            call_function("replace", col("c_name"), lit("#"), lit(" # ")).as("nm"),
            col("c_nationkey").as("grp")))
        .unionByName(c.filter(col("c_custkey") % 7 === 0)
          .select((col("c_custkey") + 2000000L).as("id"),
            concat(col("c_name"), lit("xy")).as("nm"), col("c_nationkey").as("grp")))
      graft.operators.Resolve.entityResolveScored(ents, "id", "nm", "grp",
        Seq(graft.operators.Resolve.digitSkeleton),
        (a, b) => graft.functions.Text.jaroWinkler(a, b) >= 0.9)
    }),

    // Jaro-Winkler over three deterministic name perturbations — the
    // oracle is DuckDB's INDEPENDENT jaro_winkler implementation, so
    // this is a true two-implementation differential test (bit-locked;
    // see plans.JaroWinkler)
    "x_jaro_sim" -> ((s, d) => {
      val jw = graft.functions.Text.jaroWinkler _
      t(s, d, "customer").select(col("c_custkey"),
        jw(col("c_name"),
          call_function("replace", col("c_name"), lit("#"), lit(" # ")))
          .as("jw_space"),
        jw(col("c_name"), concat(col("c_name"), lit("x"))).as("jw_suffix"),
        jw(col("c_name"), reverse(col("c_name"))).as("jw_reverse"))
    }),

    // Holt level+trend smoothing per user over the event value series —
    // the forecasting step up from EWMA for drifting series
    "x_holt_smooth" -> ((s, d) =>
      graft.operators.EventOps.holtSmooth(t(s, d, "events"),
        "user_id", "ts", "event_id", "value",
        alpha = HoltAlpha, beta = HoltBeta)),

    // entity resolution end-to-end over a deterministically dirtied
    // customer file: whitespace variant (canon-identical), suffix and
    // prefix typos (edit distance 1) — digit-skeleton blocking, full
    // Levenshtein verify, transitive clustering (the typo variants
    // connect only THROUGH the clean record), min-id golden record
    "x_entity_resolution" -> ((s, d) => {
      val c = t(s, d, "customer")
      def pick(m: Int) = c.filter(col("c_custkey") % m === 0)
      val ents = c.select(col("c_custkey").as("id"), col("c_name").as("nm"),
          col("c_nationkey").as("grp"))
        .unionByName(pick(3).select((col("c_custkey") + 1000000L).as("id"),
          call_function("replace", col("c_name"), lit("#"), lit(" # ")).as("nm"),
          col("c_nationkey").as("grp")))
        .unionByName(pick(7).select((col("c_custkey") + 2000000L).as("id"),
          concat(col("c_name"), lit("x")).as("nm"), col("c_nationkey").as("grp")))
        .unionByName(pick(11).select((col("c_custkey") + 3000000L).as("id"),
          concat(lit("x"), col("c_name")).as("nm"), col("c_nationkey").as("grp")))
      graft.operators.Resolve.entityResolve(ents, "id", "nm", "grp")
    }),

    // KMV set algebra: union / intersection / Jaccard of two cohorts'
    // part populations from 64-hash sketches alone — the mergeable
    // overlap estimate when neither side's distinct set fits anywhere
    "x_kmv_setops" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      graft.operators.Sketches.kmvSetOps(
        li.filter(col("l_returnflag") === "R").select(col("l_partkey")),
        li.filter(col("l_returnflag") === "A").select(col("l_partkey")),
        "l_partkey", k = 64)
    }),

    // cross-source contamination matrix: distinct 5-word-shingle
    // fingerprints shared between every source pair — which corpora
    // overlap, and how much, BEFORE mixing decides their weights
    "x_source_overlap" -> ((s, d) => {
      val fps = t(s, d, "documents")
        .select(col("source"),
          graft.functions.Text.explodeWordShingles(col("text"), 5).as("sh"))
        .select(col("source"), md5(col("sh")).as("fp")).distinct()
      fps.as("a").join(fps.as("b"),
          col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared"))
    })
  )

  /** Holt smoothing constants, emitted into BOTH engines as the same
    * decimal literal (Double.toString round-trips, DuckDB parses to the
    * identical double) — the shared-literal convention. */
  private val HoltAlpha = 0.3
  private val HoltBeta = 0.1

  val oracle: Map[String, String] = Map(

    "x_er_jaro" ->
      """WITH RECURSIVE
         ents AS (
           SELECT c_custkey AS id, c_name AS nm, c_nationkey AS grp
           FROM customer
           UNION ALL
           SELECT c_custkey + 1000000, replace(c_name, '#', ' # '),
                  c_nationkey FROM customer WHERE c_custkey % 3 = 0
           UNION ALL
           SELECT c_custkey + 2000000, c_name || 'xy', c_nationkey
           FROM customer WHERE c_custkey % 7 = 0),
         base AS (SELECT id, CAST(grp AS VARCHAR) AS grp,
                    regexp_replace(lower(nm), '[^a-z0-9]', '', 'g') AS canon
                  FROM ents),
         keyed AS (SELECT id, canon,
                     '0' || chr(1) || grp || chr(1) ||
                       regexp_replace(canon, '[^0-9]', '', 'g')
                       AS bkey FROM base),
         ok AS (SELECT bkey FROM keyed GROUP BY bkey HAVING count(*) <= 1000),
         ib AS (SELECT k.id, k.canon, k.bkey FROM keyed k JOIN ok USING (bkey)),
         cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                    a.canon AS ca, b.canon AS cb
                  FROM ib a JOIN ib b ON a.bkey = b.bkey AND a.id < b.id),
         good AS (SELECT id_a, id_b FROM cand
                  WHERE jaro_winkler_similarity(ca, cb) >= 0.9),
         edges AS (SELECT id_a AS u, id_b AS v FROM good
                   UNION SELECT id_b, id_a FROM good),
         reach AS (SELECT u, v FROM edges
                   UNION SELECT r.u, e.v FROM reach r
                   JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
         comp AS (SELECT u AS id, least(u, min(v)) AS component
                  FROM reach GROUP BY u),
         lbl AS (SELECT b.id, coalesce(c.component, b.id) AS component
                 FROM (SELECT DISTINCT id FROM base) b
                 LEFT JOIN comp c USING (id)),
         st AS (SELECT component, min(id) AS golden_id,
                  CAST(count(*) AS BIGINT) AS cluster_size
                FROM lbl GROUP BY component)
         SELECT l.id, l.component, s.golden_id, s.cluster_size
         FROM lbl l JOIN st s USING (component)""",

    "x_jaro_sim" ->
      """SELECT c_custkey,
                jaro_winkler_similarity(c_name,
                  replace(c_name, '#', ' # ')) AS jw_space,
                jaro_winkler_similarity(c_name, c_name || 'x') AS jw_suffix,
                jaro_winkler_similarity(c_name, reverse(c_name)) AS jw_reverse
         FROM customer""",

    // NOTE: the natural list_reduce-over-struct replay hits a DuckDB
    // v1.0.0 bug (in a chained reduce, a later struct field's acc.<f>
    // reads the CURRENT iteration's already-updated first field, not
    // the accumulator — minimal repro: fold (acc,x)->struct(l:=f(acc,x),
    // b:=acc.l) over 3 elements returns b = the new l). The replay
    // below uses a recursive CTE over row-numbered events instead —
    // standard SQL, same strict left-to-right IEEE arithmetic.
    "x_holt_smooth" -> {
      val (a, a1, b, b1) = (HoltAlpha, 1.0 - HoltAlpha, HoltBeta, 1.0 - HoltBeta)
      val lNew = s"CAST('$a' AS DOUBLE) * e.value + CAST('$a1' AS DOUBLE) * (r.l + r.b)"
      s"""WITH RECURSIVE
         ev AS (SELECT user_id, value,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS i
                FROM events),
         rec AS (
           SELECT user_id, 1 AS i, value AS l, CAST('0.0' AS DOUBLE) AS b
           FROM ev WHERE i = 1
           UNION ALL
           SELECT r.user_id, r.i + 1,
                  $lNew,
                  CAST('$b' AS DOUBLE) * (($lNew) - r.l)
                    + CAST('$b1' AS DOUBLE) * r.b
           FROM rec r JOIN ev e
             ON e.user_id = r.user_id AND e.i = r.i + 1),
         last AS (SELECT user_id, CAST(max(i) AS BIGINT) AS n_events
                  FROM rec GROUP BY user_id)
         SELECT r.user_id, t.n_events, r.l AS level, r.b AS trend,
                r.l + r.b AS forecast_1
         FROM rec r JOIN last t
           ON r.user_id = t.user_id AND r.i = t.n_events"""
    },

    "x_line_dedup" ->
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS w
               FROM documents),
         idx AS (SELECT doc_id, w,
                   unnest(range(CAST(ceil(len(w) / 2.0) AS BIGINT))) AS pos
                 FROM base),
         lines AS (SELECT doc_id, pos,
                     array_to_string(list_slice(w, pos*2+1, pos*2+2), ' ') AS line
                   FROM idx),
         hot AS (SELECT line FROM lines GROUP BY line
                 HAVING count(DISTINCT doc_id) >= 20),
         kept AS (SELECT l.doc_id, l.pos, l.line
                  FROM lines l ANTI JOIN hot h ON l.line = h.line),
         tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_total
                 FROM lines GROUP BY doc_id),
         reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                   string_agg(line, chr(10) ORDER BY pos) AS clean_text
                 FROM kept GROUP BY doc_id)
         SELECT t.doc_id, coalesce(reb.clean_text, '') AS clean_text,
                coalesce(reb.n_kept, 0) AS n_kept,
                t.n_total - coalesce(reb.n_kept, 0) AS n_dropped
         FROM tot t LEFT JOIN reb ON t.doc_id = reb.doc_id""",

    "x_html_strip" ->
      """WITH h AS (SELECT doc_id, text,
               '<html><head><style>p{color:red}</style></head><body><!-- nav bar --><p class="doc">'
               || replace(text, ' ', '&nbsp;')
               || '</p><script type="text/javascript">var x = 1 < 2;</script></body></html>'
               AS html FROM documents),
         s1 AS (SELECT doc_id, text,
                  regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS x
                FROM h),
         s2 AS (SELECT doc_id, text,
                  regexp_replace(x, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS x
                FROM s1),
         s3 AS (SELECT doc_id, text,
                  regexp_replace(x, '(?s)<!--.*?-->', ' ', 'g') AS x FROM s2),
         s4 AS (SELECT doc_id, text,
                  regexp_replace(x, '<[^>]*>', ' ', 'g') AS x FROM s3),
         s5 AS (SELECT doc_id, text,
                  replace(replace(replace(replace(replace(replace(x,
                    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                    '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS x
                FROM s4),
         s6 AS (SELECT doc_id, text,
                  trim(regexp_replace(x, '[ \t\n\r\f\x0b]+', ' ', 'g'))
                    AS clean_text
                FROM s5)
         SELECT doc_id, clean_text, clean_text = text AS roundtrip FROM s6""",

    "x_url_parse" ->
      """WITH u AS (SELECT doc_id,
               'https://User@WWW.' || source || '.Example.org:8443/docs/'
               || lang || '/' || CAST(doc_id AS VARCHAR)
               || '/view?ref=rss&utm_source=feed#top' AS url
             FROM documents),
         p AS (SELECT doc_id, url,
                 lower(regexp_extract(
                   regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1),
                   '^(?:[^@]*@)?([^:]+)', 1)) AS host,
                 regexp_extract(url,
                   '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path
               FROM u)
         SELECT doc_id, url, host,
                CASE WHEN contains(host, '.')
                     THEN regexp_extract(host, '([^.]+\.[^.]+)$', 1)
                     ELSE host END AS domain,
                path,
                CAST(len(list_filter(string_split(path, '/'),
                  x -> x <> '')) AS BIGINT) AS depth,
                regexp_extract(url, '^([^?#]+)', 1) AS canonical
         FROM p""",

    "x_domain_cap" ->
      """SELECT source AS domain, doc_id, n_chars AS score,
                CAST(rk AS BIGINT) AS rk
         FROM (SELECT source, doc_id, n_chars,
                 row_number() OVER (PARTITION BY source
                   ORDER BY n_chars DESC, doc_id) AS rk
               FROM documents) q
         WHERE rk <= 10""",

    "x_adaptive_quality" ->
      s"""WITH q AS (SELECT source, doc_id, ${Ext.dQuality} AS quality
               FROM documents),
         r AS (SELECT source, doc_id, quality,
                 row_number() OVER (PARTITION BY source
                   ORDER BY quality, doc_id) AS r,
                 count(*) OVER (PARTITION BY source) AS n FROM q)
         SELECT source, doc_id, quality, CAST(r AS BIGINT) AS r,
                CAST(n AS BIGINT) AS n
         FROM r WHERE r > n // 4""",

    "x_entity_resolution" ->
      """WITH RECURSIVE
         ents AS (
           SELECT c_custkey AS id, c_name AS nm, c_nationkey AS grp
           FROM customer
           UNION ALL
           SELECT c_custkey + 1000000, replace(c_name, '#', ' # '),
                  c_nationkey FROM customer WHERE c_custkey % 3 = 0
           UNION ALL
           SELECT c_custkey + 2000000, c_name || 'x', c_nationkey
           FROM customer WHERE c_custkey % 7 = 0
           UNION ALL
           SELECT c_custkey + 3000000, 'x' || c_name, c_nationkey
           FROM customer WHERE c_custkey % 11 = 0),
         base AS (SELECT id, CAST(grp AS VARCHAR) AS grp,
                    regexp_replace(lower(nm), '[^a-z0-9]', '', 'g') AS canon
                  FROM ents),
         keyed AS (SELECT id, canon,
                     '0' || chr(1) || grp || chr(1) ||
                       regexp_replace(canon, '[^0-9]', '', 'g')
                       AS bkey FROM base),
         ok AS (SELECT bkey FROM keyed GROUP BY bkey HAVING count(*) <= 1000),
         ib AS (SELECT k.id, k.canon, k.bkey FROM keyed k JOIN ok USING (bkey)),
         cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                    a.canon AS ca, b.canon AS cb
                  FROM ib a JOIN ib b ON a.bkey = b.bkey AND a.id < b.id),
         good AS (SELECT id_a, id_b FROM cand WHERE levenshtein(ca, cb) <= 1),
         edges AS (SELECT id_a AS u, id_b AS v FROM good
                   UNION SELECT id_b, id_a FROM good),
         reach AS (SELECT u, v FROM edges
                   UNION SELECT r.u, e.v FROM reach r
                   JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
         comp AS (SELECT u AS id, least(u, min(v)) AS component
                  FROM reach GROUP BY u),
         lbl AS (SELECT b.id, coalesce(c.component, b.id) AS component
                 FROM (SELECT DISTINCT id FROM base) b
                 LEFT JOIN comp c USING (id)),
         st AS (SELECT component, min(id) AS golden_id,
                  CAST(count(*) AS BIGINT) AS cluster_size
                FROM lbl GROUP BY component)
         SELECT l.id, l.component, s.golden_id, s.cluster_size
         FROM lbl l JOIN st s USING (component)""",

    "x_kmv_setops" ->
      """WITH a AS (SELECT DISTINCT md5(CAST(l_partkey AS VARCHAR)) AS h
               FROM lineitem WHERE l_returnflag = 'R'),
         ska AS (SELECT h FROM a ORDER BY h LIMIT 64),
         b AS (SELECT DISTINCT md5(CAST(l_partkey AS VARCHAR)) AS h
               FROM lineitem WHERE l_returnflag = 'A'),
         skb AS (SELECT h FROM b ORDER BY h LIMIT 64),
         m AS (SELECT h, max(in_a) AS in_a, max(in_b) AS in_b FROM (
                 SELECT h, 1 AS in_a, 0 AS in_b FROM ska
                 UNION ALL
                 SELECT h, 0 AS in_a, 1 AS in_b FROM skb) q GROUP BY h),
         u AS (SELECT * FROM m ORDER BY h LIMIT 64),
         s AS (SELECT CAST(count(*) AS BIGINT) AS n_union_sketch,
                 max(h) AS kth,
                 CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_both FROM u),
         e AS (SELECT *,
                 CASE WHEN n_union_sketch < 64
                      THEN CAST(n_union_sketch AS DOUBLE)
                      ELSE CAST('63.0' AS DOUBLE) /
                        (CAST(('0x' || substr(kth, 1, 13))::BIGINT AS DOUBLE)
                          / CAST('4503599627370496.0' AS DOUBLE))
                 END AS est_union FROM s)
         SELECT n_union_sketch, kth, n_both, est_union,
                CAST(n_both AS DOUBLE) / CAST(n_union_sketch AS DOUBLE)
                  AS jaccard_est,
                (CAST(n_both AS DOUBLE) / CAST(n_union_sketch AS DOUBLE))
                  * est_union AS est_intersection
         FROM e""",

    "x_source_overlap" ->
      """WITH w AS (SELECT source, string_split(text, ' ') AS ws
               FROM documents),
         sh0 AS (SELECT source,
                   unnest([array_to_string(list_slice(ws, i, i+4), ' ')
                           for i in range(1, len(ws) - 3)]) AS s
                 FROM w),
         sh AS (SELECT DISTINCT source, md5(s) AS fp FROM sh0),
         p AS (SELECT a.source AS src_a, b.source AS src_b
               FROM sh a JOIN sh b
                 ON a.fp = b.fp AND a.source < b.source)
         SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_shared
         FROM p GROUP BY src_a, src_b"""
  )
}
