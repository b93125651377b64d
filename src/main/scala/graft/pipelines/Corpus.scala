package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{Exact, Text}
import graft.operators.{Dedup, Graphs}

/** The LLM-corpus cleaning pipeline (SURVEY.md §2.10) — the composition
  * every training-data run executes, assembled from the engine's own
  * operators so each stage keeps its audited scale shape:
  *
  *   1. quality gate    — [[Text.qualityScore]] ≥ threshold (narrow)
  *   2. exact dedup     — keep min doc id per identical text (1 shuffle)
  *   3. near-dup drop   — [[Dedup.ngramJaccard]] pairs →
  *                        [[Graphs.dedupClusters]] → keep each cluster's
  *                        representative, pass unclustered docs through
  *
  * Deterministic end to end (min-id representatives, exact Jaccard), so
  * the WHOLE pipeline carries a DuckDB oracle — the gate certifies the
  * composition, not just the stages.
  */
object Corpus {

  /** Benchmark decontamination: training docs that share a winnowing
    * fingerprint with ANY eval doc — the standard train/eval overlap
    * check (a shared fingerprint certifies a shared ≥ k+w−1-word run,
    * the n-gram-overlap definition of contamination). Returns
    * (doc_id, n_shared) per contaminated training doc.
    *
    * Scale shape: both sides reduce to (doc, fp) rows; contamination is
    * one equi-join on the fingerprint — the eval side is tiny in
    * practice (benchmarks), so the join broadcasts; never a text-level
    * comparison. */
  def contamination(train: DataFrame, eval: DataFrame, idCol: String,
                    textCol: String, k: Int = 3, w: Int = 4): DataFrame = {
    val tf = Dedup.winnowFingerprints(train, idCol, textCol, k, w)
    val ef = Dedup.winnowFingerprints(eval, idCol, textCol, k, w)
      .select(col("fp")).distinct()
    tf.join(ef, Seq("fp"))
      .groupBy("doc_id").agg(countDistinct(col("fp")).as("n_shared"))
  }

  /** [[contamination]] when train and eval are SPLITS of one corpus:
    * the expensive fingerprint pass (text scan + gram generator + window
    * shuffle) runs ONCE over the whole corpus; the split flag joins in
    * from a cheap two-column scan — the two-frame form would fingerprint
    * the corpus twice. */
  def contaminationBySplit(docs: DataFrame, idCol: String, textCol: String,
                           evalPred: org.apache.spark.sql.Column,
                           k: Int = 3, w: Int = 4): DataFrame = {
    val fps = Dedup.winnowFingerprints(docs, idCol, textCol, k, w)
      .join(docs.select(col(idCol).as("doc_id"), evalPred.as("_eval")),
        Seq("doc_id"))
    val ef = fps.filter(col("_eval")).select(col("fp")).distinct()
    fps.filter(!col("_eval"))
      .join(ef, Seq("fp"))
      .groupBy("doc_id").agg(countDistinct(col("fp")).as("n_shared"))
  }

  /** GPT-3-style exhaustive contamination MEASUREMENT: for each training
    * doc, the fraction of its distinct word n-grams that appear anywhere
    * in the eval split. [[contaminationBySplit]] answers "is this doc
    * contaminated" from sampled winnowing fingerprints; this answers "how
    * much" — the per-doc overlap ratio reports are built from (GPT-3
    * appendix C measures exactly this before choosing removal
    * thresholds). Every train doc with ≥1 gram is reported, overlap 0
    * included — the distribution, not just the flagged tail.
    *
    * Scale shape: one distinct-gram explode per side (the train side is
    * the corpus scan it already needs), one equi-join on the gram — the
    * eval gram set is benchmark-sized, so the join broadcasts; the
    * per-doc aggregate rides the explode's doc grouping. */
  def ngramOverlap(docs: DataFrame, idCol: String, textCol: String,
                   evalPred: org.apache.spark.sql.Column,
                   n: Int = 3): DataFrame = {
    val grams = docs.select(col(idCol).as("doc_id"), evalPred.as("_eval"),
      Text.explodeWordShingles(col(textCol), n).as("g"))
    val evalGrams = grams.filter(col("_eval"))
      .select(col("g").as("_eg")).distinct()
    grams.filter(!col("_eval"))
      .join(evalGrams, col("g") === col("_eg"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("_eg")).as("n_overlap"))
      .withColumn("overlap_frac",
        col("n_overlap").cast("double") / col("n_grams"))
  }

  /** Budget-capped mixture: per shard, keep docs (in deterministic id
    * order) while the running token total stays within `budgetTokens` —
    * the data-mixing step that assembles a training corpus from sources
    * at fixed token budgets. One window pass per shard, integer
    * arithmetic. A doc that would cross the budget is excluded (its
    * successors too: the budget is a prefix, keeping mixtures
    * reproducible). */
  def budgetMix(docs: DataFrame, shardCol: String, idCol: String,
                textCol: String, budgetTokens: Long): DataFrame =
    graft.operators.Pack.tokenCumsumByShard(docs, shardCol, idCol, textCol)
      .filter(col("cum") <= budgetTokens)
      .select("source", "doc_id", "cum")

  /** Temperature-based source sampling weights at τ = 0.5 — the
    * multilingual/multi-source mixing rule (UniMax / T5 family): sampling
    * probability ∝ (source token mass)^τ, flattening the natural
    * distribution so small sources aren't starved. τ = 0.5 is chosen
    * deliberately: the power is then IEEE `sqrt`, which is correctly
    * rounded on every engine — an arbitrary τ needs pow/exp, whose last
    * ulp is engine-specific and would break the bit-exact oracle.
    *
    * Scale shape: ONE hash aggregate over the corpus (per-source token
    * mass, |sources| rows), the normalizer a source-sorted fold over
    * that tiny frame, broadcast back. quota = budget·weight is the
    * expected token draw per source. */
  def temperatureWeights(docs: DataFrame, shardCol: String,
                         textCol: String, budgetTokens: Long): DataFrame = {
    val tok = docs.groupBy(col(shardCol).as("source"))
      .agg(sum(Text.tokenCountWs(col(textCol)).cast("long")).as("n_tokens"))
    val z = tok.agg(Exact.orderedSum(sqrt(col("n_tokens").cast("double")),
      col("source")).as("z"))
    tok.crossJoin(broadcast(z))
      .select(col("source"), col("n_tokens"),
        (sqrt(col("n_tokens").cast("double")) / col("z")).as("weight"),
        (lit(budgetTokens.toDouble) *
          (sqrt(col("n_tokens").cast("double")) / col("z"))).as("quota"))
  }

  /** Cross-document line-level boilerplate removal (the CCNet /
    * RefinedWeb line-dedup pass): a line whose EXACT text appears in
    * ≥ `minDocs` distinct documents is boilerplate (navigation chrome,
    * cookie banners, license footers) and is dropped from every
    * document; each document is rebuilt from its surviving lines in
    * original order. Returns one row per input document —
    * (doc_id, clean_text, n_kept, n_dropped) — with clean_text = ''
    * when every line was boilerplate (the caller's quality gate then
    * drops the husk).
    *
    * Scale shape: posexplode on the delimiter (narrow), ONE hash
    * aggregate keyed on line text for document frequency (map-side
    * partial count_distinct shrinks hot lines early — boilerplate is
    * by definition massively repeated, so the per-line state is the
    * distinct-doc HLL-free exact count only at sf-test sizes; at
    * 100 TB swap count_distinct for approx_count_distinct and keep the
    * shape), then the hot-line set — usually tiny, it's the lines
    * shared across ≥ minDocs docs — comes back as an anti-join, and
    * ONE doc-keyed aggregate rebuilds the text. Two shuffles end to
    * end, nothing doc-count-sized on the driver.
    *
    * `broadcastHot` (default true) forces the anti-join's built side
    * to broadcast — right for the intended regime (minDocs large
    * enough that the hot set is boilerplate-sized, i.e. ≤ a few
    * hundred MB). The hot set is NOT bounded in general: a small
    * minDocs or a boilerplate-heavy corpus can make it arbitrarily
    * large, and a forced broadcast then OOMs where a shuffle join
    * would just be slow — pass broadcastHot = false there and let AQE
    * pick the join side from measured sizes. */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
                minDocs: Long, delim: String = "\n",
                broadcastHot: Boolean = true): DataFrame = {
    val lines = docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim)))
          .as(Seq("pos", "line")))
    val hot = lines.groupBy("line")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDocs)
      .select("line")
    val kept = lines.join(if (broadcastHot) broadcast(hot) else hot,
      Seq("line"), "left_anti")
    val perDoc = lines.groupBy("doc_id").agg(count(lit(1)).as("n_total"))
    val rebuilt = kept
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(delim,
          transform(sort_array(collect_list(struct(col("pos"), col("line")))),
            p => p.getField("line"))).as("clean_text"))
    perDoc.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_total") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** Per-domain quota cap (RefinedWeb-style domain balancing): keep at
    * most `cap` documents per domain, preferring the highest-`scoreCol`
    * members, ties broken on the smaller doc id so the survivor set is
    * deterministic. The guard against a handful of mega-domains
    * dominating a crawl corpus.
    *
    * Scale shape: one window rank per domain — a single hash
    * partitioning on the domain key, per-group top-k state bounded by
    * `cap`. A skewed mega-domain concentrates its rank in one task;
    * at 100 TB pre-aggregate with [[graft.plans.TopKPerKey]] (bounded
    * heap, no full sort) — the window form is the exact-oracle twin. */
  def domainCap(docs: DataFrame, domainCol: String, idCol: String,
                scoreCol: String, cap: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(domainCol))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    docs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap)
      .select(col(domainCol).as("domain"), col(idCol).as("doc_id"),
        col(scoreCol).as("score"), col("rk"))
  }

  /** Surviving doc ids after quality gate + exact dedup + near-dup
    * cluster drop. */
  def clean(docs: DataFrame, idCol: String, textCol: String,
            minQuality: Double = 0.5, n: Int = 3,
            jaccardThreshold: Double = 0.5): DataFrame = {
    val gated = docs
      .filter(Text.qualityScore(col(textCol)) >= minQuality)
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val exactKept = gated.groupBy("text").agg(min(col("doc_id")).as("doc_id"))
    val pairs = Dedup.ngramJaccard(exactKept, "doc_id", "text",
      n = n, threshold = jaccardThreshold)
    val clusters = Graphs.dedupClusters(pairs, "doc_a", "doc_b")
    exactKept.join(clusters, Seq("doc_id"), "left")
      .filter(col("cluster_rep").isNull || col("cluster_rep") === col("doc_id"))
      .select("doc_id")
  }

  /** The Gopher document-quality rule stack (Rae et al. 2021, Appendix
    * A1.1 — the named filter set MassiveText/Gopher shipped and most
    * later corpora copied): word-count bounds, mean-word-length bounds,
    * symbol-to-word ratio, bullet/ellipsis line shares, alphabetic-word
    * fraction, and the ≥2-distinct-stopwords requirement. Emits every
    * rule verdict separately (curation wants the per-rule loss
    * breakdown, not just the gate) plus the conjunction.
    *
    * Exactness: every rule tests as an INTEGER comparison (sum ≥ 3·n
    * instead of mean ≥ 3.0, 5·alpha ≥ 4·n instead of frac ≥ 0.8, …);
    * reported ratios are single divisions of those exact integers. One
    * narrow map — no shuffle, no state; scales with input splits. */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val stops = Text.langMarkers.toMap.apply("en")
    val t = col(textCol)
    val ws = filter(split(t, " "), w => w =!= "")
    val lines = split(t, "\n")
    def occurrences(needle: String) =
      ((length(t) - length(call_function("replace", t, lit(needle), lit("")))) /
        lit(needle.length)).cast("long")
    docs.select(col(idCol).as("doc_id"), ws.as("ws"), lines.as("ls"),
        (occurrences("#") + occurrences("...")).as("n_sym0"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        aggregate(transform(col("ws"), w => length(w).cast("long")),
          lit(0L), (a, x) => a + x).as("sum_chars"),
        size(filter(col("ws"), w => w.rlike("[A-Za-z]"))).cast("long")
          .as("n_alpha"),
        col("n_sym0").as("n_sym"),
        size(col("ls")).cast("long").as("n_lines"),
        size(filter(col("ls"), l =>
          l.startsWith("-") || l.startsWith("*") || l.startsWith("•")))
          .cast("long").as("n_bullet"),
        size(filter(col("ls"), l => l.endsWith("..."))).cast("long")
          .as("n_ell"),
        size(filter(typedlit(stops), m => array_contains(col("ws"), m)))
          .cast("long").as("n_stop"))
      .select(col("doc_id"), col("n_words"),
        (col("sum_chars").cast("double") /
          greatest(col("n_words"), lit(1L)).cast("double")).as("mean_word_len"),
        (col("n_alpha").cast("double") /
          greatest(col("n_words"), lit(1L)).cast("double")).as("frac_alpha"),
        (col("n_sym").cast("double") /
          greatest(col("n_words"), lit(1L)).cast("double")).as("sym_ratio"),
        col("n_stop"),
        (col("n_words") >= minWords && col("n_words") <= maxWords)
          .as("r_wordcount"),
        (col("sum_chars") >= lit(3L) * col("n_words") &&
          col("sum_chars") <= lit(10L) * col("n_words")).as("r_wordlen"),
        (lit(5L) * col("n_alpha") >= lit(4L) * col("n_words")).as("r_alpha"),
        (lit(10L) * col("n_sym") <= col("n_words")).as("r_symbol"),
        (lit(10L) * col("n_bullet") <= lit(9L) * col("n_lines")).as("r_bullets"),
        (lit(10L) * col("n_ell") <= lit(3L) * col("n_lines")).as("r_ellipsis"),
        (col("n_stop") >= 2L).as("r_stopwords"))
      .withColumn("keep",
        col("r_wordcount") && col("r_wordlen") && col("r_alpha") &&
          col("r_symbol") && col("r_bullets") && col("r_ellipsis") &&
          col("r_stopwords"))
  }
}
