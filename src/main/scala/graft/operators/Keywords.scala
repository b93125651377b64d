package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Exact, Text}

/** RAKE keyword extraction (Rose et al. 2010, "Automatic Keyword
  * Extraction from Individual Documents"): candidate phrases are the
  * maximal stopword-free token runs; each word scores deg/freq over
  * the candidate set (deg = Σ lengths of the phrases it appears in,
  * freq = its occurrence count), and a phrase scores the sum of its
  * words' scores. The classic cheap keyphrase miner a curation
  * pipeline runs for corpus topic profiling.
  *
  * Float discipline: word scores are single divisions of two exact
  * integer aggregates; the per-phrase score folds them in word-
  * position order (the x_lm_score recipe), so the double sum is
  * partition-order-independent and SQL-replayable.
  *
  * Scale shape: positional token explode → the islands trick (per-doc
  * row_number window, pos − rn constant per run — one shuffle keyed
  * on the doc) → phrase assembly by (doc, run) → vocabulary-sized
  * word-stat aggregate joined back on the word key → phrase-level
  * aggregate → global top-k via TakeOrdered. Phrase identity through
  * the pipeline is the deterministic (doc, run-group) pair, never a
  * generated id. Phrases longer than `maxWords` are dropped (RAKE's
  * standard cap), which also bounds every fold. */
object Keywords {

  def rakeKeywords(df: DataFrame, idCol: String, textCol: String,
                   stopwords: Seq[String], maxWords: Int,
                   k: Int): DataFrame = {
    val toks = df.select(col(idCol).as("doc"),
        Text.explodePositionalShingles(col(textCol), 1).as(Seq("pos", "t")))
      .filter(col("t") =!= "")
    val runs = toks.filter(!col("t").isin(stopwords: _*))
      .withColumn("rn",
        row_number().over(Window.partitionBy("doc").orderBy("pos")))
      .withColumn("grp", col("pos") - col("rn"))
    val phrases = runs.groupBy("doc", "grp")
      .agg(sort_array(collect_list(struct(col("pos"), col("t")))).as("ps"))
      .filter(size(col("ps")) <= maxWords)
      .select(col("doc"), col("grp"),
        transform(col("ps"), p => p.getField("t")).as("ws"),
        size(col("ps")).as("len"))
    val occ = phrases.select(col("doc"), col("grp"), col("len"),
      posexplode(col("ws")).as(Seq("wi", "w")))
    val wstats = occ.groupBy("w")
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
    val scored = occ.join(wstats, Seq("w"))
      .groupBy("doc", "grp")
      .agg(Exact.orderedSum(
        col("deg").cast("double") / col("freq").cast("double"), col("wi"))
        .as("score"))
    phrases.select(col("doc"), col("grp"),
        concat_ws(" ", col("ws")).as("phrase"))
      .join(scored, Seq("doc", "grp"))
      .groupBy("phrase")
      .agg(count(lit(1)).as("n_occ"), max(col("score")).as("score"))
      .orderBy(col("score").desc, col("phrase").asc)
      .limit(k)
  }
}
