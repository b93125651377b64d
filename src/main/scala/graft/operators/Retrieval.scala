package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Exact, Pmath, Text}

/** Text retrieval / ranking primitives (SURVEY.md §2.10 extension
  * surface): BM25 query ranking, TF-IDF term weighting, and the inverted
  * index itself — the IR side of a training-data pipeline (query-based
  * corpus selection, relevance filtering, search-index exports).
  *
  * Scale shape, all three: tokenize narrow → ONE shuffle keyed on term
  * (or doc) → hash aggregates; corpus statistics (N, avgdl) are
  * single-row aggregates crossJoin'ed (broadcast of one row), per-term
  * statistics join on the term key. Nothing concentrates a full corpus
  * per task and nothing is all-pairs.
  *
  * Float determinism: per-term score components are pivoted to COLUMNS
  * and added in a fixed left-to-right order — never `sum()` over a
  * nondeterministically-ordered double set — so scores are bit-identical
  * across partitionings and replayable by a SQL oracle.
  */
object Retrieval {

  /** Per-document token-occurrence rows (every occurrence counts). */
  private def occurrences(df: DataFrame, idCol: String, textCol: String) =
    df.select(col(idCol).as("doc"),
      explode(Text.tokens(col(textCol))).as("term"))

  /** Dirichlet-smoothed query-likelihood ranking (Zhai & Lafferty
    * 2004) — the language-modeling alternative to [[bm25TopK]]:
    * score(d, q) = Σ_w ln((c(w,d) + μ·p(w|C)) / (|d| + μ)). EVERY doc
    * scores (absent terms fall back to the corpus model), which is the
    * semantic difference from BM25's partial-match filter.
    *
    * Float discipline: multiplying the ratio through by the corpus
    * token count turns both ln args into INTEGERS —
    * ln = pln(c·|C| + μ·cf) − pln((|d| + μ)·|C|) — inside the portable
    * series; per-term scores pivot to columns and add left-to-right
    * (the bm25 recipe). Zero-frequency corpus terms guard through
    * greatest(·, 1) identically on both engines.
    *
    * Scale shape: ONE tokenize + groupBy(doc) conditional aggregate,
    * one single-row stats broadcast, global top-k via TakeOrdered. */
  def dirichletTopK(df: DataFrame, idCol: String, textCol: String,
                    queryTerms: Seq[String], mu: Long = 2000L,
                    k: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty, "dirichletTopK: empty query")
    val occ = occurrences(df, idCol, textCol)
    val perDoc = occ.groupBy("doc").agg(
      count(lit(1)).as("dl"),
      queryTerms.zipWithIndex.map { case (t, i) =>
        count(when(col("term") === t, 1)).as(s"tf_$i")
      }: _*)
    val statsAggs = sum(col("dl")).as("cn") +:
      queryTerms.indices.map(i => sum(col(s"tf_$i")).as(s"cf_$i"))
    val stats = perDoc.agg(statsAggs.head, statsAggs.tail: _*)
    def termScore(i: Int): Column =
      Pmath.lnColumn(greatest(
        col(s"tf_$i") * col("cn") + lit(mu) * col(s"cf_$i"), lit(1L))) -
        Pmath.lnColumn((col("dl") + lit(mu)) * col("cn"))
    val total = queryTerms.indices.map(termScore).reduceLeft(_ + _)
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc").as("doc_id"), total.as("score"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
      .withColumn("rank", row_number().over(
        BoundedWindow.orderBy(col("score").desc, col("doc_id").asc)))
  }

  /** Okapi BM25 ranking of documents against a bag-of-terms query.
    * Returns the `k` highest-scoring documents (ties broken by doc id)
    * with their scores and ranks.
    *
    * idf = ln(1 + (N − df + 0.5)/(df + 0.5))  (the always-positive
    * Robertson–Sparck-Jones form, via [[Pmath.lnColumn]] — libm ln
    * differs across engines in the last ulp, the portable series does
    * not), tf component =
    * tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)). Terms absent from a doc
    * contribute 0 (coalesce), so conjunctive-ish queries still rank
    * partial matches. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK: empty query")
    val occ = occurrences(df, idCol, textCol)
    // For a FIXED query-term set, tf per term is just a conditional
    // aggregate: ONE groupBy(doc) produces dl and every tf_i in a single
    // shuffle over a single tokenize scan. The join-per-statistic form
    // (tf ⋈ dfreq ⋈ dl × stats) re-ran the explode three times and paid
    // four shuffles + two broadcast jobs — 4.1 s of its 6.7 s at sf0.1
    // was that plan shape, not the scoring math.
    val perDoc = occ.groupBy("doc").agg(
      count(lit(1)).as("dl"),
      queryTerms.zipWithIndex.map { case (t, i) =>
        count(when(col("term") === t, 1)).as(s"tf_$i")
      }: _*)
    // corpus + per-term stats collapse into ONE single-row aggregate
    // (n_docs, avgdl, df_i...) — broadcast by construction
    val statsAggs = count(lit(1)).as("n_docs") +:
      avg(col("dl").cast("double")).as("avgdl") +:
      queryTerms.indices.map(i =>
        count(when(col(s"tf_$i") > 0, 1)).as(s"df_$i"))
    val stats = perDoc.agg(statsAggs.head, statsAggs.tail: _*)
    // per-term score columns, added LEFT-TO-RIGHT in queryTerms order: a
    // sum() over doubles would be partition-order-dependent and
    // irreproducible bit-for-bit. Absent terms contribute exactly 0.
    def termScore(i: Int): Column = {
      val tf = col(s"tf_$i")
      when(tf > 0,
        idf(col("n_docs"), col(s"df_$i")) * (tf * lit(k1 + 1.0)) /
          (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
        .otherwise(lit(0.0))
    }
    val total = queryTerms.indices.map(termScore).reduceLeft(_ + _)
    // global top-k via orderBy+limit (TakeOrderedAndProject: per-partition
    // heaps, driver merges k rows — scalable, unlike an unpartitioned
    // window over the full match set); the rank window then runs over k
    // rows only, which is single-task by design
    perDoc.crossJoin(broadcast(stats))
      .filter(queryTerms.indices.map(i => col(s"tf_$i") > 0).reduce(_ || _))
      .select(col("doc").as("doc_id"), total.as("score"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
      .withColumn("rank", row_number().over(
        BoundedWindow.orderBy(col("score").desc, col("doc_id").asc)))
  }

  /** Top-`k` terms per document by TF-IDF weight (tf · ln(N/df), raw
    * counts), ties broken by term — the standard per-document keyword /
    * feature extraction. The rank window partitions BY DOC, so window
    * state per task is one document's term list, never the corpus. */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 3, minDf: Int = 1): DataFrame = {
    val occ = occurrences(df, idCol, textCol).filter(col("term") =!= "")
    val tf = occ.groupBy("doc", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    // corpus size: one-row aggregate, broadcast — never a driver action
    // inside the plan
    val stats = df.agg(count(lit(1)).cast("double").as("n_docs"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("tfidf", col("tf") * Pmath.lnColumn(col("n_docs") / col("df")))
      .withColumn("rank", row_number().over(Window.partitionBy("doc")
        .orderBy(col("tfidf").desc, col("term").asc)))
      .filter(col("rank") <= k)
      .select(col("doc").as("doc_id"), col("term"), col("tfidf"),
        col("rank"))
  }

  /** The inverted index: per term, document frequency, collection
    * frequency, and the sorted distinct posting list of document ids.
    * `minDf` drops hapax noise (and bounds output rows); posting lists
    * are sorted arrays so the result is deterministic and comparable.
    * At 100 TB the posting list of a stop-word is the classic skew cell —
    * `maxPostings` truncates the ARRAY (keeping df/cf exact) the way
    * real indexes tier their postings. */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
                    minDf: Int = 2, maxPostings: Int = 1000): DataFrame = {
    val occ = occurrences(df, idCol, textCol).filter(col("term") =!= "")
    occ.groupBy("term")
      .agg(countDistinct(col("doc")).as("df"),
        count(lit(1)).as("cf"),
        slice(sort_array(collect_set(col("doc"))), 1, maxPostings)
          .as("postings"))
      .filter(col("df") >= minDf)
  }

  /** Sparse TF-IDF cosine similarity pairs — the term-join dual of
    * embedding near-dup: score(a,b) = Σ_t w_a(t)·w_b(t) / (‖a‖·‖b‖)
    * with w = tf·ln(N/df), candidates generated by the TERM equi-join
    * (only documents sharing a term ever meet — never all-pairs).
    * Similarity is defined in the pruned vocabulary 2 ≤ df ≤ `maxDf`:
    * df=1 terms cannot pair, and a stop word's posting block would be
    * the classic quadratic hot key while carrying ~zero idf weight —
    * capping df is simultaneously the skew guard and standard stop-word
    * removal.
    *
    * Float discipline: each weight is one multiply of an exact-cast tf
    * by the portable ln of an exact integer ratio; per-doc norms and
    * per-pair dots fold TERM-SORTED lists strictly left to right
    * (bounded by doc vocab / shared-term count) — partition-invariant
    * and SQL-replayable, so x_sparse_sim is hash-compared.
    *
    * Scale shape: tf aggregate keyed on (doc, term), df aggregate keyed
    * on term, the pair join keyed on term with per-term fanout bounded
    * by maxDf², pair aggregate keyed on the pair. One shuffle per stage,
    * nothing corpus-sized broadcast. */
  def sparseCosinePairs(df: DataFrame, idCol: String, textCol: String,
                        maxDf: Int, threshold: Double): DataFrame = {
    val occ = occurrences(df, idCol, textCol).filter(col("term") =!= "")
    val tf = occ.groupBy("doc", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
    val stats = df.agg(count(lit(1)).cast("double").as("n_docs"))
    val w = tf.join(dfreq, Seq("term")).crossJoin(broadcast(stats))
      .withColumn("w", col("tf") * Pmath.lnColumn(col("n_docs") / col("df")))
      .select("doc", "term", "w")
    val norms = w.groupBy("doc")
      .agg(sqrt(Exact.orderedSum(col("w") * col("w"), col("term"))).as("nrm"))
    val pairs = w.select(col("term"), col("doc").as("doc_a"), col("w").as("wa"))
      .join(w.select(col("term"), col("doc").as("doc_b"), col("w").as("wb")),
        Seq("term"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"),
        Exact.orderedSum(col("wa") * col("wb"), col("term")).as("dot"))
    pairs
      .join(norms.select(col("doc").as("doc_a"), col("nrm").as("na")), Seq("doc_a"))
      .join(norms.select(col("doc").as("doc_b"), col("nrm").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        when(col("na") * col("nb") =!= 0.0,
          col("dot") / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Column form of the BM25 idf, exposed for reuse/tests. */
  def idf(nDocs: Column, df: Column): Column =
    Pmath.lnColumn(lit(1.0) + (nDocs - df + lit(0.5)) / (df + lit(0.5)))
}
