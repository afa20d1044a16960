package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}

/** Lexical retrieval scoring — the sparse counterpart of the embedding
  * path in [[Similarity]]. Training-data curation uses it to pull
  * topic-relevant subsets out of a crawl ("find the docs about X") and as
  * the first stage of retrieval-based decontamination when embeddings are
  * too expensive to run over the full corpus.
  */
object Retrieval {

  /** BM25's term-frequency saturation `k1` and length normalization `b`
    * (the Lucene defaults), shared by [[bm25]] and the indexed scorers in
    * [[TokenIndex]], whose scores must equal the one-shot operator's. */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** Per-document BM25 (Robertson/Spärck Jones, the +1 idf smoothing of
    * Lucene) of a literal bag of query terms: for each doc containing at
    * least one term,
    *
    *   score = Σ_t ln(1 + (N - df_t + ½)/(df_t + ½)) ·
    *           tf_td·(k1+1) / (tf_td + k1·(1 − b + b·dl_d/avgdl))
    *
    * with k1 = [[Bm25K1]] and b = [[Bm25B]]. Returns (idCol, bm25,
    * n_terms) — callers top-k or threshold it.
    *
    * Shape at 100 TB: the corpus is scanned twice, both embarrassingly
    * parallel — once for the single-row (N, avgdl) aggregate (map-side
    * partials, broadcast-crossed back), once to explode ONLY
    * query-matching postings (the `isin` filter sits directly on the
    * generator output, so the exchange that follows moves matched
    * (doc, term) pairs — for a handful of query terms that is orders of
    * magnitude smaller than the corpus). df comes from re-aggregating the
    * already-reduced tf output (the q73 construction) and is broadcast;
    * no join ever shuffles document text.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "query terms must be non-empty")
    val toks = docs.select(col(idCol), TF.tokens(col(textCol)).as("toks"))
      .select(col(idCol), size(col("toks")).cast("long").as("dl"), col("toks"))
    val stats = toks.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = toks
      .select(col(idCol), col("dl"), explode(col("toks")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl")) // dl constant per doc
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), "tok")
      .crossJoin(broadcast(stats))
      .withColumn("contrib", contrib)
      .groupBy(col(idCol))
      .agg(sum(col("contrib")).as("bm25"), count(lit(1)).as("n_terms"))
  }

  /** One term's BM25 contribution over (n_docs, df, tf, dl, avgdl) columns. */
  private[operators] def contrib: org.apache.spark.sql.Column =
    log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
      (col("tf") * (Bm25K1 + 1)) /
      (col("tf") + lit(Bm25K1) * (lit(1 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl")))
}
