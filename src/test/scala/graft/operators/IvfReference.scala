package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** One-shot IVF search over explicit centroids: the reference the
  * persisted [[VectorIndex]]'s probes are checked against, and the
  * per-group centroids the specs feed it. */
object IvfReference {
  import Similarity.rankTopK

  /** IVF-style search: assign every corpus vector to its nearest centroid
    * (broadcast centroid list), then search only the `nprobe` centroids
    * closest to each query. Centroids come from `trainCentroids` (or any
    * external clustering). Returns exact cosine over the probed subset.
    */
  def ivfCosineTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusEmb: String,
      queries: DataFrame,
      queryId: String,
      queryEmb: String,
      centroids: DataFrame, // (centroid_id, centroid: array<double>)
      k: Int,
      nprobe: Int): DataFrame = {
    // All centroids as ONE broadcast array row. Assignment is then a pure
    // per-row projection (argmax over the array) — the previous
    // crossJoin+window formulation shuffled |corpus|·|centroids| rows just
    // to keep the best 1, which dies at any real corpus size. Centroid
    // counts are bounded (≤ ~64k for IVF to make sense), so the array fits
    // comfortably in a broadcast.
    val centArr = broadcast(
      centroids.agg(collect_list(struct(col("centroid_id"), col("centroid"))).as("__cents")))

    // Keep the `keep` nearest centroids per row with zero shuffle:
    // score every centroid inside a transform(), array_sort with an
    // explicit (cosine DESC, centroid_id ASC) comparator — works for ANY
    // orderable centroid_id type (trainCentroids emits the caller's
    // group column, which may be a string label; the old `-centroid_id`
    // negation trick required a numeric id and under ANSI mode threw on
    // strings), slice the prefix, explode.
    // null/empty embeddings drop on BOTH sides — same rule as
    // VectorIndex.cellsFor, keeping the spec-pinned queryTopK parity
    // exact on degenerate corpora too: an empty array's cosine is 0.0
    // to everything, so without the filter it ties to the lowest cell
    // and can surface as a 0.0-cosine "neighbor" when a probed cell
    // holds fewer than k real candidates (r15 ADVICE)
    def assign(df: DataFrame, id: String, emb: String, idOut: String, embOut: String, keep: Int) = {
      val base = df.select(col(id).as(idOut), col(emb).as(embOut))
        .where(col(embOut).isNotNull && size(col(embOut)) > 0)
      // spread single-file inputs before the n·k assignment projection
      // — same serialized-compute hazard and fix as
      // VectorIndex.cellsFor (measured 5× on a one-file sf1 corpus)
      val target = base.sparkSession.sparkContext.defaultParallelism
      val spread =
        if (base.rdd.getNumPartitions < target) base.repartition(target) else base
      spread.crossJoin(centArr)
        .withColumn("__ranked", slice(array_sort(
          transform(col("__cents"), c =>
            struct(
              VectorFunctions.cosineNative(col(embOut), c.getField("centroid")).as("cd"),
              c.getField("centroid_id").as("centroid_id"))),
          (l, r) =>
            when(l.getField("cd") > r.getField("cd"), -1)
              .when(l.getField("cd") < r.getField("cd"), 1)
              .when(l.getField("centroid_id") < r.getField("centroid_id"), -1)
              .when(l.getField("centroid_id") > r.getField("centroid_id"), 1)
              .otherwise(0)), 1, keep))
        .select(col(idOut), col(embOut),
          explode(col("__ranked")).as("__c"))
        .select(col(idOut), col(embOut), col("__c.centroid_id").as("centroid_id"))
    }

    val ca = assign(corpus, corpusId, corpusEmb, "neighbor_id", "__ce", 1)
    val qa = broadcast(assign(queries, queryId, queryEmb, "query_id", "__qe", nprobe))

    // cosine before the dedup so the hygiene exchange moves narrow
    // (query, neighbor, cosine) rows, never pairs of embedding arrays
    // (the r14 VectorIndex decade probe measured the wide form at
    // ~36 GB of shuffle; duplicate pairs are bit-identical, so either
    // order is value-equal)
    rankTopK(
      ca.join(qa, "centroid_id")
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("cosine", VectorFunctions.cosineNative(col("__qe"), col("__ce")))
        .select(col("query_id"), col("neighbor_id"), col("cosine"))
        .dropDuplicates("query_id", "neighbor_id"), k)
  }

  /** Per-group element-wise mean vectors (e.g. per-label centroids):
    * posexplode → per-dimension avg → re-assemble ordered by position.
    * Two shuffles regardless of dimension; no vectors on the driver.
    */
  def trainCentroids(df: DataFrame, embCol: String, groupCol: String): DataFrame =
    df.select(col(groupCol).as("centroid_id"), posexplode(col(embCol)).as(Seq("pos", "v")))
      .groupBy(col("centroid_id"), col("pos"))
      .agg(avg(col("v")).as("m"))
      .groupBy(col("centroid_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("centroid_id"), transform(col("pm"), x => x.getField("m")).as("centroid"))
}
