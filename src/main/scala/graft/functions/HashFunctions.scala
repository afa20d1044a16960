package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Hash-sketch primitives (MinHash, SimHash) as pure Catalyst expression
  * compositions. Signatures are deterministic functions of the input text
  * (xxhash64 with per-row salts), so they are stable across runs,
  * partitionings, and cluster sizes — a requirement for incremental
  * dedup over a growing 100 TB corpus.
  */
object HashFunctions {

  /** Distinct hashed word n-gram shingles computed WITHOUT materializing
    * shingle strings: xxhash64 chains the n token strings directly
    * (`xxhash64(tok_i, …, tok_{i+n-1})`), skipping the concat_ws
    * allocation per shingle — the dominant cost of shingling at corpus
    * scale. Distinct runs on longs, not strings. Returns array<bigint>;
    * fewer than n tokens (or a NULL token array) → empty array.
    *
    * Native fused expression ([[graft.plans.ShingleHash]]): one codegen
    * pass over the tokens, bit-identical to the HOF formulation below.
    */
  def hashedWordShingles(toks: Column, n: Int): Column =
    coalesce(
      call_function("graft_shingles", toks, lit(n), lit(true)),
      array().cast("array<bigint>"))

  /** Per-token xxhash64 (`array<string>` → `array<bigint>`, multiset
    * preserved — NOT distinct), the feed of the SimHash path; native
    * one-pass equivalent of `transform(toks, t => xxhash64(t))`.
    */
  def hashedTokens(toks: Column): Column =
    call_function("graft_shingles", toks, lit(1), lit(false))

  /** MinHash over pre-hashed shingles (array<bigint>): the native fused
    * expression ([[graft.plans.MinHashSig]]) — one codegen loop instead of
    * k interpreted `transform` passes, bit-identical values. (Difference
    * that never arises in the pipeline: a NULL hashes array yields NULL
    * here vs all-MaxValue in the HOF form; `hashedWordShingles` always
    * returns a non-null — possibly empty — array.)
    */
  def minHashFromHashes(hashes: Column, k: Int): Column =
    call_function("graft_minhash", hashes, lit(k))

  /** The MinHash PLUMBING — min over each of k permutations of the
    * hashed item set, empty set → the all-MaxValue sentinel — with the
    * permutation function pluggable. Production permutes with xxhash64
    * (the spec reference `HofReference.minHashFromHashesHof`, and the
    * fused native [[graft.plans.MinHashSig]] pinned bit-identical to it
    * by spec); the
    * DuckDB-replayable oracle twin (q98) permutes with a sha-256-prefix
    * hash so this exact structure gets a full SQL hash oracle —
    * xxhash64 itself is the one piece DuckDB cannot replay.
    */
  def minHashGeneric(hashes: Column, k: Int, perm: (Int, Column) => Column): Column =
    array((0 until k).map { i =>
      coalesce(array_min(transform(hashes, h => perm(i, h))), lit(Long.MaxValue))
    }: _*)

  /** LSH band key: hash of rows `[band*rowsPerBand, (band+1)*rowsPerBand)`
    * of the signature. Two docs whose signatures agree on every row of a
    * band get the same key — the banding trick that turns near-dup search
    * into an equi-join (shuffle on (band, key), no all-pairs compare).
    *
    * Band and width are plan-time literals, so the key is a variadic
    * `xxhash64` over `element_at` refs — fully codegen, zero allocation
    * (the previous formulation built a comma-joined STRING per band per
    * row through an interpreted `transform`).
    */
  def bandKey(signature: Column, band: Int, rowsPerBand: Int): Column =
    bandKeyWith(signature, band, rowsPerBand, cols => xxhash64(cols: _*))

  /** The banding PLUMBING — band/width slicing of the signature into the
    * key tuple — with the key hash pluggable. Production hashes with
    * xxhash64 ([[bandKey]]); the oracle twin (q98) hashes the same tuple
    * with a sha-256 prefix so the slicing structure is SQL-replayable.
    */
  def bandKeyWith(signature: Column, band: Int, rowsPerBand: Int,
      hasher: Seq[Column] => Column): Column =
    hasher(
      lit(band) +: (0 until rowsPerBand).map(r =>
        element_at(signature, band * rowsPerBand + r + 1)))

  /** SimHash over pre-hashed tokens (array<bigint>) — materialize the
    * hashed array first (one string hash per token, not per bit). Native
    * fused expression ([[graft.plans.SimHash64]]): one pass over the
    * tokens instead of `bits` interpreted `aggregate` passes, bit-identical
    * values (including empty input → all bits set, the `counts(j) = 0 >= 0`
    * tie convention both forms share).
    */
  def simHashFromHashes(hashes: Column, bits: Int): Column =
    call_function("graft_simhash", hashes, lit(bits))

  /** The original HOF formulation, kept as the independent reference the
    * equivalence spec checks the native expression against.
    */
  def simHashFromHashesHof(hashes: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 63, "1..63 bits")
    (0 until bits).map { j =>
      val contrib = aggregate(
        hashes,
        lit(0L),
        (acc, h) => acc + when(shiftright(h, j).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
      when(contrib >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Chunk c (of `chunks` equal slices) of a packed simhash — used as an
    * LSH blocking key: Hamming-close signatures share at least one
    * identical chunk when distance < chunks.
    */
  def simHashChunk(sig: Column, c: Int, bits: Int, chunks: Int): Column = {
    val w = bits / chunks
    shiftright(sig, c * w).bitwiseAND((1L << w) - 1L)
  }

  /** Signed feature-hashing embedding of a pre-hashed token array
    * (`array<bigint>`, the SimHash/MinHash input convention) — a dense
    * L2-normalized `array<double>` of length `dim` via the native
    * one-pass kernel ([[graft.plans.HashEmbed]]): bucket
    * `(h >>> 1) % dim` accumulates a ±1 vote per token (sign from bit
    * 0). No model, no vocabulary, no shuffle — the pure-projection
    * bridge from the `documents` table to everything the embedding
    * family consumes (VectorIndex, LSH, brute top-k, SemDeDup). The
    * caller picks the token hasher: `xxhash64` in production
    * (per distinct shingle), [[graft.operators.Sketches.sha60]] in
    * the DuckDB-replayable oracle twin (q118).
    */
  def hashEmbed(hashes: Column, dim: Int): Column =
    call_function("graft_hash_embed", hashes, lit(dim))
}
