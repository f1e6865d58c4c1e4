package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared oracle-portable text primitives.
  *
  * Everything here is pure integer/column arithmetic chosen so the DuckDB
  * oracle can compute the *bit-identical* value (no engine-specific hash
  * like xxhash64/murmur — at production scale you would swap
  * `polyHash` for `xxhash64` and keep the surrounding plans unchanged).
  * All expressions are codegen-friendly higher-order functions: no UDFs,
  * no explode where a per-row array op suffices.
  */
object TextOps {
  /** Large prime modulus shared with the oracle SQL. */
  val P = 1000000007L

  /** Polynomial rolling hash over codepoints:
    * h = fold(chars, 0, (acc, c) => (acc*131 + ascii(c)) mod P).
    * Oracle twin: list_reduce(list_prepend(0, list_transform(
    *   string_split(s,''), c -> ascii(c))), (acc,x) -> (acc*131+x) % P).
    * Dispatches to the native codegen expression (PolyHashExpr) — same
    * math, no per-char array materialization. */
  def polyHash(s: Column): Column = graft.functions.GraftFunctions.polyhash(s)

  /** Whitespace tokens (the corpus is single-space separated). */
  def toks(text: Column): Column = split(text, " ")

  /** n-token shingles as strings, in order; empty array if too short. */
  def shingles(t: Column, n: Int): Column =
    when(size(t) >= n,
      transform(sequence(lit(0), size(t) - n),
        i => concat_ws(" ", slice(t, i + lit(1), lit(n)))))
      .otherwise(array())

  /** Distinct shingle-hash set of a text — the unit of Jaccard
    * similarity for the dedup family. Native kernel; its HOF twin is
    * the spec-side `ReferenceTwins.shingleHashSetHof`. */
  def shingleHashSet(text: Column, n: Int): Column =
    graft.functions.GraftFunctions.shingleHashes(toks(text), n)

  /** k MinHash values over a distinct-hash-set column (native kernel;
    * HOF twin `ReferenceTwins.minhashesHof`). */
  def minhashes(hset: Column, k: Int): Column =
    graft.functions.GraftFunctions.minhashes(hset, k)

  /** Fold `rowsPerBand` consecutive minhashes into one band key. */
  def bandKeys(mh: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => aggregate(slice(mh, b * lit(rowsPerBand) + 1, lit(rowsPerBand)),
        lit(0L), (acc, x) => (acc * 131L + x) % P))

  /** Canonical near-dup signature parameters — ONE definition shared by
    * the near-dup operators (Dedup.minhashNearDup, the ingest dedup),
    * their specs, and the q23 oracle SQL. Parameter drift in any one
    * site would silently desynchronize the operator ≡ oracle
    * guarantee. */
  val NearDupShingleN = 3
  val NearDupMinhashK = 16
  val NearDupBands = 4
  val NearDupRows = 4

  /** shingle set → k minhashes → band keys with the canonical params. */
  def nearDupBandKeys(hs: Column): Column =
    bandKeys(minhashes(hs, NearDupMinhashK), NearDupBands, NearDupRows)
}
