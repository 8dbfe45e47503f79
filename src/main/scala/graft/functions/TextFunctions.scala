package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-pipeline building blocks over a document text column: tokens,
  * shingles, hashing. All native expressions (no UDFs).
  */
object TextFunctions {

  /** Whitespace tokens (single-space corpus; empties filtered so runs of
    * spaces behave). */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** Distinct word n-gram shingles, e.g. n=3: "a b c". Empty array for
    * docs shorter than n tokens. Backed by the native [[WordShingles]]
    * expression (single JVM pass; ~20× the interpreted-HOF form it
    * replaced — see that class's doc). */
  def shingles(text: Column, n: Int): Column = WordShingles(text, n)

  /** The original pure-HOF shingle formulation (zip of n shifted slices),
    * kept as the built-ins reference implementation — pinned equal to
    * [[shingles]] by TextFunctionsSpec. (The slice/zip form rather than
    * indexing: `element_at(toks, i+j)` inside a position lambda would
    * re-evaluate the whole tokenize pipeline per element — measured 7.2 s
    * to build a 260k-shingle index at sf0.1.) */
  def shinglesHof(text: Column, n: Int): Column = {
    val toks = tokens(text)
    val k = size(toks) - (n - 1)
    val shifted = (0 until n).map(j => slice(toks, lit(j + 1), k))
    val zipped = shifted.reduce((a, b) =>
      zip_with(a, b, (x, y) => concat_ws(" ", x, y)))
    when(k >= 1, array_distinct(zipped))
      .otherwise(array().cast("array<string>"))
  }

  /** LSH band hashes of a minhash signature (array<long> attribute):
    * bands of `rowsPerBand`, each band hashed to one long. Pairs sharing
    * any band hash are candidate near-duplicates. */
  def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      xxhash64(concat_ws(",",
        slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))
          .cast("array<string>"))))

  /** 64-bit SimHash of a token-array column: token hash bit j votes +1/-1
    * on output bit j; bit set where the vote sum is positive. Computed with
    * aggregate/zip_with — one pass, no explode. */
  def simHash(toks: Column): Column = {
    // shiftright/shiftleft with a *column* shift amount go through
    // call_function (the functions._ overloads only take a literal Int).
    def shr(e: Column, n: Column): Column =
      call_function("shiftright", e, n.cast("int"))
    def shl(e: Column, n: Column): Column =
      call_function("shiftleft", e, n.cast("int"))
    val idx = typedlit((0 until 64).map(_.toLong))
    val votes = aggregate(
      toks,
      typedlit(Seq.fill(64)(0L)),
      (acc, w) => {
        val h = xxhash64(w)
        zip_with(acc, idx, (a, j) =>
          a + when(shr(h, j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      })
    aggregate(
      zip_with(votes, idx, (v, j) =>
        when(v > 0, shl(lit(1L), j)).otherwise(lit(0L))),
      lit(0L),
      (acc, bit) => acc.bitwiseOR(bit))
  }

  /** Karp–Rabin rolling polynomial fingerprint over tokens:
    * h = sum tok_hash * B^i mod M, streamed as h = h*B + tok_hash mod M.
    * Uses xxhash64 per token folded into [0, M); M = 2^31-1 (Mersenne
    * prime — keeps acc*B + tok well under Long overflow), B = 31.
    * Order-sensitive (unlike a set hash) — reordered documents get
    * different fingerprints, equal documents identical ones. */
  def rollingFingerprint(toks: Column): Column = {
    val M = 2147483647L // 2^31 - 1
    aggregate(
      toks,
      lit(0L),
      (acc, w) => pmod(acc * 31L + pmod(xxhash64(w), lit(M)), lit(M)))
  }
}
