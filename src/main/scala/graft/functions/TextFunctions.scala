package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text primitives for the dedup / analysis operators.
  *
  * Everything here is built from codegen'd built-in functions (split,
  * md5, conv, higher-order array functions) — no UDFs — so the
  * expressions stay inside whole-stage codegen and are reproducible in
  * any engine with the same primitives (the DuckDB oracles mirror them).
  */
object TextFunctions {

  /** Whitespace tokens (single-space split, preserving multiplicity). */
  def tokens(text: Column): Column = split(text, " ")

  /** 32-bit hash of a string: first 8 hex digits of md5, as a long in
    * [0, 2^32). md5 is identical everywhere, so unlike `hash()` (engine
    * private) this is cross-engine reproducible. round-14: computed by
    * the native [[graft.plans.Md5PrefixLongExpr]] kernel straight off
    * the digest bytes — same value, none of the per-call hex-string
    * materialization + substring + base-16 `conv` re-parse of the old
    * declarative chain (this is called once per TOKEN by every
    * tokenize-and-hash operator).
    */
  def hash32(c: Column): Column =
    graft.plans.Md5PrefixLongExpr.md5PrefixLong(c, 8)

  /** Rolling-hash constants for n-gram shingle hashing: base K small
    * enough that K^4 * h32 stays far inside a signed long.
    */
  val RollK = 33L
  val RollP = 4294967311L // smallest prime > 2^32

  /** Polynomial coefficients K^(n-1), …, K, 1 — the single source both
    * the Spark pipeline and the generated oracle SQL draw from, so the
    * two hash definitions cannot drift.
    */
  def rollCoeffs(n: Int): Seq[Long] = {
    // overflow bound: sum_j K^j * (P-1) must stay inside a signed long;
    // for K=33 that holds up to n = 7
    require(n >= 1 && n <= 7, s"rolling shingle width $n would overflow a signed long")
    (0 until n).map(j => (0 until (n - 1 - j)).foldLeft(1L)((acc, _) => acc * RollK))
  }

  /** Rolling shingle hashes over a PRE-MATERIALIZED token-hash array
    * column: combine each n-window of token hashes polynomially —
    * (h_i·K^4 + … + h_{i+4}) mod P. ~3x faster than building+md5-ing
    * every shingle string, same inverted-index semantics, and exactly
    * reproducible in SQL (the oracle mirrors the arithmetic).
    *
    * IMPORTANT: `ht` must be a plain column reference to
    * `transform(words, hash32)` computed in its OWN projection. Passing
    * the transform expression inline would copy it into every
    * element_at — Catalyst then re-hashes the whole token array per
    * shingle position (O(len²·n) md5 calls; observed as a 30x blowup).
    * A named multi-referenced column is not collapsed into the lambda.
    */
  def rollingShingleHashes(ht: Column, n: Int): Column = {
    val ks = rollCoeffs(n)
    // round-14: the window fold runs in the native RollingPolyHash
    // kernel (one codegen'd loop) instead of an interpreted
    // transform-lambda with n element_at calls per position — same
    // integer math ((Σ ht·k) % P, long accumulate, one % at the end),
    // same null propagation; the size guard keeps the empty-array
    // semantics for short token lists bit-unchanged.
    when(
      size(ht) >= n,
      graft.plans.TokenKernels.rollingPolyHash(ht, ks, RollP)
    ).otherwise(array().cast("array<long>"))
  }

  /** Per-token md5-prefix hashes of a string array in ONE native pass —
    * the kernel form of `transform(arr, t => hashN(salt ++ t) % mod)`
    * (round-14; transform lambdas are CodegenFallback — interpreted per
    * element). hexDigits 8 ≡ [[hash32]]; salt ""
    * and mod 0 mean none.
    */
  def md5Tokens(arr: Column, hexDigits: Int, salt: String = "", mod: Long = 0L): Column =
    graft.plans.TokenKernels.md5Tokens(arr, hexDigits, salt, mod)
}
