package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Deterministic hash families for dedup sketches (minhash).
 *
 * All hashes derive from md5 so the exact same signatures are computable in
 * any engine (the DuckDB oracle recomputes them from the same formula) and
 * are stable across Spark versions — unlike murmur3 `hash()`, whose seed and
 * implementation are engine-specific.
 */
object HashFunctions {

  /** 60-bit positive hash of a string column: first 15 md5 hex chars. */
  def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Seeded variant: prefix the seed so each i is an independent hash fn. */
  def h60(seed: Int, c: Column): Column =
    h60(concat_ws("#", lit(seed), c))

  /** Word shingles (n-grams of tokens) of normalized text. */
  def shingles(text: Column, n: Int): Column = {
    val toks = split(TextFunctions.searchStr(text), "\\s+")
    val idx = sequence(lit(0), greatest(size(toks) - n, lit(0)))
    array_distinct(transform(idx, i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** 2^31 - 1, the Mersenne prime used by the minhash affine family. */
  val MinhashPrime: Long = 2147483647L

  /**
   * MinHash signature: one md5 base hash per shingle, then `numHashes`
   * affine rehashes ((a*x + b) mod p) and a min per hash function. Standard
   * shingle→minhash construction (Broder 1997); banding for LSH happens in
   * [[graft.ops.Dedup]]. All intermediates stay within 2^35 — safe in any
   * engine's signed 64-bit arithmetic (the SQL oracle replays the formula).
   */
  def minhashSignature(text: Column, numHashes: Int, shingleSize: Int = 3): Column = {
    val bases = transform(shingles(text, shingleSize), s => h60(s))
    array((0 until numHashes).map { i =>
      array_min(transform(bases,
        b => ((b % MinhashPrime) * (i + 1) + i) % MinhashPrime))
    }: _*)
  }
}
