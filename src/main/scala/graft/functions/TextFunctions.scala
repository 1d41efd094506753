package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines:
  * tokenization, shingling, language-ID heuristics, quality scoring,
  * fingerprinting, SimHash.
  *
  * Everything here is built from builtin (codegen'd) expressions — no UDFs —
  * so the whole pipeline stays inside whole-stage codegen and scales
  * linearly with input splits; none of these shuffles.
  */
object TextFunctions {

  /** Lowercased word tokens (letters+digits runs). */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** Whitespace-delimited token count (cheap `wc -w`-style). */
  def wsTokenCount(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** BPE-ish token count: words, digit runs, and punctuation each count. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Word n-gram shingles of the token array (distinct); empty for texts
    * shorter than n tokens (guarded — Spark's sequence(0,-1) would count
    * DOWN and index out of range).
    */
  def shingles(toks: Column, n: Int = 3): Column =
    when(size(toks) >= n,
      array_distinct(
        transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", (1 to n).map(j => element_at(toks, i + j)): _*))))
      .otherwise(array().cast("array<string>"))

  /** MinHash value for one seed: min over shingles of md5(seed#shingle).
    * String-min over hex md5 is deterministic and engine-portable (the
    * DuckDB oracle computes the identical quantity).
    */
  def minhash(shingleArr: Column, seed: Int): Column =
    array_min(transform(shingleArr, s => md5(concat(lit(s"$seed#"), s))))

  /** k-seed MinHash signature as an array of hex strings. */
  def minhashSignature(shingleArr: Column, k: Int): Column =
    array((0 until k).map(minhash(shingleArr, _)): _*)

  /** Normalized-text fingerprint (rolling-hash stand-in): md5 of the
    * lowercased token stream — whitespace/punctuation-insensitive.
    */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", tokens(text)))

  /** 64-bit SimHash over the token multiset (xxhash64 word hashes; each
    * bit votes +1/-1 weighted by term frequency). Spark-only (xxhash64 has
    * no portable oracle) — verified by property tests instead.
    */
  def simhash64(toks: Column): Column = {
    // one literal mask per bit — keeps the whole computation in builtin
    // array expressions (no column-valued shift needed)
    val masks = array((0 until 64).map(j => lit(1L << j)): _*)
    val bitSums = aggregate(
      transform(toks, w => xxhash64(w)),
      array_repeat(lit(0L), 64),
      (acc, h) =>
        zip_with(acc, masks,
          (a, m) => a + when((h bitwiseAND m) =!= 0L, 1L).otherwise(-1L)))
    aggregate(
      zip_with(bitSums, masks, (s, m) => when(s >= 0L, m).otherwise(lit(0L))),
      lit(0L), (a, b) => a bitwiseOR b)
  }

  /** Count of matches of a stopword alternation — the n-gram-heuristic
    * language-ID building block.
    */
  def stopwordHits(text: Column, words: Seq[String]): Column =
    size(regexp_extract_all(lower(text), lit(s"\\b(${words.mkString("|")})\\b"), lit(0)))

  /** English stopwords used by the language-ID heuristic. */
  val enStopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is")
}
