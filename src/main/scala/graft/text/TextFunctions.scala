package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-corpus pipelines: token
  * counting, word shingles, stopword/lexicon scoring, language-ID
  * heuristic, document fingerprinting. All are pure `Column`
  * expressions (codegen'd, no UDFs) so they stay inside whole-stage
  * codegen over a 100 TB `documents` scan.
  */
object TextFunctions {

  /** Whitespace tokenization (single-space corpus contract). */
  def tokens(text: Column): Column = split(text, " ")

  /** Word n-gram shingles, distinct not applied. Guarded so short
    * docs yield an empty array (Spark's `sequence(1, 0)` would count
    * DOWN, not produce empty). */
  def wordShingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*)))
      .otherwise(typedlit(Seq.empty[String]))

  /** (id, sh) table: distinct word-n-gram shingles per document.
    *
    * Implemented as a Scala UDF, deliberately breaking the
    * "expressions over UDFs" default: Catalyst higher-order-function
    * lambdas are interpreted (no codegen), and the measured cost of
    * the `transform`+`concat_ws` formulation ([[wordShingles]]) is
    * ~20× a JIT-compiled single-pass UDF on the same corpus
    * (7.5 s vs 0.4 s per 5k docs warm, measured in round 1). One
    * string-in/array-out UDF call per document keeps serialization
    * overhead negligible. */
  private val shingleUdf = udf((text: String, n: Int) =>
    if (text == null) Array.empty[String]
    else text.split(' ').sliding(n).withFilter(_.length == n)
      .map(_.mkString(" ")).distinct.toArray)

  def shingleTable(docs: org.apache.spark.sql.DataFrame, id: String,
                   text: String, n: Int): org.apache.spark.sql.DataFrame =
    docs.select(col(id), shingleUdf(col(text), lit(n)).as("sh"))

  /** Column form of the distinct word-n-gram shingle kernel. */
  def shingleUdfCol(text: Column, n: Int): Column = shingleUdf(text, lit(n))

  /** Disjoint `w`-word passages of a document, in order, as
    * (passage_index, passage_text) pairs. Single-pass JIT kernel for
    * the same reason as [[shingleUdf]] (interpreted higher-order
    * lambdas are ~20× slower on this corpus). Shared by
    * `q_passage_dedup` (w=8 rewrite dedup) and the RAG-indexing
    * flagship's chunker (w=32). */
  private val passagesUdf = udf((text: String, w: Int) => {
    val toks = if (text == null) Array.empty[String] else text.split(' ')
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    var s = 0
    var ix = 0
    while (s < toks.length) {
      val e = math.min(s + w, toks.length)
      out += ((ix, toks.slice(s, e).mkString(" ")))
      ix += 1
      s += w
    }
    out.toSeq
  })

  def passages(text: Column, w: Int): Column = passagesUdf(text, lit(w))

  /** Count of tokens present in a fixed lexicon (duplicates counted). */
  def lexiconCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => array_contains(typedlit(words), t)))

  /** Tiny function-word lexicons for the language-ID heuristic.
    * Deterministic scoring, not a trained model: argmax of per-language
    * function-word hits with a fixed tie-break order. */
  val Lexicons: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "est"),
    "es" -> Seq("el", "los", "las", "y", "de", "un", "una", "es"),
    "de" -> Seq("der", "die", "das", "und", "ein", "ist", "zu", "den"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  /** Canonical-form fingerprint: md5 of the lower-cased text. The
    * exact-match tier; [[rollingHash]]/[[minKgramFingerprint]] are the
    * shift-robust tiers. */
  def fingerprint(text: Column): Column = md5(lower(text))

  /** BPE-ish sub-word segmentation (GPT-2-style alternation, ASCII
    * tier): contractions, space-prefixed letter runs, digit runs,
    * punctuation runs. Counting these approximates LLM token cost far
    * better than whitespace splitting (≈ +30% on prose). */
  val BpePattern = "'[a-z]+| ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+"

  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpePattern), lit(0))

  /** Polynomial rolling hash of the whole text (base 131 over the
    * 31-bit Mersenne prime): O(n) one pass, identical result in any
    * engine with exact integer arithmetic — the cheap content hash
    * when md5 is overkill. */
  def rollingHash(text: Column): Column =
    aggregate(
      transform(split(text, ""), c => ascii(c).cast("long")),
      lit(0L),
      (acc, c) => pmod(acc * 131 + c, lit((1L << 31) - 1)))

  /** Shift-robust document fingerprint: the minimum md5 over all
    * k-char windows (single-hash MinHash over character k-grams, the
    * core of winnowing). Equal prefixes/suffixes survive edits
    * elsewhere in the doc, unlike [[fingerprint]]. */
  def minKgramFingerprint(text: Column, k: Int): Column =
    when(length(text) >= k,
      array_min(transform(sequence(lit(1), length(text) - (k - 1)),
        i => md5(text.substr(i, lit(k))))))
      .otherwise(md5(text))
}
