package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative (true sequential) BPE tokenizer TRAINING.
  *
  * Byte-pair-encoding training is inherently sequential: each round
  * counts adjacent-SYMBOL pairs over the whole corpus, merges the
  * most frequent pair into one symbol, and ONLY THEN counts again —
  * because merges create pairs that did not exist before (learning
  * `he` makes `t·he` countable; a one-shot ranking of the initial
  * character pairs can never see it). The reference surface's
  * tokenizer step (il_analysis_git.py has none — this is the
  * LLM-pipeline extension tier) therefore gets BOTH: `q_bpe_encode`'s
  * one-shot table (documented approximation, applying side exact) and
  * this trainer (the real algorithm).
  *
  * Scale shape: each round is exactly the audited `q_bpe_pairs` plan
  * — one corpus scan, map-side-collapsing (pair, count) aggregate
  * (≤ |symbols|² partial rows per partition), one KB-sized shuffle,
  * top-1 via a 1-row collect (driver-held like the ANN codebooks).
  * K rounds = K scans; the symbol stream is re-derived per scan by
  * folding the ≤ K learned merges into the projection (regex passes
  * are corpus-scan-speed; no per-round materialized corpus copy, no
  * growing lineage — the learned table is literals).
  *
  * Symbols are space-wrapped in the stream (` a  b  c `), a pair is
  * the two symbols space-joined (`a b`), and a merge replaces
  * ` a  b ` → ` ab ` left-to-right non-overlapping — Java regex and
  * RE2/DuckDB share those semantics exactly, so the whole training
  * run is hash-verifiable cross-engine (the `q_bpe_encode`
  * convention). Pairs are restricted to `[a-z0-9]` symbols so no
  * learned symbol can be a regex metacharacter.
  */
object Bpe {

  /** Run `k` sequential merge rounds over `words` (one string column
    * named `word`). Returns (pair "a b", count-at-selection) in merge
    * order; stops early if the corpus runs out of alphanumeric
    * pairs.
    *
    * The corpus is first collapsed to the DISTINCT-WORD frequency
    * table — the classic BPE formulation: a word's pairs are weighted
    * by its occurrence count, which yields IDENTICAL pair totals
    * while every round scans |vocab| rows instead of |corpus| words
    * (the published reference implementations train on exactly this
    * dict). One groupBy shuffle up front (persisted on the distributed
    * tier); natural-language
    * vocabularies follow Zipf, so |vocab| ≪ corpus words by orders of
    * magnitude and the K per-round regex folds run over a frame that
    * no longer grows with the corpus at all. */
  /** Vocabulary bound below which the K rounds run on the DRIVER over
    * the collected dict ([[graft.ops.Tier]]: bounded state, distributed
    * fallback above the bound). The distributed loop pays ~3 scheduled
    * jobs per round — pure fixed cost once the dict is KB-sized — so a
    * 32-round training on a Zipf vocabulary was seconds of scheduling
    * over microseconds of regex work. Both tiers run the SAME
    * java.util.regex machinery (Spark's regexp_replace/rlike compile
    * to it), so the learned table is bit-identical; BpeDriverTierSpec
    * pins tier equality. */
  val DriverVocabMax = 1 << 16

  def train(words: DataFrame, k: Int): Seq[(String, Long)] = {
    val wc = words.groupBy("word").agg(count(lit(1)).as("wn"))
    graft.ops.Tier.rows("bpe", wc, DriverVocabMax) match {
      case Some(dict) => trainLocal(dict.map(r => (r.getString(0), r.getLong(1))), k)
      case None => trainDistributed(graft.ops.SideCache.persist(wc), k)
    }
  }

  /** The distributed tier: K scheduled rounds over the persisted dict
    * frame — the 100 TB-vocabulary path (and the reference the driver
    * tier is pinned against by BpeDriverTierSpec). */
  private def trainDistributed(wc: DataFrame, k: Int)
      : Seq[(String, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    var stream: Column = regexp_replace(col("word"), "(.)", " $1 ")
    var r = 0
    while (r < k) {
      val syms = split(trim(stream), "  ")
      // guard: sequence(1, 0) would step BACKWARDS ([1, 0]) on
      // single-symbol words — emit no pairs instead
      val pairs = when(size(syms) >= 2,
        transform(sequence(lit(1), size(syms) - 1),
          i => concat(element_at(syms, i), lit(" "), element_at(syms, i + 1))))
        .otherwise(array())
      val top = wc.select(explode(pairs).as("pr"), col("wn"))
        .filter(col("pr").rlike("^[a-z0-9]+ [a-z0-9]+$"))
        .groupBy("pr").agg(sum("wn").as("n"))
        .orderBy(col("n").desc, col("pr"))
        .limit(1).collect()
      if (top.isEmpty) return out.toSeq
      val pr = top(0).getString(0)
      out += ((pr, top(0).getLong(1)))
      val Array(a, b) = pr.split(" ")
      stream = regexp_replace(stream, s" $a  $b ", s" $a$b ")
      r += 1
    }
    out.toSeq
  }

  /** Spark `trim` trims ONLY ASCII spaces (UTF8String.trim), while
    * java.lang.String#trim also strips every control char ≤ U+0020 —
    * the driver tier must match the distributed expression exactly. */
  private def trimSpaces(s: String): String = {
    var i = 0
    var j = s.length
    while (i < j && s.charAt(i) == ' ') i += 1
    while (j > i && s.charAt(j - 1) == ' ') j -= 1
    s.substring(i, j)
  }

  private val PairRe = java.util.regex.Pattern.compile("^[a-z0-9]+ [a-z0-9]+$")

  /** The driver tier: the identical recurrence over the collected
    * (word, weight) dict. Every string operation below is the same
    * java.util.regex / byte-comparable-ASCII semantics the distributed
    * expressions compile to:
    *  - stream init  = `regexp_replace(word, "(.)", " \$1 ")`;
    *  - symbolization = `split(trim(stream), "  ")` (space-only trim,
    *    limit −1 — trailing empties kept, as Spark's split does);
    *  - candidate filter = `rlike("^[a-z0-9]+ [a-z0-9]+$")`, so every
    *    countable pair is ASCII alnum + one space and the (n DESC,
    *    pair ASC) argmax agrees between UTF8String byte order and
    *    String order;
    *  - merge = one left-to-right non-overlapping `replaceAll` of the
    *    space-wrapped pair — Java regex, exactly Spark's
    *    regexp_replace.
    * Streams are carried ACROSS rounds (apply merge r once) — the
    * same strings the distributed fold re-derives per round, by
    * construction of function composition. */
  private def trainLocal(dict: Array[(String, Long)], k: Int)
      : Seq[(String, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val streams = dict.map { case (w, _) => w.replaceAll("(.)", " $1 ") }
    val weights = dict.map(_._2)
    var r = 0
    while (r < k) {
      val counts = new java.util.HashMap[String, Long]()
      var wi = 0
      while (wi < streams.length) {
        val syms = trimSpaces(streams(wi)).split("  ", -1)
        if (syms.length >= 2) {
          val wn = weights(wi)
          var i = 0
          while (i < syms.length - 1) {
            val pr = syms(i) + " " + syms(i + 1)
            if (PairRe.matcher(pr).matches())
              counts.put(pr, counts.getOrDefault(pr, 0L) + wn)
            i += 1
          }
        }
        wi += 1
      }
      if (counts.isEmpty) return out.toSeq
      var bestPr: String = null
      var bestN = Long.MinValue
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue > bestN ||
            (e.getValue == bestN && e.getKey.compareTo(bestPr) < 0)) {
          bestPr = e.getKey
          bestN = e.getValue
        }
      }
      out += ((bestPr, bestN))
      val Array(a, b) = bestPr.split(" ")
      val pat = s" $a  $b "
      val rep = s" $a$b "
      wi = 0
      while (wi < streams.length) {
        streams(wi) = streams(wi).replaceAll(pat, rep)
        wi += 1
      }
      r += 1
    }
    out.toSeq
  }
}
