package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column builders for large-scale training-data
  * pipelines: tokenization, quality scoring, language-ID heuristics,
  * fingerprinting, shingling, and set-similarity.
  *
  * Everything here is a row-local Catalyst expression (no UDFs, no
  * shuffles): at 100 TB these run map-side inside whole-stage codegen
  * (higher-order array functions evaluate interpreted but stay inside
  * the same stage). The `documents` testdata table is the fixture
  * (FIXTURES.md); the reference has no text surface (SURVEY.md §2.7),
  * so this module is extension tier per BASELINE.json's north star.
  */
object TextOps {

  /** Whitespace tokens of trimmed text. Single-space split matches
    * the documents fixture; swap the pattern for real corpora. */
  def tokens(text: Column): Column = split(trim(text), " ")

  /** The identical tokens as DuckDB SQL text. */
  def tokensSql(text: String): String = s"string_split(trim($text), ' ')"

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Mean token length via a row-local fold (sum of lengths / n). */
  def avgTokenLen(toks: Column): Column =
    aggregate(toks, lit(0), (acc, t) => acc + length(t))
      .cast("double") / size(toks)

  /** Fraction of tokens that are stopwords (multiset semantics —
    * `filter`+`size`, not `array_intersect`, which would dedup). */
  def stopwordRatio(toks: Column, stopwords: Seq[String]): Column =
    size(filter(toks, t => t.isin(stopwords.map(lit): _*)))
      .cast("double") / size(toks)

  /** Punctuation character ratio. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[.,;:!?]", "")))
      .cast("double") / length(text)

  /** Occurrences of a literal substring (replace trick — identical
    * integer arithmetic on any engine, unlike regex counts). */
  def occurrences(text: Column, literalKw: String): Column =
    ((length(text) - length(replace(text, lit(literalKw), lit(""))))
      / lit(literalKw.length)).cast("int")

  /** Marker-word score for one language: total occurrences of its
    * marker tokens (padded with spaces so only whole words count). */
  def langScore(text: Column, markers: Seq[String]): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    markers.map(m => occurrences(padded, s" $m ").cast("long"))
      .reduce(_ + _)
  }

  /** n-gram language-ID heuristic: argmax of per-language marker
    * scores, first-listed language wins ties, 'und' when all zero.
    * Runs through the native one-pass [[graft.functions.LangPredict]]
    * expression (GraftFunctions.register must have run on the
    * session): the composable fold below duplicates every language's
    * score tree into `best` and each CASE branch, and predicate
    * pushdown re-inlines the lot into consuming Filters — q72's
    * composed pipeline generated a >64 KB janino method that kicked
    * the whole stage out of codegen. Semantics are bit-identical
    * (TextOpsSpec cross-checks against [[languageIdComposed]]). */
  def languageId(text: Column, profiles: Seq[(String, Seq[String])]): Column =
    graft.functions.GraftFunctions.langPredict(text, profiles)

  /** The composable built-ins-only formulation — the DuckDB oracles
    * mirror THIS shape; kept as the cross-check reference for the
    * native expression. */
  def languageIdComposed(text: Column,
      profiles: Seq[(String, Seq[String])]): Column = {
    val scores = profiles.map { case (lang, ms) => lang -> langScore(text, ms) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, sc), elseC) =>
      when(sc === best && best > 0, lit(lang)).otherwise(elseC)
    }
  }

  /** Content fingerprint: md5 hex of the normalized text. Identical
    * on every engine (unlike murmur/xxhash whose seeds differ). */
  def fingerprint(text: Column): Column = md5(lower(trim(text)))

  /** BPE-ish token-count estimate: max(word count, ceil(chars/4)) —
    * the classic ~4-chars-per-token heuristic, integer-exact. */
  def bpeTokenEstimate(text: Column): Column =
    greatest(tokenCount(text).cast("long"),
      ceil(length(text) / lit(4.0)).cast("long"))

  /** GPT-2-style pre-tokenizer pattern (contractions, letter runs,
    * digit runs, punctuation runs, whitespace), minus the original's
    * trailing-space lookahead so the pattern stays portable between
    * Java regex (Spark) and RE2 (DuckDB) — neither class of engine
    * disagreement is possible without backtracking-only syntax. */
  val bpePattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** Pre-tokenizer match count — the number of BPE input chunks
    * (each chunk then splits into >= 1 BPE tokens, so this lower-
    * bounds the true token count the way length/4 upper-bounds it). */
  def bpeChunkCount(text: Column): Column =
    regexp_count(text, lit(bpePattern))

  /** Email pattern, portable between Java regex and RE2 (no
    * lookaround, no backreferences). */
  val emailPattern: String =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** US-phone-shaped pattern (555-123-4567 / 555.123.4567). */
  val phonePattern: String = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** PII scrubbing: replace emails and phone-shaped numbers with
    * placeholder tags — the redaction pass training-data pipelines
    * run before tokenization. Row-local regexp_replace chain; both
    * patterns avoid backtracking-only syntax so the same scrub is
    * expressible in RE2 engines for verification. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "<EMAIL>"),
      phonePattern, "<PHONE>")

  def emailCount(text: Column): Column =
    regexp_count(text, lit(emailPattern))

  def phoneCount(text: Column): Column =
    regexp_count(text, lit(phonePattern))

  /** Word n-gram shingles, deduplicated: zip n shifted views of the
    * token array (slice is O(1) per view; no index lambda needed).
    * Requires size(toks) >= n — filter shorter docs upstream. */
  /** Word n-grams WITHOUT dedup (repetition statistics need the
    * multiplicities [[shingles]] throws away) — same zipped-slices
    * construction, row-local. Requires size(toks) >= n. */
  def wordGrams(toks: Column, n: Int): Column = {
    val win = size(toks) - lit(n - 1)
    (1 until n).foldLeft(slice(toks, lit(1), win)) { (acc, k) =>
      zip_with(acc, slice(toks, lit(k + 1), win),
        (a, b) => concat(a, lit(" "), b))
    }
  }

  /** Highest multiplicity of any element: sort, then fold a
    * (prev, run, best) state over the runs — O(m log m) row-local,
    * no explode/groupBy shuffle of per-doc grams. */
  def maxMultiplicity(arr: Column): Column =
    aggregate(sort_array(arr),
      // element-typed init: prev seeds from the array's own first
      // element with run 0, so the fold works for ANY element type
      // (string grams, hashed grams) — the first iteration then
      // matches prev and correctly starts the run at 1
      struct(try_element_at(arr, lit(1)).as("prev"), lit(0).as("run"),
        lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"),
          acc.getField("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** Shannon entropy (nats) of a document's token distribution:
    * H = ln(n) − (Σ c·ln c)/n over per-token counts c. Row-local
    * like [[maxMultiplicity]]: sort, fold a (prev, run, acc) state
    * over the runs — each run's c·ln(c) term closes in ascending
    * token order, the SAME left-to-right order as the oracle's
    * list-ordered sum, so double addition agrees bit-for-bit. */
  def tokenEntropy(toks: Column): Column = {
    def term(run: Column): Column = {
      val r = run.cast("double")
      when(run > 0, r * log(r)).otherwise(lit(0.0))
    }
    val folded = aggregate(sort_array(toks),
      struct(try_element_at(toks, lit(1)).as("prev"), lit(0L).as("run"),
        lit(0.0).as("acc")),
      (acc, x) => {
        val same = x === acc.getField("prev")
        struct(x.as("prev"),
          when(same, acc.getField("run") + 1L).otherwise(lit(1L)).as("run"),
          when(same, acc.getField("acc"))
            .otherwise(acc.getField("acc") + term(acc.getField("run")))
            .as("acc"))
      },
      acc => acc.getField("acc") + term(acc.getField("run")))
    val n = size(toks).cast("double")
    when(size(toks) > 0, log(n) - folded / n)
  }

  def shingles(toks: Column, n: Int = 3): Column = {
    val win = size(toks) - lit(n - 1)
    val first = slice(toks, lit(1), win)
    val shin = (1 until n).foldLeft(first) { (acc, k) =>
      zip_with(acc, slice(toks, lit(k + 1), win),
        (a, b) => concat(a, lit(" "), b))
    }
    array_distinct(shin)
  }
}
