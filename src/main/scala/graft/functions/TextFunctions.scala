package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis scalar functions for the training-data pipeline surface
  * (SURVEY §7.1 step 7). Everything here is row-local — built from
  * higher-order array functions and codegen'd string expressions — so it
  * scales embarrassingly: no shuffle is introduced until a caller groups or
  * joins on the derived values.
  *
  * Cross-engine determinism: hashing is `md5` (identical hex output in Spark
  * and DuckDB), ratios are single double divisions of exact integer counts
  * (IEEE-deterministic), so every function here is oracle-comparable.
  */
object TextFunctions {

  /** Whitespace tokens. Empty string → single empty token, like the SQL
    * `str_split` contract in DuckDB — keep both sides identical. */
  def tokens(c: Column): Column = split(c, " ")

  /** One term's BM25 contribution (k1 = 1.2, b = 0.75, Lucene-style idf)
    * from per-row tf/dl and corpus-level df/n_docs/avgdl — THE single
    * definition of the scoring tree, shared by the full-scan scorer
    * (`tx_bm25` / `sim_hybrid_rrf`) and the posting-list serve
    * ([[graft.operators.LexIndex]]) so the formula cannot drift between
    * them. All inputs must already be DoubleType: the expression SHAPE
    * (operator order) is part of the cross-engine determinism contract —
    * the DuckDB oracles spell out the identical tree. */
  def bm25Contribution(tf: Column, dl: Column, df: Column,
      nDocs: Column, avgdl: Column): Column =
    log((nDocs - df + 0.5) / (df + 0.5) + 1) * (tf * lit(2.2)) /
      (tf + lit(1.2) * (lit(0.25) + lit(0.75) * dl / avgdl))

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish regex token count: lowercase word runs. */
  def regexTokenCount(c: Column): Column = regexp_count(c, lit("[a-z]+"))

  /** Distinct word set (order-insensitive; used by set-similarity ops). */
  def wordSet(c: Column): Column = array_distinct(tokens(c))

  /** Content-defined chunk START positions by the gear rolling hash — the
    * codegen'd production boundary scan behind the dd_cdc_chunks
    * semantics ([[graft.expressions.GearChunkStarts]]): one table lookup
    * + shift + add per character, no per-position hashing. */
  def gearChunkStarts(c: Column, maskBits: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.expressions.GearChunkStarts(
        org.apache.spark.sql.GraftBridge.expression(c), maskBits))

  /** Distinct k-gram (word) shingles, computed row-wise — no explode, no
    * shuffle. Docs shorter than k words → empty array. This is the native
    * [[graft.expressions.ShingleSet]] expression (the WinnowFingerprints
    * rationale: array HOFs have no codegen and this column sits on every
    * shingle-dedup hot path plus the quality-features repetition ratio). */
  def shingles(c: Column, k: Int = 2): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.expressions.ShingleSet(
        org.apache.spark.sql.GraftBridge.expression(c), k))

  // The original array-lambda formulations of shingles and of the MinHash
  // signature live TEST-ONLY in graft.functions.LambdaReference
  // (shinglesLambda, minhashSignatureLambda: the differential parity
  // references for ShingleSet and MinHashSignature) — deliberately
  // unreachable from queries/, being ~10× the native expressions.

  /** Whole-document MinHash signature: `numHashes` 8-hex-char minima over
    * the distinct word `shingleK`-shingles of `text`, in THE canonical hash
    * family ([[graft.expressions.MinHashSignature]], shared with the
    * [[graft.expressions.MinHashSig]] aggregate and the DuckDB band CTE),
    * so signatures built here band-match the Dedup operators and any
    * persisted dedup index. Null for null text and for text with fewer
    * than `shingleK` words. */
  def minhashSignature(text: Column, numHashes: Int, shingleK: Int = 2): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.expressions.MinHashSignature(
        org.apache.spark.sql.GraftBridge.expression(text), shingleK, numHashes))

  /** SimHash over the distinct word set, `bits` wide (≤ 64). Bit j of a
    * word's hash is the high bit of hex digit j of md5(word) for j ≤ 32 and
    * of hex digit j−32 of md5('1:' || word) above — extractable with plain
    * string ops in both engines. Per-bit ±1 votes are summed over words;
    * positive sum ⇒ bit set (bit 64 lands on the sign, which XOR/popcount
    * comparisons are indifferent to). Row-local (aggregate over the word
    * array), so it shuffles nothing. */
  def simhash(c: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 64, s"simhash supports 1..64 bits, got $bits")
    val words = wordSet(c)
    val votes = aggregate(
      words,
      array_repeat(lit(0), bits),
      (acc, w) => {
        val h = md5(w)
        lazy val h2 = md5(concat(lit("1:"), w))
        val wordBits = array((1 to bits).map { j =>
          val digit = if (j <= 32) substring(h, j, 1) else substring(h2, j - 32, 1)
          when(digit.isin("8", "9", "a", "b", "c", "d", "e", "f"), 1)
            .otherwise(-1)
        }: _*)
        zip_with(acc, wordBits, (a, b) => a + b)
      })
    (0 until bits).map { j =>
      when(element_at(votes, j + 1) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Document fingerprint: md5 of the case/whitespace-normalized text.
    * (The "rolling hash" of the survey's fingerprinting row, realized as a
    * whole-document digest — stable across engines.) */
  def fingerprint(c: Column): Column = md5(lower(trim(c)))

  /** Misra–Gries heavy-hitter candidate sketch over a string column (see
    * [[graft.expressions.MisraGries]] for the bounds): one mergeable
    * aggregate with ≤ `capacity` counters per partial buffer — candidate
    * discovery with NO keyed shuffle of the corpus. Returns
    * `array<struct<token string, lb bigint>>` sorted by (lb desc, token). */
  def misraGries(c: Column, capacity: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.expressions.MisraGries(
        org.apache.spark.sql.GraftBridge.expression(c),
        capacity).toAggregateExpression())

  /** Collapse consecutive repeated tokens ("the the fox" → "the fox"):
    * row-local indexed-lambda filter. The previous-token probe
    * `element_at(parts, i)` sits behind a CaseWhen arm so index 0 is never
    * evaluated (ANSI mode throws on element_at index 0). */
  def collapseRepeats(c: Column): Column = {
    val parts = tokens(c)
    concat_ws(" ", filter(parts, (x, i) =>
      when(i === 0, lit(true)).otherwise(x =!= element_at(parts, i))))
  }

  /** Drop every later re-occurrence of a token, preserving first-seen order
    * (array_distinct keeps the first occurrence). Row-local. */
  def dedupTokens(c: Column): Column = concat_ws(" ", array_distinct(tokens(c)))

  /** Count of tokens that belong to a stopword list. */
  def stopwordCount(c: Column, stopwords: Seq[String]): Column =
    size(filter(tokens(c), w => w.isin(stopwords.map(lit(_)): _*)))

  val EnglishStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Heuristic language ID: stopword-ratio thresholding. Deterministic and
    * cheap; a real n-gram model slots in behind the same column signature. */
  def langId(c: Column): Column = {
    val n = tokenCount(c)
    val ratio = stopwordCount(c, EnglishStopwords).cast("double") / n.cast("double")
    when(n === 0, lit("unknown"))
      .when(ratio >= lit(0.05), lit("en"))
      .otherwise(lit("other"))
  }

  /** PII scrub: redact email addresses, international-format phone
    * numbers, and IPv4 addresses to typed placeholders — the privacy pass
    * before any corpus ships. One regexp_replace chain, row-local and
    * codegen'd; [[redactionCount]] gives the audit column (how many spans
    * each doc lost). The patterns are deliberately conservative
    * (precision over recall) — a production scrub plugs stricter model-
    * based detectors into the same column-in/column-out seam. */
  val RedactPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\+[0-9][0-9 ()-]{6,18}[0-9]" -> "<PHONE>",
    "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b" -> "<IP>")

  def redact(c: Column): Column =
    RedactPatterns.foldLeft(c) { case (acc, (re, tag)) =>
      regexp_replace(acc, re, tag)
    }

  /** How many spans [[redact]] replaces: each pattern is counted on the
    * text AFTER the previous replacements (the same fold redact applies),
    * so a span consumed by an earlier pattern can't be double-counted —
    * "user+12345678@x.com" is one <EMAIL>, not email+phone. */
  def redactionCount(c: Column): Column =
    RedactPatterns.foldLeft((c, lit(0L))) { case ((txt, n), (re, tag)) =>
      (regexp_replace(txt, re, tag), n + regexp_count(txt, lit(re)).cast("long"))
    }._2

  /** The C4-style quality-gate rules as named row-local booleans — THE
    * single definition shared by the judged tx_quality_gate query and the
    * curation driver, so the two can't drift. Undefined features (empty
    * doc, single token) default to the conservative side via coalesce. */
  def gateRules(c: Column): Seq[(String, Column)] = {
    val nTok = tokenCount(c)
    val nonSpace = length(regexp_replace(c, " ", ""))
    val avgLen = nonSpace.cast("double") / nullif(nTok, lit(0)).cast("double")
    val rep = lit(1.0) -
      size(shingles(c, 2)).cast("double") / (nTok - 1).cast("double")
    Seq(
      "len_ok" -> nTok.between(10, 1000),
      "word_ok" -> coalesce(avgLen.between(2.0, 10.0), lit(false)),
      "lang_ok" -> (langId(c) === "en"),
      "rep_ok" -> coalesce(when(nTok >= 2, rep <= 0.8), lit(true)))
  }

  /** Quality-score feature columns: (n_chars, n_tokens, avg_token_len,
    * punct_ratio, stopword_ratio). All exact-int-derived doubles; zero
    * denominators (empty documents) yield null via nullif rather than an
    * ANSI divide-by-zero error. */
  def qualityFeatures(c: Column): Seq[(String, Column)] = {
    val nChars = length(c)
    val nTok = tokenCount(c)
    val nonSpace = length(regexp_replace(c, " ", ""))
    val punct = length(c) - length(regexp_replace(c, "[.!?,;:]", ""))
    def ratio(num: Column, den: Column): Column =
      num.cast("double") / nullif(den, lit(0)).cast("double")
    Seq(
      "n_chars" -> nChars.cast("long"),
      "n_tokens" -> nTok.cast("long"),
      "avg_token_len" -> ratio(nonSpace, nTok),
      "punct_ratio" -> ratio(punct, nChars),
      "stopword_ratio" -> ratio(stopwordCount(c, EnglishStopwords), nTok)
    )
  }

  /** Winnowing fingerprint set (Schleimer et al. 2003, the MOSS
    * algorithm) of a text column: word-`gramK`-gram 16-bit hashes (first 4
    * md5 hex chars — the engine-portable fold DuckDB mirrors), the
    * distinct minima of every `window`-wide sliding window over them. The
    * robustness guarantee: any shared token run of ≥ window+gramK−1 tokens
    * between two documents shares at least one selected fingerprint, so
    * matches survive insertions/reordering around them — the LOCAL
    * property a whole-doc hash lacks. Entirely row-local array lambdas
    * (zero exchanges); docs too short for a gram yield an empty array.
    * ONE definition feeds the judged `tx_winnowing` projection and
    * [[graft.operators.Dedup.winnowCandidatePairs]]. */
  def winnowFingerprints(c: Column, gramK: Int = 3, window: Int = 4): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.expressions.WinnowFingerprints(
        org.apache.spark.sql.GraftBridge.expression(c), gramK, window))

  // The original array-lambda formulation lives TEST-ONLY as
  // graft.functions.LambdaReference.winnowFingerprintsLambda (the
  // differential parity reference for WinnowFingerprints): Spark's
  // higher-order functions have no codegen, so that form pays
  // interpreted per-gram md5 + a fresh slice allocation per window —
  // measured ~14 s for the fingerprint pass alone at sf0.1 vs well
  // under a second for the expression.
}
