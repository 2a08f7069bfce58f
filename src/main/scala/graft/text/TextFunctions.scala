package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, token counting, quality heuristics, language-ID heuristics,
  * and document fingerprinting.
  *
  * Everything here is built from codegen'd Catalyst built-ins (no UDFs):
  * at 100 TB these run inside whole-stage codegen directly over the
  * parquet scan, so throughput is bounded by IO, not lambda dispatch.
  */
object TextFunctions {

  /** Whitespace tokens of trimmed text. */
  def wsTokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column = size(wsTokens(text)).cast("long")

  /** Occurrences of literal substring `s` (length/replace arithmetic —
    * exact, engine-portable, no regex). */
  def substrCount(text: Column, s: String): Column =
    ((length(text) - length(replace(text, lit(s), lit("")))) / lit(s.length)).cast("long")

  /** Fraction of tokens that are in `stopwords`. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val toks = wsTokens(text)
    val stops = array(stopwords.map(lit): _*)
    size(filter(toks, t => array_contains(stops, t))).cast("double") / size(toks)
  }

  /** Punctuation-character count and ratio. */
  def punctCount(text: Column): Column =
    regexp_count(text, lit("[^a-z0-9\\s]")).cast("long")
  def punctRatio(text: Column): Column =
    punctCount(text).cast("double") / length(text)

  /** Language-ID votes: count marker-word hits per language over the
    * space-padded text. Returns the marker hit count for one language. */
  def langScore(text: Column, markers: Seq[String]): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    markers.map(m => substrCount(padded, s" $m ")).reduce(_ + _)
  }

  /** n-gram-heuristic language prediction over fixed marker sets.
    * Deterministic tie-break: en > es > de. */
  def langPredict(text: Column): Column = {
    val en = langScore(text, Seq("the", "a", "of"))
    val es = langScore(text, Seq("la", "el", "de"))
    val de = langScore(text, Seq("der", "und", "die"))
    when(en >= es && en >= de, lit("en"))
      .when(es >= de, lit("es"))
      .otherwise(lit("de"))
  }

  /** PII scrubbing: the redaction pass a training corpus gets before
    * release. Patterns are RE2-compatible (no alternation/backtracking)
    * so they behave identically across engines. */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  def redactEmails(text: Column): Column =
    regexp_replace(text, EmailRe, "<EMAIL>")

  def emailCount(text: Column): Column =
    regexp_count(text, lit(EmailRe)).cast("long")

  /** Digit runs of `minDigits`+ (phone/account/ssn-ish). */
  def redactLongNumbers(text: Column, minDigits: Int = 7): Column =
    regexp_replace(text, s"\\d{$minDigits,}", "<NUM>")

  /** Gopher-style repetition signal: fraction of duplicate sentences
    * ('. '-split). High values flag boilerplate/templated documents. */
  def dupSentenceRatio(text: Column): Column = {
    val sents = split(text, "\\. ")
    (size(sents) - size(array_distinct(sents))).cast("double") / size(sents)
  }

  /** Fraction of all tokens taken by the single most frequent token —
    * takes a PRE-TOKENIZED column (same HOF re-evaluation rule as
    * [[shinglesFromTokens]]). Sort + longest-run scan: O(n log n) per row,
    * vs the naive distinct×filter cross which is O(|distinct|·n) — ~10⁹
    * comparisons for a single 100k-token document. The max run length in
    * the sorted array IS the max token count. */
  def topTokenRatio(toks: Column): Column = {
    val best = aggregate(
      array_sort(toks),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, t) => {
        val run = when(t === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(t.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    best.cast("double") / size(toks)
  }

  /** Document fingerprint: sha256 over the sorted distinct token set —
    * an order-insensitive content key (OpenRefine-style fingerprint).
    * Word-order-insensitive cousin of the exact-dup hash. */
  def fingerprint(text: Column): Column =
    sha2(concat_ws(" ", array_sort(array_distinct(wsTokens(text)))), 256)

  /** Context-window chunking: split a PRE-TOKENIZED document into
    * `maxTokens`-token chunks with `overlap` tokens of left context —
    * the packing step before training-sequence assembly. Pure Catalyst;
    * the per-chunk slice copy is the output itself, so the cost is
    * O(output), not O(n²). Always yields ≥1 chunk. */
  def chunkTokens(toks: Column, maxTokens: Int, overlap: Int): Column = {
    require(overlap < maxTokens, "overlap must be smaller than maxTokens")
    val step = maxTokens - overlap
    val nChunks = greatest(
      ceil((size(toks) - lit(overlap)).cast("double") / step).cast("int"), lit(1))
    transform(sequence(lit(0), nChunks - 1),
      i => array_join(slice(toks, i * step + 1, lit(maxTokens)), " "))
  }

  /** Content-defined chunk fingerprints of a token array (token-level
    * CDC, the gear/Rabin idea expressed in the portable md5 family): a
    * chunk boundary falls AFTER position i whenever the hash of the
    * trailing `window`-token context is ≡ 0 mod `modulus` — a pure
    * function of local content, so an insertion near the front only
    * perturbs boundaries up to the next surviving cut point, and every
    * later chunk keeps its fingerprint. That re-synchronization is what
    * fixed-size chunking (see [[chunkTokens]]) fundamentally cannot do,
    * and it is why storage/dedup systems chunk this way: shared passages
    * dedup at chunk granularity even when their byte offsets differ.
    * Mean chunk length ≈ `modulus` tokens. The md5-mod cut rule is
    * replayed exactly by the SQL oracle. Returns a fingerprint array
    * (md5 of the chunk's tokens joined on U+001F).
    *
    * Production form: ONE native pass per document
    * ([[graft.functions.CdcChunkFp]] — a reused MessageDigest streamed
    * per position, no per-position expression interpretation). The HOF
    * fold below ([[cdcChunkFingerprintsHof]]) is the composable
    * reference form, kept as the cross-check (the Kmeans.assignHof
    * discipline): equality is pinned by a property sweep in
    * CurationSpec and by the family's hash oracles. At the 100×
    * rehearsal the interpreted fold WAS the `tx_cdc_chunks` row (~82 s)
    * and both chunking passes of `dd_cdc_incremental`. */
  def cdcChunkFingerprints(toks: Column, window: Int = 3,
                           modulus: Int = 8): Column =
    graft.functions.CdcChunkFp(toks, window, modulus)

  /** The HOF-fold reference form of [[cdcChunkFingerprints]]. */
  def cdcChunkFingerprintsHof(toks: Column, window: Int = 3,
                              modulus: Int = 8): Column = {
    val sep = "\u001F"
    // ONE left fold over token positions: append the token to the open
    // chunk, test the trailing-window cut, emit-and-reset on a cut.
    // Each position hashes exactly one window. The boundary-list
    // formulation (compute bs, derive starts/ends, slice per chunk)
    // re-evaluated the whole md5 boundary scan per output element --
    // a HOF lambda re-executes every non-attribute expression it
    // references (the shinglesFromTokens lesson; measured ~30x slower
    // on the corpus before this rewrite).
    // `open` tracks chunk-openness explicitly: the empty string is a
    // legitimate token value (a whitespace-only document tokenizes to
    // [""]), so using "" as the no-open-chunk sentinel would silently
    // drop that document's one chunk while the SQL oracle emits md5('').
    aggregate(
      sequence(lit(1), size(toks)),
      struct(array().cast("array<string>").as("fps"), lit("").as("cur"),
        lit(false).as("open")),
      (acc, i) => {
        val tok = element_at(toks, i)
        val cur2 = when(!acc.getField("open"), tok)
          .otherwise(concat(acc.getField("cur"), lit(sep), tok))
        val isCut = when(i >= window,
          graft.functions.Md5Prefix(array_join(
              slice(toks, i - (window - 1), lit(window)), sep), 0, 2)
            % modulus === 0)
          .otherwise(lit(false))
        struct(
          when(isCut, concat(acc.getField("fps"), array(md5(cur2))))
            .otherwise(acc.getField("fps")).as("fps"),
          when(isCut, lit("")).otherwise(cur2).as("cur"),
          (!isCut).as("open"))
      },
      acc => when(!acc.getField("open"), acc.getField("fps"))
        .otherwise(concat(acc.getField("fps"), array(md5(acc.getField("cur"))))))
  }


  /** Word n-gram shingles (distinct) from a PRE-TOKENIZED array column —
    * the input to MinHash/Jaccard dedup.
    *
    * Takes tokens, not text, on purpose: a `transform` lambda re-evaluates
    * any non-attribute expression it references once per output element, so
    * passing `split(text)` here would re-tokenize the document per shingle
    * (measured 7× slower at sf0.1). Callers materialize tokens in their own
    * projection first (`select(wsTokens(text) as "toks")`) so the lambda
    * sees a bound attribute; CollapseProject keeps the boundary because the
    * producer is non-cheap and referenced more than once. */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    // n is a plan-time constant, so the n-gram is built from n element_at
    // lookups instead of slice(): a slice inside the lambda allocates and
    // copies a fresh array per output element (measured ~10× slower)
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (1 to n).map(j => element_at(toks, i + lit(j))): _*))))
}
