package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.SessionCache
import graft.sources.Tables

/** Text-analysis operators over the `documents` table (north-star
  * extension surface — BASELINE.json; not in the reference). All pure
  * built-in expressions: codegen'd, no UDFs, fully pushdown-friendly.
  */
object TextAnalysis {

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.ChunkStore.table(spark, sfDir, "documents")

  /** Whitespace token count (BPE-ish regex variant in `tokenCounts`). */
  private def wsTokens(c: Column): Column =
    size(split(trim(c), "\\s+")).cast("bigint")

  /** Per-document surface statistics: lengths, token counts, punctuation
    * and uppercase ratios — the quality-scoring raw features. */
  def textStats(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(
        col("doc_id"),
        col("n_chars"),
        length(col("text")).cast("bigint").as("len"),
        wsTokens(col("text")).as("n_tokens"),
        length(regexp_replace(col("text"), "[a-zA-Z0-9\\s]", "")).cast("bigint").as("n_punct"),
        // greatest(len, 1): an empty text has ratio 0, not an ANSI
        // divide-by-zero error (the oracle mirrors the guard)
        round(length(regexp_replace(col("text"), "[^A-Z]", "")).cast("double")
          / greatest(length(col("text")), lit(1)), 6).as("upper_ratio"))
      .orderBy(col("doc_id"))

  /** Encoding/mojibake screen — the ingest-time byte-hygiene gate a web
    * corpus needs before any text op trusts `text`: per document the
    * count of C0 control characters (excluding \t\n\r, which are
    * legitimate layout), the count of U+FFFD replacement characters (the
    * scar a lossy decode leaves), the non-ASCII-printable ratio, and a
    * `clean` verdict (no controls, no replacement chars). Counts come
    * from the length-minus-stripped-length identity — the one regexp
    * formulation whose semantics are bit-identical between Spark (Java
    * regex) and the DuckDB oracle (RE2 with 'g') — and every metric is a
    * row-local codegen'd expression: no shuffle, no UDF, scan-parallel
    * at any corpus size. Null text screens as empty (clean, ratio 0);
    * the planted-mojibake fixture in OpsSpec pins exact counts. */
  def encodingQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    def stripped(pat: String): Column =
      (length(t) - length(regexp_replace(t, pat, ""))).cast("bigint")
    val nCtrl = stripped("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")
    val nFffd = stripped("\\uFFFD")
    val nNonAscii = stripped("[^\\x09\\x0A\\x0D\\x20-\\x7E]")
    docs(spark, sfDir)
      .select(
        col("doc_id"), col("source"),
        nCtrl.as("n_ctrl"),
        nFffd.as("n_fffd"),
        round(nNonAscii.cast("double") / greatest(length(t), lit(1)), 6)
          .as("nonascii_ratio"),
        (nCtrl === 0 && nFffd === 0).as("clean"))
      .orderBy(col("doc_id"))
  }

  /** Token counting: whitespace tokens and a BPE-ish regex tokenization
    * (letter runs / digit runs / single punctuation marks). */
  def tokenCounts(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(
        col("doc_id"),
        wsTokens(col("text")).as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
          .cast("bigint").as("bpe_tokens"))
      .orderBy(col("doc_id"))

  /** Zipf power-law fit over the corpus term-frequency head — the
    * vocabulary-health scalar next to [[vocabCoverage]]'s table: a
    * natural-language corpus shows ln(freq) ≈ intercept + slope·ln(rank)
    * with slope ≈ −1; a slope far from −1 (template spam, boilerplate
    * floods, synthetic text) is a corpus-level red flag. OLS over the
    * top-`k` terms (rank ties broken by term so the order is total).
    *
    * Scale shape: the only corpus-sized work is the (term, count)
    * map-side-combined aggregate; head selection is `orderBy.limit(k)`
    * ⇒ TakeOrderedAndProject (per-partition top-k, never a global
    * sort), and the rank window + fit run over exactly k rows.
    * Float posture: each ln() is rounded to 12dp and cast to
    * DECIMAL(18,12), so Σx, Σy, Σxy, Σx² are EXACT and order-free;
    * the closed-form slope/intercept arithmetic then runs the identical
    * IEEE double sequence in both engines, rounded 6dp at output. */
  def termZipf(spark: SparkSession, sfDir: String, k: Int = 500): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val head = docs(spark, sfDir)
      .select(explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term").asc).limit(k)
    val ranked = head.withColumn("rank",
      row_number().over(Window.orderBy(col("freq").desc, col("term").asc)))
    val v = ranked.select(
      round(log(col("rank").cast("double")), 12).cast("decimal(18,12)").as("x"),
      round(log(col("freq").cast("double")), 12).cast("decimal(18,12)").as("y"))
    val s = v.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val (n, sx, sy, sxy, sxx) = (col("n").cast("double"), col("sx").cast("double"),
      col("sy").cast("double"), col("sxy").cast("double"), col("sxx").cast("double"))
    val slopeRaw = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    s.select(col("n").as("n_terms"),
      round(slopeRaw, 6).as("zipf_slope"),
      round((sy - slopeRaw * sx) / n, 6).as("intercept"))
  }

  /** Vocabulary head coverage — the tokenizer-design report: the top-k
    * corpus tokens by frequency (the same BPE-style pre-tokenization
    * regex `token_counts` hash-verifies) with each token's corpus share
    * and the head's cumulative share. This is the table one reads when
    * sizing a BPE vocabulary or auditing a corpus mix: "the top 100
    * types cover X% of all token occurrences".
    *
    * Scale shape: the per-token counts are one map-side-combined
    * groupBy over (token) — the only corpus-sized shuffle, carrying
    * (token, count) pairs, never text. The head selection is
    * `orderBy.limit(k)` ⇒ TakeOrderedAndProject (per-partition top-k,
    * driver merges k·p rows), NOT a global sort; the rank/cumsum window
    * then runs over exactly k rows. The grand total rides a broadcast
    * 1-row cross join. Shares are single IEEE divisions of exact
    * integer counts — bit-identical in any engine, no rounding
    * needed for the oracle hash.
    *
    * The counts table is session-cached (the NearDup floor-pair pattern):
    * the head and the grand total are two consumers of the same
    * aggregation, and without the cache Spark plans two full tokenize
    * scans of the corpus (measured: AQE does NOT reuse the exchange —
    * the two aggregate subtrees canonicalize differently). Cached rows
    * are (token, count) pairs — vocabulary-scale, not corpus-scale. */
  def vocabCoverage(spark: SparkSession, sfDir: String, k: Int = 100): DataFrame = {
    val counts = cachedVocabCounts(spark, sfDir)
    val total = counts.agg(sum(col("n")).as("total_tokens"))
    val head = counts.orderBy(col("n").desc, col("token").asc).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("token").asc)
    head.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("n")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .select(col("rank"), col("token"), col("n"),
        (col("n").cast("double") / col("total_tokens").cast("double")).as("share"),
        (col("cum").cast("double") / col("total_tokens").cast("double")).as("cum_share"))
      .orderBy(col("rank"))
  }

  /** Session cache for the per-token corpus counts ([[vocabCoverage]]'s
    * shared subplan — head selection and grand total both read it). */
  private def cachedVocabCounts(spark: SparkSession, sfDir: String): DataFrame =
    SessionCache(spark, Tables.paths(sfDir, "documents"), "text.vocabCounts")(docs(spark, sfDir)
        .select(explode(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The quality-composite pieces as plain column expressions over a
    * `text` column — shared verbatim by the batch [[qualityScore]]
    * query and the streaming curation stage (`EventIngest
    * .curateDocStream`), so batch and stream screen identically. */
  private val qualityStop = Seq("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")
  val lenScoreExpr: Column = least(length(col("text")).cast("double") / 500.0, lit(1.0))
  val stopRatioExpr: Column = {
    val words = split(lower(trim(col("text"))), "\\s+")
    size(filter(words, w => w.isin(qualityStop.map(lit(_)): _*))).cast("double") /
      size(words).cast("double")
  }
  // greatest(len, 1): empty text scores density 0 instead of raising
  // an ANSI divide-by-zero (empty documents are routine in real feeds)
  val punctDensityExpr: Column =
    length(regexp_replace(col("text"), "[a-zA-Z0-9\\s]", "")).cast("double") /
      greatest(length(col("text")), lit(1)).cast("double")
  val qualityExpr: Column =
    round((lenScoreExpr + stopRatioExpr + (lit(1.0) - punctDensityExpr)) / 3.0, 6)

  /** PII presence as one boolean expression over `text` — same regexes
    * as [[piiScan]]; shared with the streaming curation stage. */
  val piiFlaggedExpr: Column =
    (regexp_count(col("text"),
      lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+")) +
      regexp_count(col("text"), lit("https?://[^ \\t\\n]+")) +
      regexp_count(col("text"), lit("[0-9]{9,}"))) > 0

  /** Per-(lang, source) feed scorecard: doc count, EXACT mean quality
    * (the 6dp quality scores quantize to 1e-6 BIGINTs before summing —
    * order-independent — then one division), PII hit rate (exact
    * count_if over the shared regex expression, one division), and
    * mean token count (exact BIGINT sum, one division). The one-row-
    * per-feed table a corpus intake review reads first; one grouped
    * aggregate, map-side partials. */
  def sourceQualitySummary(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("lang"), col("source"),
        floor(qualityExpr * lit(1000000.0d) + lit(0.5d)).cast("long").as("q6"),
        piiFlaggedExpr.cast("long").as("pii"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("q6")).cast("double") / count(lit(1)).cast("double") / lit(1000000.0d))
          .as("mean_quality"),
        (sum(col("pii")).cast("double") / count(lit(1)).cast("double")).as("pii_rate"),
        (sum(col("n_tok")).cast("double") / count(lit(1)).cast("double")).as("mean_tokens"))
      .select(col("lang"), col("source"), col("n_docs"),
        round(col("mean_quality"), 6).as("mean_quality"),
        round(col("pii_rate"), 6).as("pii_rate"),
        round(col("mean_tokens"), 6).as("mean_tokens"))
      .orderBy(col("lang"), col("source"))

  /** Quality score: a deterministic 0..1 composite of length, mean word
    * length, punctuation density and stopword ratio — the "quality
    * scoring" operator of a training-data pipeline, as one declarative
    * expression tree. */
  def qualityScore(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(
        col("doc_id"), col("lang"), col("source"),
        round(lenScoreExpr, 6).as("len_score"),
        round(stopRatioExpr, 6).as("stop_ratio"),
        round(punctDensityExpr, 6).as("punct_density"),
        qualityExpr.as("quality"))
      .orderBy(col("doc_id"))

  /** Language identification by stopword-marker voting: counts occurrences
    * of a few high-frequency marker words per language and takes the
    * argmax (deterministic tie-break by language code). N-gram-heuristic
    * class; pure expressions. */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val markers: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of"),
      "de" -> Seq("der", "und", "die"),
      "es" -> Seq("el", "que", "los"),
      "fr" -> Seq("le", "et", "les"),
      "zh" -> Seq("de", "shi", "le"))
    val words = split(lower(trim(col("text"))), "\\s+")
    def score(ws: Seq[String]): Column =
      size(filter(words, w => w.isin(ws.map(lit(_)): _*))).cast("bigint")
    val scored = docs(spark, sfDir).select(
      (col("doc_id") +: col("lang").as("lang_given") +:
        markers.map { case (l, ws) => score(ws).as(s"score_$l") }): _*)
    // argmax over the marker scores; struct sort on (-score, lang) makes
    // ties resolve to the lexicographically first language code
    val candidates = markers.map { case (l, _) =>
      s"named_struct('negscore', -score_$l, 'lang', '$l')" }.mkString("array(", ",", ")")
    scored
      .withColumn("pred_lang", expr(s"array_sort($candidates)[0].lang"))
      .select(col("doc_id"), col("lang_given"), col("pred_lang"))
      .orderBy(col("doc_id"))
  }

  /** Language-metadata audit — [[langId]]'s consumer: per source feed,
    * the share of documents whose n-gram-heuristic prediction disagrees
    * with the declared `lang` column. A feed whose declared language
    * systematically disagrees with its content (mislabeled scrape,
    * wrong-language boilerplate) poisons per-language mixture weights
    * and tokenizer decisions downstream. Rides langId's plan; the
    * rollup is a |sources|-key aggregate with ONE division. */
  def langMismatch(spark: SparkSession, sfDir: String): DataFrame =
    langId(spark, sfDir)
      .join(docs(spark, sfDir).select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pred_lang") =!= col("lang_given"), 1L).otherwise(0L)).as("n_mismatch"))
      .withColumn("mismatch_rate",
        round(col("n_mismatch").cast("double") / col("n_docs").cast("double"), 6))
      .orderBy(col("source"))

  /** Out-of-vocabulary rate per (lang, source) against the global
    * top-`vocabSize` token head — the fixed-vocab tokenizer audit
    * [[vocabCoverage]] sizes and this op stress-tests per feed: a feed
    * whose OOV share is an outlier will fragment into bytes/unks under
    * the shared vocabulary. Head selection is the same
    * TakeOrderedAndProject top-k (count desc, token asc — total order);
    * membership is a broadcast left join; the rollup carries
    * (lang, source) counts only. */
  def vocabOovRate(spark: SparkSession, sfDir: String, vocabSize: Int = 1000): DataFrame = {
    val toks = docs(spark, sfDir)
      .select(col("lang"), col("source"),
        explode(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
          .as("w"))
    val head = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc).limit(vocabSize)
      .select(col("w"), lit(1).as("in_vocab"))
    toks.join(broadcast(head), Seq("w"), "left")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6))
      .orderBy(col("lang"), col("source"))
  }

  /** Document fingerprint: 64-bit polynomial rolling hash of the
    * lowercased, whitespace-normalized text (deterministic, collision-
    * resistant enough for dedup keys). Computed with xxhash64 over the
    * normalized form — a single codegen'd expression. */
  def fingerprints(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(
        col("doc_id"),
        xxhash64(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fingerprint"))
      .orderBy(col("doc_id"))

  /** TF-IDF top terms per document — the vocabulary/relevance operator
    * of a text pipeline (term weighting for filtering, topic snapshots,
    * keyword dedup keys). Declarative end to end:
    * explode(split) → per-(doc, term) counts (TF) → per-term document
    * frequency (DF, one distinct-style aggregation) → smooth IDF
    * ln((N+1)/(df+1)) + 1 → row_number top-k per doc by
    * (score desc, term asc). Two shuffles: (doc, term) and the window
    * on doc — both bounded keys; nothing carries full texts. */
  def tfidfTopTerms(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val d = docs(spark, sfDir)
    val nDocs = d.agg(countDistinct(col("doc_id")).as("n_docs"))
    val terms = d
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score_raw").desc, col("term").asc)
    tf.join(df, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score_raw",
        col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank").cast("long").as("rank"), col("term"),
        col("tf"), col("df"), round(col("score_raw"), 6).as("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** PII / contamination surface scan — the decontamination screen of a
    * training-data pipeline: per-document counts of email-shaped spans,
    * URLs, and long digit runs (id/credit-card-shaped), plus a flagged
    * bit. Patterns are deliberately RE2-safe (no backtracking
    * constructs) so the same regex text runs identically in Spark and
    * the DuckDB oracle; `regexp_count` is codegen'd — a full-corpus
    * scan with zero shuffles before the final sort. */
  def piiScan(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(
        col("doc_id"),
        regexp_count(col("text"),
          lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+")).cast("long").as("n_emails"),
        regexp_count(col("text"), lit("https?://[^ \\t\\n]+")).cast("long").as("n_urls"),
        regexp_count(col("text"), lit("[0-9]{9,}")).cast("long").as("n_longnums"))
      .withColumn("flagged",
        (col("n_emails") + col("n_urls") + col("n_longnums")) > 0)
      .orderBy(col("doc_id"))

  /** PII REDACTION — the cleaning counterpart of [[piiScan]]: rewrite
    * every email-shaped span to `<EMAIL>`, every URL to `<URL>`, and
    * every long digit run to `<NUM>`, emitting the per-doc hit counts
    * alongside the redacted text. Replacement ORDER is part of the
    * contract (emails first — an email inside a URL path is the more
    * specific entity, and a URL's own digit runs must not pre-empt the
    * URL token), and the same three RE2-safe patterns as the scan keep
    * the DuckDB oracle byte-identical. Three chained `regexp_replace`
    * calls in one projection — codegen'd, zero shuffles before the
    * ordering sort; at 100 TB this is a pure map stage that rides
    * whatever partitioning the corpus already has. */
  def piiRedact(spark: SparkSession, sfDir: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
    val url = "https?://[^ \\t\\n]+"
    val num = "[0-9]{9,}"
    docs(spark, sfDir)
      .select(
        col("doc_id"),
        regexp_count(col("text"), lit(email)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(url)).cast("long").as("n_urls"),
        regexp_count(col("text"), lit(num)).cast("long").as("n_longnums"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("text"), email, "<EMAIL>"),
            url, "<URL>"),
          num, "<NUM>").as("redacted"))
      .orderBy(col("doc_id"))
  }

  /** Rolling-hash document sketch: hash every k-char window of the
    * normalized text (the Rabin–Karp/winnowing shape) and keep the
    * bottom-`sketchSize` window hashes — a locality-sensitive sketch
    * robust to local edits (an edit perturbs only the windows that
    * overlap it). Pure built-in expressions: `sequence` generates the
    * window starts, `transform` hashes each window, `array_sort`+`slice`
    * takes the bottom sketch — all codegen-able, no UDF.
    *
    * Output is one row per sketch slot — (doc_id, rank, window_hash,
    * n_windows) — scalar columns only, so any downstream consumer (or
    * the correctness harness) can sort/hash/join it without array
    * handling. */
  def winnowFingerprints(spark: SparkSession, sfDir: String, k: Int = 8, sketchSize: Int = 4): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"),
        regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("txt"))
      // fused bottom-k kernel (graft.functions.WinnowSketch): hash
      // identity with the composed-builtin formulation is exact (see
      // its scaladoc); the interpreted per-window lambda cost is gone.
      // The explode(array(..)) funnel pins ONE kernel evaluation —
      // projecting two fields out of a non-foldable struct would
      // otherwise re-evaluate it per field (measured 2×)
      .select(col("doc_id"), explode(array(
        graft.functions.ScaleFunctions.winnow_sketch(col("txt"), k, sketchSize)))
        .as("ws"))
      .select(col("doc_id"), posexplode(col("ws.hashes")),
        col("ws.n_windows").as("n_windows"))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col").as("window_hash"), col("n_windows"))
      .orderBy(col("doc_id"), col("rank"))

  /** Fixed-window document chunking with overlap — the segmentation
    * step of RAG indexing and long-document training: each document is
    * cut into `chunk`-token windows advancing by `chunk − overlap`
    * tokens, so consecutive chunks share `overlap` tokens of context
    * and no token is ever dropped. Output: (doc_id, chunk_id,
    * start_tok, n_tok, chunk_text) — one row per chunk, offsets
    * 0-based over the whitespace tokenization.
    *
    * Pure built-in expressions (`sequence` generates the window starts,
    * `slice`+`array_join` materializes each window) — codegen'd,
    * zero shuffles before the output sort, and reproducible in SQL, so
    * the operator is fully oracle-checked. The last window is allowed
    * to be short (a trailing remainder shorter than `overlap` would
    * otherwise vanish); single-window docs emit exactly one chunk. */
  def docChunks(spark: SparkSession, sfDir: String, chunk: Int = 64,
      overlap: Int = 16): DataFrame = {
    require(overlap < chunk, "overlap must be smaller than the chunk")
    val stride = chunk - overlap
    docs(spark, sfDir)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ws"))
      .select(col("doc_id"), col("ws"),
        // K+1 window starts at multiples of the stride, with
        // K = max(0, ⌈(n − chunk)/stride⌉): the last start is always
        // < n − overlap, and K·stride + chunk ≥ n so no token drops
        explode(expr(
          s"transform(sequence(0, greatest(CAST(ceil((size(ws) - $chunk) / CAST($stride AS DOUBLE)) AS INT), 0)), " +
            s"i -> i * $stride)")).as("start_tok"))
      .select(col("doc_id"),
        (col("start_tok") / stride).cast("long").as("chunk_id"),
        col("start_tok").cast("long").as("start_tok"),
        least(size(col("ws")) - col("start_tok"), lit(chunk)).cast("long").as("n_tok"),
        array_join(slice(col("ws"), col("start_tok") + 1, lit(chunk)), " ").as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Self-corpus bigram-LM perplexity — the CCNet-style LM quality
    * signal: train an add-α bigram language model on the corpus itself
    * and score every document's per-bigram perplexity under it.
    * Documents whose word transitions are unlike the corpus (gibberish,
    * wrong-language, template spam with rare transitions) score HIGH;
    * repetitive boilerplate scores LOW — both tails are curation
    * signals the per-document ratio screens cannot see, because this
    * score is relative to the whole corpus.
    *
    * p(w₂|w₁) = (c(w₁w₂) + α) / (c(w₁·) + α·V); per doc,
    * ppl = 2^(−mean log₂ p) over its interior bigrams (docs with < 2
    * tokens have no bigrams and are excluded — same rule both engines).
    *
    * Scale shape: the model IS two aggregation tables — bigram counts
    * (bounded by distinct bigrams, not corpus size) and their prefix
    * sums — joined back to the per-doc bigram stream by string keys;
    * at test scale both count tables auto-broadcast, at 100 TB they
    * shuffle-join with AQE skew handling on the stop-word prefixes.
    * Everything is exact integer counts + log₂/pow — DuckDB computes
    * the identical model, so the whole operator is oracle-checkable
    * (4dp absorbs cross-engine float-sum association). */
  def docPerplexity(spark: SparkSession, sfDir: String, alpha: Double = 0.5): DataFrame = {
    val t = docs(spark, sfDir)
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("ws"))
    val bg = t.select(col("doc_id"), explode(
        when(size(col("ws")) >= 2, expr(
          "transform(sequence(1, size(ws) - 1), " +
            "i -> named_struct('w1', element_at(ws, i), 'w2', element_at(ws, i + 1)))"))
          .otherwise(expr("CAST(array() AS array<struct<w1: string, w2: string>>)"))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bi = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val ctx = bi.groupBy(col("w1")).agg(sum(col("cb")).as("cw"))
    val voc = t.select(explode(col("ws")).as("w")).agg(countDistinct(col("w")).as("v"))
    bg.join(bi, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .crossJoin(broadcast(voc))
      .withColumn("l", log2((col("cb") + lit(alpha)) / (col("cw") + lit(alpha) * col("v"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(pow(lit(2.0), -avg(col("l"))), 4).as("ppl"))
      .orderBy(col("doc_id"))
  }

  /** The consumer of [[winnowFingerprints]]: substring-overlap candidate
    * pairs — two documents sharing `minShared` of their bottom-k sketch
    * slots very likely share a long verbatim character run (the
    * copy-detection / cross-document-contamination screen that token-set
    * Jaccard misses when the copied span is a small part of each doc).
    *
    * Scale shape: the join key is the 8-byte window hash, never text,
    * and two guards bound it at any corpus size — (1) sketch slots are
    * distinct per document and at most `sketchSize` of them exist, so a
    * document contributes ≤ sketchSize join rows; (2) a hash shared by
    * more than `maxDf` documents is a ubiquitous phrase, not evidence of
    * copying, and is dropped BEFORE the self-join (the same viral-text
    * c² guard as `Curation.sourceOverlap` — exact copies are exact
    * dedup's job). Join cost is therefore O(Σ df²) with df ≤ maxDf.
    * xxhash64 isn't DuckDB-expressible ⇒ rows-only registration; the
    * planted-substring behavior is pinned in OpsSpec. */
  def winnowOverlap(spark: SparkSession, sfDir: String, k: Int = 8, sketchSize: Int = 4,
      maxDf: Int = 64, minShared: Int = 2): DataFrame =
    // cached: this query and `Curation.splitSubstringLeakage` share the pair table
    SessionCache(spark, Tables.paths(sfDir, "documents"),
        "text.winnowOverlap", k, sketchSize, maxDf, minShared)(
      winnowOverlapDirect(spark, sfDir, k, sketchSize, maxDf, minShared)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  private def winnowOverlapDirect(spark: SparkSession, sfDir: String, k: Int, sketchSize: Int,
      maxDf: Int, minShared: Int): DataFrame = {
    val slots = winnowFingerprints(spark, sfDir, k, sketchSize)
      .select(col("doc_id"), col("window_hash"))
      .distinct() // a window repeated inside one doc is one slot
    val df = slots.groupBy(col("window_hash")).agg(count(lit(1)).as("df"))
    val rare = slots.join(df.filter(col("df") <= maxDf), "window_hash")
      .select(col("doc_id"), col("window_hash"))
    rare.as("a")
      .join(rare.as("b"),
        col("a.window_hash") === col("b.window_hash") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_slots"))
      .filter(col("shared_slots") >= minShared)
      .withColumn("containment_est",
        round(col("shared_slots").cast("double") / sketchSize, 4))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** BM25 retrieval over the corpus for a fixed query — the lexical
    * search primitive next to the vector tier (`Similarity`): score =
    * Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)), k1 = 1.2,
    * b = 0.75, idf = ln(1 + (N−df+0.5)/(df+0.5)).
    *
    * Scale shape: the exploded token stream filters to the query's
    * terms BEFORE any shuffle (a handful of terms survive the map
    * side), tf/df aggregate on (doc, term), corpus stats (N, avgdl, the
    * ≤|query| idf rows) broadcast, and the top-k is
    * TakeOrderedAndProject — never a global sort. Determinism: the
    * per-term contributions are quantized to DECIMAL(18,8) before the
    * per-doc sum (a double sum across terms would depend on aggregation
    * order); ln agrees across engines on this data (the doc_perplexity
    * precedent), and ties at the cut break on doc_id in both.
    *
    * Round 17: served from the PERSISTED lexical index
    * ([[graft.ops.Lexical]]) — a pruned postings read instead of a
    * corpus scan (the reference's own entry point is an indexed term
    * search, R:23-28); [[bm25SearchLive]] keeps the corpus-scan
    * definition as the gated bit-identity reference. */
  def bm25Search(spark: SparkSession, sfDir: String,
      query: Seq[String] = Seq("spark", "join", "query"), k: Int = 50,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    Lexical.searchText(spark, sfDir, query, k, k1, b)

  /** The LIVE corpus computation bm25Search historically ran — kept as
    * the bit-identity reference the lexical store is gated against
    * (`lex_live_identity`): index-served and corpus-computed results
    * must agree row for row, which pins the index's tokenization,
    * stats, and scoring tree to this definition. */
  private[graft] def bm25SearchLive(spark: SparkSession, sfDir: String,
      query: Seq[String] = Seq("spark", "join", "query"), k: Int = 50,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val base = docs(spark, sfDir).select(col("doc_id"),
      split(lower(trim(col("text"))), "\\s+").as("ws"))
      .select(col("doc_id"), col("ws"), size(col("ws")).cast("long").as("dl"))
    val stats = base.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("ws")).as("w"))
      .filter(col("w").isin(query: _*))
      .groupBy(col("doc_id"), col("dl"), col("w"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val withIdf = tf
      .join(broadcast(df), "w")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5))
          / (col("df").cast("double") + lit(0.5))))
      .withColumn("contrib",
        round(col("idf") * col("tf") * lit(k1 + 1.0)
          / (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl"))), 8)
          .cast("decimal(18,8)"))
    withIdf.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("contrib")).as("sc"))
      .select(col("doc_id"), col("n_terms"),
        round(col("sc").cast("double"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Declared-vs-predicted language CONFUSION MATRIX — langMismatch's
    * drill-down: the per-cell counts that tell a curator WHICH
    * language pairs the metadata confuses (a high (en→de) cell means
    * mislabeled feeds, a spread row means the classifier is at
    * chance). Same langId scores, one extra |langs|²-bounded
    * aggregate. */
  def langConfusion(spark: SparkSession, sfDir: String): DataFrame =
    langId(spark, sfDir)
      .groupBy(coalesce(col("lang_given"), lit("unknown")).as("lang_given"),
        col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang_given"), col("pred_lang"))

  /** Language-mix diversity per source — Shannon entropy of each
    * feed's declared-language distribution (the one number that says
    * "monolingual feed" vs "mixed crawl" when planning per-language
    * budgets). Terms are 12dp-rounded into a DECIMAL sum (the
    * join_skew_report entropy idiom), so the double is order-free;
    * null langs count as their own class. |sources|×|langs|-bounded
    * aggregates only. */
  def langEntropyBySource(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = docs(spark, sfDir)
      .groupBy(col("source"), coalesce(col("lang"), lit("unknown")).as("lang"))
      .agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col("source"))
      .agg(sum(col("c")).as("n_docs"), count(lit(1)).as("n_langs"))
    counts.join(broadcast(totals), "source")
      .select(col("source"), col("n_docs"), col("n_langs"),
        round((col("c").cast("double") / col("n_docs").cast("double")) *
          log(col("c").cast("double") / col("n_docs").cast("double")), 12)
          .cast("decimal(18,12)").as("term"))
      .groupBy(col("source"), col("n_docs"), col("n_langs"))
      .agg(sum(col("term")).as("ent_dec"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        round(-col("ent_dec").cast("double"), 6).as("lang_entropy"))
      .orderBy(col("source"))
  }

  /** Positional phrase search — the retrieval feature BM25's
    * bag-of-words scoring cannot express: a document matches only
    * where the query tokens are ADJACENT. The plan is entirely
    * map-side: tokens are extracted per row and the adjacency scan is
    * a higher-order `filter` over index positions inside codegen — no
    * posting-list self-join, no shuffle except the final per-doc
    * emission (which is already one row per matching doc). At 100 TB
    * this is a full scan by design (the ad-hoc-query tier); the
    * standing-query tier would persist the positional postings once
    * and intersect (the `winnow_fingerprints` store shows that shape).
    * Positions are 0-based token indices of the phrase's first word.
    */
  def phraseSearch(spark: SparkSession, sfDir: String,
      w1: String = "table", w2: String = "hash"): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.ScaleFunctions.phrase_positions(
          coalesce(col("text"), lit("")), w1, w2).as("pos"))
      .filter(size(col("pos")) > 0)
      .select(col("doc_id"), size(col("pos")).cast("long").as("n_hits"),
        element_at(col("pos"), 1).cast("long").as("first_pos"))
      .orderBy(col("doc_id"))

  /** Adjacent-bigram pointwise mutual information — the collocation
    * statistic a tokenizer-design pass ranks merge candidates by (the
    * BPE merge priority is exactly "most over-represented adjacent
    * pair"). PMI = ln((c_ab/M) / ((c_a/N)·(c_b/N))) from exact integer
    * counts; only the final ln crosses IEEE, quantized at 1e-6 for the
    * oracle. Output is every bigram with support ≥ `minCount`, ordered
    * by the bigram text — NEVER ranked by the float (a cross-engine
    * top-k frontier on a computed double cannot hash-stably tie-break).
    *
    * Scale shape: the bigram aggregate's shuffle carries (pair, count)
    * partials — vocab², not corpus — and the two unigram attachments
    * broadcast (vocab-sized). The token explode itself is map-side
    * into partial aggregation, so nothing corpus-sized crosses the
    * wire. */
  def tokenPmi(spark: SparkSession, sfDir: String, minCount: Long = 5L): DataFrame = {
    val ts = regexp_extract_all(lower(coalesce(col("text"), lit(""))),
      lit("[a-z0-9]+"), lit(0))
    val toks = docs(spark, sfDir).select(ts.as("ts"))
    val uni = toks.select(explode(col("ts")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c_w"))
    val totals = uni.agg(sum(col("c_w")).as("n_tokens"))
    val bi = toks.filter(size(col("ts")) >= 2)
      .select(explode(zip_with(
        slice(col("ts"), lit(1), size(col("ts")) - 1),
        slice(col("ts"), lit(2), size(col("ts")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("c_ab"))
    val m = bi.agg(sum(col("c_ab")).as("n_bigrams"))
    bi.filter(col("c_ab") >= minCount)
      .join(broadcast(uni.withColumnRenamed("w", "w1")
        .withColumnRenamed("c_w", "c_a")), "w1")
      .join(broadcast(uni.withColumnRenamed("w", "w2")
        .withColumnRenamed("c_w", "c_b")), "w2")
      .crossJoin(broadcast(totals)).crossJoin(broadcast(m))
      .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"),
        floor(log(
          (col("c_ab").cast("double") / col("n_bigrams").cast("double")) /
            ((col("c_a").cast("double") / col("n_tokens").cast("double")) *
              (col("c_b").cast("double") / col("n_tokens").cast("double"))))
          * lit(1000000.0d) + lit(0.5d)).cast("long").as("pmi_q"))
      .orderBy(col("w1"), col("w2"))
  }
}
