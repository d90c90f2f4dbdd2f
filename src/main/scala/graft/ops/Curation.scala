package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.SessionCache
import graft.sources.Tables

/** Dataset-assembly operators a training-data pipeline runs AFTER
  * cleaning: deterministic splits, split-leakage (decontamination)
  * checks, repetition screening, and mixture accounting. All of them
  * are pure relational plans over codegen'd built-ins, and all are
  * DuckDB-oracle-checkable (the split hash is md5, which both engines
  * compute identically — unlike xxhash64).
  */
object Curation {

  /** The line-identity whitespace class, spelled out rather than \s:
    * Java regex \s = [ \t\n\x0B\f\r] but RE2 (DuckDB) \s has no \x0B,
    * so a document containing a vertical tab would get a DIFFERENT
    * dedup identity in each engine. Every op whose output is an
    * IDENTITY (line dedup, the source_overlap fingerprint, the Gopher/
    * C4 batteries) uses this exact class in BOTH engines — \t/\n/\x0B/
    * \f/\r are regex escapes both parse identically. Token-COUNT ops
    * (mixture/packing/zipf word splits) still use \s+ on both sides: a
    * \x0B there shifts a count by one in one engine, a benign, corpus-
    * absent divergence, where an identity split is a wrong dedup
    * class; migrating them is deliberate per-op work, not a blanket
    * rewrite. */
  private[graft] final val LineWs = "[ \\t\\n\\x0B\\f\\r]+"

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.ChunkStore.table(spark, sfDir, "documents")

  /** Content-hash split assignment: first two hex chars of md5(text)
    * partition [0x00, 0xff] into train < "e6" (230/256 ≈ 89.8%),
    * val < "f3" (13/256 ≈ 5.1%), test (13/256 ≈ 5.1%).
    *
    * Hashing CONTENT (not doc_id) means byte-identical duplicates land
    * in the same split by construction — the split can never manufacture
    * train/test leakage out of exact copies, and assignment survives
    * re-ingestion with different ids. Lexicographic hex compare == the
    * numeric compare (hex digits are ASCII-ordered), so the same CASE
    * runs in DuckDB verbatim. */
  val splitExpr: Column = expr(
    "CASE WHEN substr(md5(text), 1, 2) < 'e6' THEN 'train' " +
      "WHEN substr(md5(text), 1, 2) < 'f3' THEN 'val' ELSE 'test' END")

  def corpusSplit(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"), splitExpr.as("split"))
      .orderBy(col("doc_id"))

  /** Cross-split near-duplicate pairs — the decontamination check run
    * before any training job: a test/val document whose near-twin sits
    * in train invalidates the eval. Reuses the blocked-Jaccard join
    * ([[NearDup.blockedJaccard]], threshold 0.8 — looser than dedup's
    * 0.95 because contamination matters below verbatim duplication) and
    * joins the split assignment onto both endpoints; only differing-
    * split pairs survive. Scale posture = the edge build's: blocked,
    * length-pruned, hash-keyed shuffles. */
  def splitLeakage(spark: SparkSession, sfDir: String, threshold: Double = 0.8): DataFrame = {
    val pairs = NearDup.blockedJaccard(spark, sfDir, threshold)
    val splits = docs(spark, sfDir).select(col("doc_id"), splitExpr.as("split"))
    pairs
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
      .filter(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Substring-level cross-split decontamination — the second tier of
    * the leakage check: [[splitLeakage]] catches near-twin DOCUMENTS
    * (token-set Jaccard ≥ 0.8), but an eval answer copied verbatim into
    * a larger train document sails under any whole-document similarity.
    * The winnow sketch sees exactly that case: two documents sharing
    * `minShared` bottom-k window hashes share a long character run.
    * This operator keeps only the [[TextAnalysis.winnowOverlap]] pairs
    * whose endpoints sit in DIFFERENT splits — the substring analogue
    * of the PaLM/GPT-4 n-gram contamination screen. Scale posture is
    * winnowOverlap's (df-capped slot join); xxhash64 ⇒ rows-only. */
  def splitSubstringLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = TextAnalysis.winnowOverlap(spark, sfDir)
    val splits = docs(spark, sfDir).select(col("doc_id"), splitExpr.as("split"))
    pairs
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
      .filter(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"),
        col("shared_slots"), col("containment_est"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Per-document repetition screen (the Gopher-style duplicate-n-gram
    * signal): over NON-distinct word trigrams, the duplicate fraction
    * 1 − distinct/total and the hottest trigram's count. High values
    * mark boilerplate/spam for the quality filter. Two bounded-key
    * shuffles ((doc, trigram) counts, then the per-doc rollup); the
    * trigram join uses the same U+0001 separator as
    * [[NearDup.shingles]] so distinct token sequences cannot collide. */
  def repetitionStats(spark: SparkSession, sfDir: String): DataFrame = {
    val tri = docs(spark, sfDir)
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("ws"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, greatest(size(ws) - 2, 1)), i -> array_join(slice(ws, i, 3), ''))")).as("t"))
    tri.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_trigrams"),
        count(lit(1)).as("n_distinct"),
        round(lit(1.0) - count(lit(1)).cast("double") / sum(col("cnt")), 6).as("dup_frac"),
        max(col("cnt")).as("max_repeat"))
      .orderBy(col("doc_id"))
  }

  /** Cross-source exact-duplicate overlap matrix — duplication
    * provenance: how many duplicate PAIRS each (source, source)
    * combination contributes, including the same-source diagonal.
    * (The blocked-Jaccard ops can never see cross-source pairs — the
    * block IS (lang, source) — so this is the cross-block view.)
    *
    * Scale-conscious formulation: instead of self-joining documents on
    * the normalized-text fingerprint (a viral boilerplate text with c
    * copies would explode into c² join rows), aggregate to per-
    * (fingerprint, source) COUNTS first and combine counts per
    * fingerprint: cross pairs = c_a·c_b, same-source pairs = C(c,2).
    * The heavy shuffle carries (8-byte fp, source, count) — bounded by
    * distinct texts, never by pair count. */
  def sourceOverlap(spark: SparkSession, sfDir: String): DataFrame =
    sourceOverlap(docs(spark, sfDir))

  /** Driver-gate registration over [[Dedup.seededDocs]]: the planted
    * cross-source mirrors guarantee the per-round hash check exercises
    * the count-combination math even when the corpus slice has no
    * natural cross-source duplication. */
  def sourceOverlapSeeded(spark: SparkSession, sfDir: String): DataFrame =
    sourceOverlap(Dedup.seededDocs(spark, sfDir))

  def sourceOverlap(docFrame: DataFrame): DataFrame = {
    // the explicit class, not \s: this is a seeded DRIVER GATE, so a
    // \x0B-bearing doc normalizing differently in the two engines
    // would false-fail the round (the line-identity lesson applied to
    // the fingerprint identity)
    val fp = xxhash64(regexp_replace(lower(trim(col("text"))), LineWs, " "))
    val cnt = docFrame
      // a null text is NO content, not shared content: Spark's
      // xxhash64(NULL) collapses to the seed, so without this filter
      // every null-text doc would pair as a "duplicate" of every other
      // — and the SQL oracle's norm-equality join drops NULLs, so the
      // two engines would diverge on the first null-bearing corpus
      // (review finding, round 14)
      .filter(col("text").isNotNull)
      .select(col("source"), fp.as("fp"))
      .groupBy(col("fp"), col("source"))
      .agg(count(lit(1)).as("c"))
    cnt.as("a")
      .join(cnt.as("b"), col("a.fp") === col("b.fp") && col("a.source") <= col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        // C(c,2) in exact long arithmetic: c·(c−1) is even, so a right
        // shift divides without the double detour Column./ would take
        when(col("a.source") === col("b.source"),
          shiftright(col("a.c") * (col("a.c") - 1), 1))
          .otherwise(col("a.c") * col("b.c")).as("n"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("n")).as("n_dup_pairs"))
      .filter(col("n_dup_pairs") > 0)
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Per-document whitespace token count — the same measure
    * [[corpusMixture]] aggregates. */
  private def docTokens(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))

  /** Deterministic stratified downsampling — the EXECUTION step of
    * mixture weighting ([[corpusMixture]] is the accounting): cap every
    * (lang, source) stratum at the median stratum's token budget by
    * keeping each document iff a uniform hash of its id falls below the
    * stratum's rate = min(1, median/stratum_tokens).
    *
    * Hash-threshold sampling is the 100 TB-correct sampler: one
    * map-side filter against a broadcast rate table (|lang|×|source|
    * rows) — no shuffle of the corpus, no RNG state, bit-reproducible
    * across runs/partitionings/engines, and monotone in the rate (the
    * kept set at a lower rate is a subset of the kept set at a higher
    * one, so mixture re-tuning never churns unrelated documents). The
    * uniform draw is the first 8 hex chars of md5 — DuckDB computes the
    * identical fraction, so the whole operator is oracle-checkable.
    * The median-over-strata window runs on the grouped table
    * (metadata-scale, same posture as [[corpusMixture]]'s share
    * window). */
  def corpusResample(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = docTokens(spark, sfDir)
    val strata = toks.groupBy(col("lang"), col("source"))
      .agg(sum(col("n_tok")).as("stratum_tokens"))
    val w = Window.partitionBy()
    val rates = strata.select(col("lang"), col("source"),
      least(lit(1.0),
        expr("percentile(stratum_tokens, 0.5)").over(w) / col("stratum_tokens")).as("rate"))
    val u = conv(substring(md5(concat(lit("resample:"), col("doc_id").cast("string"))), 1, 8),
      16, 10).cast("double") / lit(4294967296.0)
    toks.join(broadcast(rates), Seq("lang", "source"))
      .filter(u < col("rate"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_tok"),
        round(col("rate"), 6).as("rate"))
      .orderBy(col("doc_id"))
  }

  /** Sequence packing (GPT-style concat-and-chunk): within each
    * (split, lang, source) shard, documents are laid out in doc_id
    * order and chunked into fixed `budget`-token bins; each document is
    * assigned the bin its start offset falls in. This is the
    * deterministic doc → (shard, bin, offset) assignment table a
    * training loader consumes.
    *
    * The running offset is a window cumsum per shard: real pipelines
    * pack per OUTPUT SHARD exactly so the window partition count grows
    * with the corpus (|splits|×|lang|×|source| here; at 100 TB the
    * shard key gains a hash component) — never a single global
    * sequence. */
  /** Tokenizer-faithful count for the packing bins: the BPE-style
    * pre-tokenization regex (letter runs | digit runs | single
    * punctuation — the same measure `token_counts` reports as
    * bpe_tokens, hash-verified against DuckDB). Whitespace words
    * under-count what a real loader's tokenizer emits (punctuation
    * glued to words, digit groups), so bin budgets sized on them would
    * overflow real sequence length; this approximation tracks public
    * BPE vocabularies' split points without needing a merges table. */
  private[ops] def bpeTokExpr: Column =
    size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
      .cast("long")

  /** Deterministic training-shard plan — the manifest a distributed
    * loader consumes to give each data-parallel worker a disjoint,
    * token-balanced slice of the train split: shard =
    * md5("shard:" ‖ doc_id) mod `nShards` (salted so shard assignment is
    * independent of the content-keyed split hash), with per-shard doc
    * and exact token totals, doc_id bounds, and each shard's token
    * share. Hash sharding is the 100 TB answer: assignment is a
    * map-side expression (no shuffle beyond the |nShards|-row
    * aggregate), rebalancing never moves with corpus growth, and the
    * law of large numbers bounds skew — the `token_share` column IS the
    * audit that it did. The share division is the only double op,
    * applied once to two exact integer sums; the window runs over
    * `nShards` rows — metadata-sized. */
  def corpusShardPlan(spark: SparkSession, sfDir: String, nShards: Int = 16): DataFrame = {
    val shard = conv(substring(
        md5(concat(lit("shard:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long") % nShards
    val w = Window.partitionBy()
    docs(spark, sfDir)
      .select(col("doc_id"), splitExpr.as("split"), bpeTokExpr.as("n_tok"))
      .filter(col("split") === "train")
      .groupBy(shard.as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .withColumn("token_share", round(
        col("total_tokens").cast("double") / sum(col("total_tokens")).over(w), 6))
      .orderBy(col("shard"))
  }

  def packSequences(spark: SparkSession, sfDir: String, budget: Int = 2048): DataFrame = {
    val toks = docs(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"), splitExpr.as("split"),
        bpeTokExpr.as("n_tok"))
    val w = Window.partitionBy(col("split"), col("lang"), col("source"))
      .orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, -1)
    toks
      .select(col("split"), col("lang"), col("source"), col("doc_id"), col("n_tok"),
        coalesce(sum(col("n_tok")).over(w), lit(0L)).as("start_off"))
      .withColumn("bin", floor(col("start_off") / lit(budget.toDouble)).cast("long"))
      .orderBy(col("split"), col("lang"), col("source"), col("doc_id"))
  }

  /** Packing efficiency — the loader-side report next to the curation
    * funnel's corpus-side one: per split, how many shards and bins the
    * packing produced, how many docs/tokens they hold, and how close
    * the bins run to the token budget. A document is assigned to the
    * bin its START offset lands in (concat-and-chunk semantics —
    * [[packSequences]]), so a bin can overflow the budget and
    * `fill_ratio` = tokens / (bins × budget) measures how much shard
    * tails and doc granularity cost against an ideal gapless packing.
    *
    * Scale shape: rides [[packSequences]]'s one shard-key shuffle, then
    * a single groupBy(split) over (split, shard, bin) rows — counts
    * only. The ratio is one IEEE division of exact BIGINTs (oracle
    * hash-compares bit-exactly, no rounding). */
  def packEfficiency(spark: SparkSession, sfDir: String, budget: Int = 2048): DataFrame =
    packSequences(spark, sfDir, budget)
      .groupBy(col("split"))
      .agg(
        countDistinct(col("lang"), col("source")).as("n_shards"),
        countDistinct(col("lang"), col("source"), col("bin")).as("n_bins"),
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"))
      .select(col("split"), col("n_shards"), col("n_bins"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") /
          (col("n_bins") * lit(budget.toLong)).cast("double")).as("fill_ratio"))
      .orderBy(col("split"))

  /** The end-to-end assembly a training run actually executes, in ONE
    * declarative plan: curate (quality ∧ PII-clean ∧ one representative
    * per near-dup cluster, [[Dedup.curateCorpus]]) → content-hash split
    * ([[splitExpr]]) → per-shard sequence packing ([[packSequences]]'s
    * window over the SURVIVORS only). Output: the doc → (split, shard,
    * bin, offset) manifest a training loader consumes, for exactly the
    * curated keep-set.
    *
    * Every stage is individually hash-verified against its own oracle;
    * this composition is verified against a fused oracle too (the
    * curate recursive CTE extended with the split CASE and the packing
    * window), so the END-TO-END manifest is exact — the strongest
    * correctness statement in the assembly suite. Scale posture is the
    * union of its parts: cluster labels ride the session cache, the
    * packing window partitions per output shard, and the only new work
    * over [[Dedup.curateCorpus]] is one join back to the documents for
    * the split hash and token count. */
  def trainingManifest(spark: SparkSession, sfDir: String, budget: Int = 2048): DataFrame = {
    val kept = Dedup.curateCorpus(spark, sfDir).select(col("doc_id"))
    val toks = docs(spark, sfDir)
      .join(kept, "doc_id")
      .select(col("doc_id"), col("lang"), col("source"), splitExpr.as("split"),
        bpeTokExpr.as("n_tok"))
    val w = Window.partitionBy(col("split"), col("lang"), col("source"))
      .orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, -1)
    toks
      .select(col("split"), col("lang"), col("source"), col("doc_id"), col("n_tok"),
        coalesce(sum(col("n_tok")).over(w), lit(0L)).as("start_off"))
      .withColumn("bin", floor(col("start_off") / lit(budget.toDouble)).cast("long"))
      .orderBy(col("split"), col("lang"), col("source"), col("doc_id"))
  }

  /** Corpus mixture accounting: per (lang, source) document/token counts
    * and corpus shares — the table a mixture-weighted training sampler
    * consumes. The share window runs over the GROUPED table (bounded by
    * |lang|×|source|, never corpus-sized), so the single-partition
    * window is metadata-scale at any corpus size. */
  def corpusMixture(spark: SparkSession, sfDir: String): DataFrame = {
    val m = docs(spark, sfDir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(trim(col("text")), "\\s+")).cast("long")).as("n_tokens"))
    val w = Window.partitionBy()
    m.select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_docs").cast("double") / sum(col("n_docs")).over(w), 6).as("share_docs"),
        round(col("n_tokens").cast("double") / sum(col("n_tokens")).over(w), 6).as("share_tokens"))
      .orderBy(col("lang"), col("source"))
  }

  /** Mixture-drift monitor between the incremental batch and the base
    * corpus (the same id-keyed split [[Dedup.dedupIncrement]] dedups
    * across): per (lang, source), document counts and corpus shares on
    * each side and the share delta — the report a pipeline watches to
    * catch a feed whose composition shifted before the batch is merged.
    * ONE groupBy over the corpus (count_if per side in the same
    * aggregate — no outer join of two profiles); the share window runs
    * over the GROUPED table, metadata-scale like [[corpusMixture]].
    * Shares and drift are each ONE double division/subtraction on both
    * engines, so the rounded values hash-match. */
  def corpusDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val m = docs(spark, sfDir)
      .groupBy(col("lang"), col("source"))
      .agg(count(when(col("doc_id") % 7 =!= 0, 1)).as("n_base"),
        count(when(col("doc_id") % 7 === 0, 1)).as("n_batch"))
    val w = Window.partitionBy()
    m.select(col("lang"), col("source"), col("n_base"), col("n_batch"),
        round(col("n_base").cast("double") / sum(col("n_base")).over(w), 6).as("share_base"),
        round(col("n_batch").cast("double") / sum(col("n_batch")).over(w), 6).as("share_batch"),
        round(col("n_batch").cast("double") / sum(col("n_batch")).over(w)
          - col("n_base").cast("double") / sum(col("n_base")).over(w), 6).as("drift"))
      .orderBy(col("lang"), col("source"))
  }

  /** Temperature-weighted mixture (the multilingual up/down-sampling
    * rule: stratum probability ∝ share^α, α < 1 flattens the mix so
    * low-resource strata are over-sampled): per (lang, source), the raw
    * token share, the tempered share, and the resulting sampling factor
    * a loader multiplies into its per-stratum rates.
    *
    * α is fixed at 0.5 because that makes share^α = sqrt(share), and
    * sqrt — unlike pow, which libms round differently in the last ulp —
    * is IEEE-correctly-rounded in BOTH engines, so the oracle can
    * hash-match. Cross-stratum order-independence: each sqrt is
    * quantized to DECIMAL(18,9) BEFORE the normalizing sum, so the
    * denominator is an exact decimal accumulation (a plain double sum
    * over strata would depend on aggregation order); the tempered share
    * and factor are then ONE double division each. The window runs over
    * the GROUPED |lang×source| table — metadata-scale, same as
    * [[corpusMixture]]. */
  def corpusTemperatureMix(spark: SparkSession, sfDir: String): DataFrame = {
    val m = docs(spark, sfDir)
      .groupBy(col("lang"), col("source"))
      .agg(sum(size(split(trim(col("text")), "\\s+")).cast("long")).as("n_tokens"))
    val w = Window.partitionBy()
    val share = col("n_tokens").cast("double") / sum(col("n_tokens")).over(w).cast("double")
    m.select(col("lang"), col("source"), col("n_tokens"),
        round(share, 6).as("share"),
        round(sqrt(share), 9).cast("decimal(18,9)").as("rt"))
      .select(col("lang"), col("source"), col("n_tokens"), col("share"),
        round(col("rt").cast("double") / sum(col("rt")).over(w).cast("double"), 6)
          .as("tempered_share"),
        round(col("rt").cast("double") / sum(col("rt")).over(w).cast("double")
          / nullif(col("share"), lit(0.0)), 6).as("sample_factor"))
      .orderBy(col("lang"), col("source"))
  }

  /** Deterministic stratified sample: exactly `n` documents per
    * (lang, source) stratum, chosen by md5 rank — the audit/eval draw a
    * pipeline takes from every shard ("show me 10 random-but-stable
    * docs per stratum"). Hash-ordering makes the draw reproducible
    * across runs AND engines (md5 is the same bytes everywhere, unlike
    * a seeded RNG), and content-keyed, so re-ingesting with new doc_ids
    * preserves the sample of unchanged documents.
    *
    * Scale shape: Catalyst already prunes a rank-≤-n window map-side
    * (`WindowGroupLimit` partial mode, visible in this plan), so even
    * the naive per-stratum window ships at most map_tasks×n rows — but
    * ALL of them still funnel into one final task per stratum, which at
    * 100 TB (hundreds of thousands of map tasks, a handful of strata)
    * is a millions-of-rows single-task sort. The rank therefore runs in
    * two phases, the top-n analogue of a partial aggregate: (1) rank
    * within (stratum, salt) — `salts`-way parallel reduce, bounded at
    * salts×n survivors per stratum regardless of map-task count; (2)
    * re-rank those O(salts·n) rows per stratum — metadata-scale. Each
    * phase gets its own WindowGroupLimit pruning on top. The salt never
    * reaches the output: any partitioning of a stratum has the true
    * top-n contained in the union of per-part top-ns, so the result is
    * bit-identical to the naive global rank (the DuckDB oracle runs
    * exactly that naive form). */
  def stratifiedSample(spark: SparkSession, sfDir: String, n: Int = 10,
      salts: Int = 16): DataFrame = {
    val ranked = docs(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"),
        // content||id: distinct rank keys even for byte-identical twins
        md5(concat(coalesce(col("text"), lit("")), lit("|"),
          col("doc_id").cast("string"))).as("rk"),
        pmod(xxhash64(col("doc_id")), lit(salts)).as("salt"))
    val local = Window.partitionBy(col("lang"), col("source"), col("salt"))
      .orderBy(col("rk"), col("doc_id"))
    val global = Window.partitionBy(col("lang"), col("source"))
      .orderBy(col("rk"), col("doc_id"))
    ranked
      .withColumn("lr", row_number().over(local)).filter(col("lr") <= n)
      .withColumn("sample_rank", row_number().over(global))
      .filter(col("sample_rank") <= n)
      .select(col("lang"), col("source"), col("sample_rank"), col("doc_id"))
      .orderBy(col("lang"), col("source"), col("sample_rank"))
  }

  /** Quality-WEIGHTED deterministic resampling: keep a document with
    * probability equal to its quality score — the soft alternative to a
    * hard quality cutoff (low-quality text is down-weighted, not
    * annihilated; the pattern behind quality-weighted mixture recipes).
    * The coin flip is the content-hash unit
    * `md5(text)[9..16] as uint32 < quality · 2³²` — deterministic,
    * reproducible across runs AND engines, independent of the split
    * assignment (which consumes md5 chars 1-2), and identical for
    * byte-identical duplicates. The threshold multiply is ONE double
    * op over the 6dp-rounded quality, and the uint32 promotes to
    * double exactly (< 2⁵³), so the keep decision cannot flip between
    * engines. Null/missing text keeps `keep = false` explicitly.
    *
    * Scale shape: pure map-side projection — no shuffle at all. */
  def qualityResample(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"),
        graft.ops.TextAnalysis.qualityExpr.as("quality"),
        expr("CAST(conv(substr(md5(text), 9, 8), 16, 10) AS BIGINT)").as("unit32"))
      .withColumn("keep",
        coalesce(col("unit32").cast("double") <
          col("quality") * lit(4294967296.0d), lit(false)))
      .orderBy(col("doc_id"))

  /** Benchmark decontamination (the GPT-3 appendix-C style check): flag
    * every corpus document that contains one of the EVAL SET's 13-token
    * grams verbatim — the external-overlap complement of the
    * corpus-internal `split_leakage`/`split_substring_leakage` tiers (a
    * training corpus must be screened against the benchmarks it will be
    * judged on, not only against its own splits). The eval set here is
    * derived deterministically — the first 13 tokens of the three
    * lowest-id long-enough documents stand in for benchmark prompts —
    * so the check is reproducible and the source docs act as planted
    * ground truth (each must flag itself).
    *
    * Scale shape: the eval gram set is benchmark-sized and broadcast;
    * the corpus-side positional 13-grams stream map-side out of the
    * scan into the broadcast hash join, and only matching (eval, doc)
    * pairs reach the two-phase count. Nothing corpus-sized shuffles.
    * (Production swaps the gram STRINGS for 8-byte hashes on the
    * shuffle; strings keep the oracle replay byte-faithful here.) */
  /** Fuzzy benchmark decontamination — the near-duplicate tier above
    * [[evalContamination]]'s verbatim 13-gram check: a paraphrased or
    * lightly-edited benchmark item shares no 13-token run but still
    * minhashes next to its source. Same deterministic eval set (the
    * three lowest-id long-enough documents), probed through
    * [[NearDup.minhashAgainst]] — the broadcast-probe formulation whose
    * corpus side streams map-side, so the check costs one pass at any
    * corpus size. The 0.5 floor is deliberately looser than dedup's
    * 0.95: contamination reviews tolerate false positives, not misses.
    * Rows-only by design (minhash isn't SQL-expressible); the planted
    * near-copy fixture in OpsSpec is the correctness gate. */
  def evalContaminationFuzzy(spark: SparkSession, sfDir: String,
      threshold: Double = 0.5): DataFrame = {
    val evalIds = graft.sources.ChunkStore.table(spark, sfDir, "documents")
      .filter(col("text").isNotNull)
      .filter(size(split(lower(trim(col("text"))), "\\s+")) >= 13)
      .orderBy(col("doc_id")).limit(3)
      .select(col("doc_id").as("eval_id"))
    NearDup.minhashAgainst(spark, sfDir, evalIds, threshold)
  }

  /** Per-document n-gram NOVELTY — the corpus-order freshness signal a
    * curation pass ranks on (a crawl snapshot's value is the text it
    * adds, not the text it repeats; cf. the dedup literature's "novel
    * tokens per document" accounting): for each document, the fraction
    * of its DISTINCT word 8-grams whose first corpus occurrence (by
    * ascending doc_id — the ingestion order) is in that document. A
    * verbatim duplicate scores 0; a fully fresh document scores 1;
    * boilerplate-heavy docs land in between, which is exactly the
    * ranking a keep-budget consumes. Documents shorter than n tokens
    * contribute one whole-sequence gram (the [[NearDup.shingles]]
    * convention); null-text docs emit n_grams 0 / novelty NULL.
    *
    * Scale shape: grams travel as 8-byte xxhash64 composites (the
    * shingle convention — never strings); first-occurrence is a
    * `groupBy(g).agg(min)` + equi-join back — NOT `min().over(
    * partitionBy(g))`: the window formulation buffers every hot gram's
    * full row list in one task (a corpus-universal boilerplate 8-gram
    * on a viral-duplicate corpus becomes a straggler at 100 TB), while
    * the aggregate gets map-side partial merge and AQE skew-splitting
    * for free and the join stays a plain hash equi-join (plan-gated by
    * `ngram_novelty_equi_join`). The per-doc roll-up is a second
    * doc-keyed shuffle. The oracle replays gram identity on the token
    * STRINGS — novelty is a set computation, so collision-free hashes
    * and strings agree (same argument as the Jaccard tiers). */
  def ngramNovelty(spark: SparkSession, sfDir: String, n: Int = 8): DataFrame = {
    val grams = NearDup.shingles(spark, sfDir, n)
      .select(col("doc_id"), explode(col("toks")).as("g"))
    val firstDocs = grams.groupBy(col("g"))
      .agg(min(col("doc_id")).as("first_doc"))
    val agg = grams
      .join(firstDocs, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
    docs(spark, sfDir).select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(coalesce(col("n_grams"), lit(0L)) > 0L,
          round(col("n_novel").cast("double") / col("n_grams").cast("double"), 6))
          .as("novelty"))
      .orderBy(col("doc_id"))
  }

  def evalContamination(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = graft.sources.ChunkStore.table(spark, sfDir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        split(lower(trim(col("text"))), "\\s+").as("ws"))
      .filter(size(col("ws")) >= 13)
    val evalItems = toks.orderBy(col("doc_id")).limit(3)
      .select(col("doc_id").as("eval_id"),
        expr("array_join(slice(ws, 1, 13), chr(1))").as("gram"))
    val grams = toks.select(col("doc_id"),
      explode(expr(
        "transform(sequence(1, size(ws) - 12), i -> array_join(slice(ws, i, 13), chr(1)))"))
        .as("gram"))
    grams.join(broadcast(evalItems), Seq("gram"))
      .groupBy(col("eval_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
      .orderBy(col("eval_id"), col("doc_id"))
  }

  /** One row per physical LINE of every document: (doc_id, 0-based
    * position, raw line, whitespace-normalized lowercase form). The
    * shared scan under the line-level dedup family (the CCNet /
    * RefinedWeb pass that strips site chrome — nav bars, cookie
    * banners, footers — repeated verbatim across pages). Splitting on
    * '\n' keeps the raw line byte-exact for reconstruction; the
    * NORMALIZED form is the corpus-GLOBAL dedup identity (CCNet
    * removes any paragraph whose shard-global count exceeds 1 — a
    * banner syndicated across feeds is still chrome), so whitespace-
    * only variations of a banner count as one line. On a newline-free
    * corpus (the driver store) each document is its own single line
    * and the family degrades to exact full-text frequency — still
    * meaningful, and the multi-line path is pinned by a planted
    * fixture in OpsSpec. */
  private def docLines(spark: SparkSession, sfDir: String): DataFrame =
    docLines(docs(spark, sfDir))

  private def docLines(docFrame: DataFrame): DataFrame =
    docFrame
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
      // collapse BEFORE trimming: after whitespace → ' ' every
      // residual edge whitespace is a plain space, so the space-only
      // trim() strips it — a CRLF corpus's trailing '\r' or a
      // tab-indented banner gets the same identity as its clean form
      // (trim-first would leave a trailing space in the norm).
      // EXPLICIT class, not \s: Java's \s includes vertical tab
      // (\x0B) while RE2 (the oracle engine) does not — the dedup
      // IDENTITY must be the same byte set in every engine that
      // replays it, so the class is spelled out on both sides
      .withColumn("norm",
        trim(regexp_replace(lower(col("line")), LineWs, " ")))

  /** Boilerplate-line census: normalized lines occurring in at least
    * `minDocs` DISTINCT documents corpus-wide, with their doc
    * frequency and total occurrence count.
    *
    * Scale shape: one norm-keyed aggregate with map-side partial
    * counts — the doc-frequency table is bounded by DISTINCT lines,
    * never by occurrences, so a banner repeated on a billion pages
    * costs one partial-merged row (the same hot-key argument as
    * [[ngramNovelty]]'s groupBy-then-join). No window over the line
    * key anywhere in the family. */
  def boilerplateLines(spark: SparkSession, sfDir: String, minDocs: Int = 2): DataFrame =
    boilerplateLines(docLines(spark, sfDir), minDocs)

  /** Driver-gate registration over [[Dedup.seededDocs]]: every line of
    * a mirrored document reaches 2 distinct docs by construction, so
    * the census gate always has real rows to hash-check. */
  def boilerplateLinesSeeded(spark: SparkSession, sfDir: String): DataFrame =
    boilerplateLines(docLines(Dedup.seededDocs(spark, sfDir)), minDocs = 2)

  private def boilerplateLines(lines: DataFrame, minDocs: Int): DataFrame =
    lines
      .groupBy(col("norm"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= minDocs)
      .select(col("norm").as("line"), col("n_docs"), col("n_occurrences"))
      .orderBy(col("line"))

  /** Line-level dedup with reconstruction — the cleaning pass itself:
    * every line whose normalized form reaches `minDocs` distinct docs
    * within its source is dropped, and each document's SURVIVING raw
    * lines are re-joined with '\n' in their original order. Emits
    * (doc_id, n_lines, n_kept, clean_text); a document that was pure
    * boilerplate comes back with n_kept 0 and an empty clean_text
    * (the downstream length filter removes it), and null-text docs
    * pass through with 0/0/NULL.
    *
    * Plan: the [[docLines]] scan → the bounded doc-frequency
    * aggregate → one hash equi-join back on norm (AQE
    * skew-splittable; the df side carries only the 2-column count
    * table) → one doc_id-keyed shuffle where `array_sort(collect_list
    * (struct(pos, line)))` restores order without a window —
    * collect_list drops the NULL structs the keep-filter produces, so
    * the kept-line concat needs no second scan. Per-doc state is the
    * document's own line list — the same bound as holding the text. */
  def lineDedupClean(spark: SparkSession, sfDir: String, minDocs: Int = 2): DataFrame = {
    val lines = docLines(spark, sfDir)
    val freq = lines.groupBy(col("norm"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    val agg = lines.join(freq, Seq("norm"))
      .withColumn("keep", col("n_docs") < minDocs)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN keep THEN struct(pos, line) END)), x -> x.line)"),
          "\n").as("clean_text"))
    docs(spark, sfDir).select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** SERVE-side line cleaning against a PRECOMPUTED census — the
    * lambda-architecture half of the family: [[boilerplateLines]] runs
    * as a periodic batch pass over the full corpus (doc frequency is
    * global by nature), and this function applies its output to any
    * document frame — a batch slice or a streaming micro-batch inside
    * `foreachBatch` (see `EventIngest.lineCleanAvailableNow`). Same
    * normalization, same order-preserving reconstruction as
    * [[lineDedupClean]]; a line is dropped iff its normalized form is
    * in the census.
    *
    * The census is BROADCAST: it holds only lines already found in ≥
    * minDocs distinct documents — at serve time a deployment caps it
    * to the top-N by doc frequency (the tail of barely-duplicated
    * lines carries no cleaning value), so the broadcast is a bounded
    * dictionary, not a corpus-scale table. Per input row the work is
    * one hash probe per line — no shuffle except the per-doc
    * reassembly, which foreachBatch scopes to the micro-batch. */
  def cleanWithCensus(docs: DataFrame, census: DataFrame): DataFrame = {
    val lines = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
      .withColumn("norm",
        trim(regexp_replace(lower(col("line")), LineWs, " ")))
    val boiler = broadcast(
      census.select(col("line").as("norm")).distinct()
        .withColumn("is_boiler", lit(true)))
    val agg = lines.join(boiler, Seq("norm"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("is_boiler").isNull, 1L).otherwise(0L)).as("n_kept"),
        array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN is_boiler IS NULL THEN struct(pos, line) END)), x -> x.line)"),
          "\n").as("clean_text"))
    // rejoin the input frame so null-text documents survive as
    // (0, 0, NULL) — the serve sink must be a COMPLETE copy of the
    // corpus slice it cleaned, exactly like the batch lineDedupClean
    // (a cleaner that silently drops rows is a lossy cleaner)
    docs.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("clean_text"))
  }

  /** Gopher-rule document filter (Rae et al. 2021 §A1.1, the published
    * heuristic battery every large text pipeline runs before training):
    * per document — word count bounds [50, 100k], mean word length
    * bounds [3, 10], symbol-to-word ratio (# and ... occurrences)
    * ≤ 0.1, ≥ 80% of words containing an alphabetic character, and at
    * least 2 DISTINCT hits among the 8 canonical English stopwords.
    * Emits each raw signal plus the composite keep flag so downstream
    * resampling can re-threshold without recomputing.
    *
    * Scale: a PURE MAP stage — every signal is a codegen'd expression
    * over the row's own text (no shuffle before the presentation
    * sort), so it rides whatever partitioning the corpus already has;
    * at 100 TB this is scan-bound by construction. Flag comparisons
    * use the UNROUNDED ratios: each is one IEEE division of exact
    * integer counts, so the booleans agree bit-for-bit cross-engine;
    * the reported ratios are 6dp-rounded for presentation only. */
  /** Planted-fixture ids live ABOVE [[Dedup.MirrorOffset]] (2⁴¹), the
    * same headroom rule as the dedup mirrors: a low literal (the
    * original 9000101) collides with genuine doc_ids on any ≥9M-doc
    * corpus, silently merging fixture and real rows — and because the
    * oracle replays the same literal, the hash check could never see
    * it. Everything ≥ this base is synthetic by contract; consumers
    * filtering planted rows out test `doc_id < FixtureIdBase` (or the
    * `source = 'planted_fixture'` tag where the column survives). */
  private[graft] val FixtureIdBase: Long = Dedup.MirrorOffset

  /** The PUBLIC registration: the Gopher battery over the corpus as-is
    * (round-14 name split — the seeded fixture moved to
    * [[gopherQualityFlagsSeeded]] under the `_gate` name). */
  def gopherQualityFlags(spark: SparkSession, sfDir: String): DataFrame =
    gopherQualityFlags(docs(spark, sfDir))

  /** Driver-gate registration: the corpus plus one planted fixture row
    * passing EVERY Gopher rule (see [[gopherFixtureText]]), so the keep
    * flag is never constant-false at the driver's check scale. */
  def gopherQualityFlagsSeeded(spark: SparkSession, sfDir: String): DataFrame = {
    val base = docs(spark, sfDir)
    val planted = base.sparkSession.range(1)
      .select(lit(FixtureIdBase + 101L).as("doc_id"), lit(gopherFixtureText).as("text"),
        lit("en").as("lang"), lit("planted_fixture").as("source"),
        length(lit(gopherFixtureText)).cast("long").as("n_chars"))
    gopherQualityFlags(base.unionByName(planted))
  }

  /** One document passing EVERY Gopher rule — the sf corpus's
    * synthetic vocabulary tops out at one distinct stopword hit, so
    * without this row the keep flag would be constant-false at the
    * driver's check scale (the vacuous-gate trap). The identical
    * repeat() literal lives in the SQL oracle. */
  private[ops] val gopherFixtureText: String =
    "the quick brown fox jumps over the lazy dog and runs to the edge of the field with great joy " * 3

  private def gopherQualityFlags(docFrame: DataFrame): DataFrame = {
    val words = col("ws")
    val nWords = size(words).cast("long")
    // total word chars = text with ALL whitespace removed (same class)
    val wordChars = length(regexp_replace(col("text"), LineWs, "")).cast("long")
    val meanLen = wordChars.cast("double") / nWords.cast("double")
    val nHash = (length(col("text")) - length(regexp_replace(col("text"), "#", ""))).cast("long")
    val nEllipsis = ((length(col("text")) -
      length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3).cast("long")
    val symbolRatio = (nHash + nEllipsis).cast("double") / nWords.cast("double")
    val alphaFrac = size(filter(words, x => x.rlike("[a-z]")))
      .cast("double") / nWords.cast("double")
    val stopHits = size(array_intersect(array_distinct(words),
      array(Seq("the", "be", "to", "of", "and", "that", "have", "with").map(lit): _*)))
      .cast("long")
    docFrame
      .filter(col("text").isNotNull)
      // tokenize ONCE: the zero-word guard and every word-derived
      // signal read the same materialized array, so each document pays
      // one regex split on this scan-bound map stage, not two
      .withColumn("ws", filter(split(trim(org.apache.spark.sql.functions.lower(col("text"))),
        LineWs), x => x =!= lit("")))
      // zero-word documents have no defined signals (every ratio is
      // 0/0); excluding them is the contract rather than emitting
      // engine-dependent NaN/NULL — the length filter upstream of any
      // real pipeline drops them anyway
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), col("lang"), col("source"),
        nWords.as("n_words"),
        round(meanLen, 6).as("mean_word_len"),
        round(symbolRatio, 6).as("symbol_ratio"),
        round(alphaFrac, 6).as("alpha_frac"),
        stopHits.as("n_stop_hits"),
        (nWords.between(50L, 100000L) &&
          meanLen >= 3.0 && meanLen <= 10.0 &&
          symbolRatio <= 0.1 && alphaFrac >= 0.8 &&
          stopHits >= 2L).as("gopher_keep"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-rule REPETITION battery (Rae et al. 2021 §A1.1, the
    * signals [[repetitionStats]]' trigram screen doesn't carry):
    * per document —
    *   - dup_line_frac: 1 − distinct/total raw lines,
    *   - dup_line_char_frac: characters sitting on a line whose exact
    *     text occurs more than once IN THIS DOC (each occurrence
    *     counted) / total line characters,
    *   - top{2,3,4}gram_char_frac: the character share of the single
    *     most-covering word n-gram — max over grams of
    *     occurrences × gram-word-chars, divided by the doc's total
    *     word chars. Computing the MAX COVERAGE directly (never the
    *     arg-max gram) keeps ties harmless cross-engine.
    * Flags use Gopher's published ceilings (0.30 / 0.20 / 0.20 /
    * 0.18 / 0.16); repetition_keep is their conjunction.
    *
    * Scale: lines and n-grams explode map-side and aggregate on
    * (doc_id, gram) — partial-merged, bounded by each doc's own
    * content, never corpus-global state; the per-doc roll-ups then
    * share one doc_id Exchange shape. Every ratio is ONE IEEE
    * division of exact BIGINTs, so the flag booleans can't flip
    * between engines; reported fractions are 6dp presentation
    * rounding. Documents with zero words are excluded (the
    * [[gopherQualityFlags]] contract); a doc with fewer than n words
    * has no n-gram and reports 0 for that tier. */
  def gopherRepetitionFlags(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir).filter(col("text").isNotNull)
    val lowWords = filter(split(trim(org.apache.spark.sql.functions.lower(col("text"))),
      LineWs), x => x =!= lit(""))
    // cached: the three gram tiers and the doc spine all read the token
    // arrays, which uncached would re-decode the corpus text four times
    val base = SessionCache(spark, Tables.paths(sfDir, "documents"), "curation.repetitionTokens")(d
        .select(col("doc_id"), lowWords.as("ws"),
          length(regexp_replace(col("text"), LineWs, "")).cast("long").as("word_chars"))
        .filter(size(col("ws")) > 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // line census per doc: counts and characters of exact raw lines
    val lineAgg = d
      .select(col("doc_id"), explode(split(col("text"), "\n")).as("line"))
      .groupBy(col("doc_id"), col("line"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("len", length(col("line")).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_lines"),
        count(lit(1)).as("n_distinct_lines"),
        sum(col("cnt") * col("len")).as("line_chars"),
        sum(when(col("cnt") > 1, col("cnt") * col("len")).otherwise(0L))
          .as("dup_line_chars"))
    // per (doc, n): the maximum character coverage of any word n-gram
    def topGramCover(n: Int): DataFrame = base
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(ws) - ${n - 1}), " +
          s"i -> array_join(slice(ws, i, $n), chr(1)))")).as("g"))
      .groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(max(col("cnt") * (length(col("g")) - lit(n - 1))).as(s"cover$n"))
    val joined = base.select(col("doc_id"), col("word_chars"))
      .join(lineAgg, Seq("doc_id"), "left")
      .join(topGramCover(2), Seq("doc_id"), "left")
      .join(topGramCover(3), Seq("doc_id"), "left")
      .join(topGramCover(4), Seq("doc_id"), "left")
    def frac(num: Column, den: Column): Column =
      coalesce(num, lit(0L)).cast("double") / den.cast("double")
    val dupLine = lit(1.0) - col("n_distinct_lines").cast("double") / col("n_lines").cast("double")
    val dupLineChar = when(col("line_chars") > 0L,
      frac(col("dup_line_chars"), col("line_chars"))).otherwise(lit(0.0))
    val t2 = frac(col("cover2"), col("word_chars"))
    val t3 = frac(col("cover3"), col("word_chars"))
    val t4 = frac(col("cover4"), col("word_chars"))
    joined.select(col("doc_id"),
      col("n_lines"),
      round(dupLine, 6).as("dup_line_frac"),
      round(dupLineChar, 6).as("dup_line_char_frac"),
      round(t2, 6).as("top2gram_char_frac"),
      round(t3, 6).as("top3gram_char_frac"),
      round(t4, 6).as("top4gram_char_frac"),
      (dupLine <= 0.30 && dupLineChar <= 0.20 &&
        t2 <= 0.20 && t3 <= 0.18 && t4 <= 0.16).as("repetition_keep"))
      .orderBy(col("doc_id"))
  }

  /** The deterministic planted fixture for [[c4LineFilters]]: the
    * sf-corpus documents are single-line and punctuation-free, so the
    * corpus alone exercises exactly one rule branch; these literal
    * (doc_id, line) rows cover every other branch (kept lines ending
    * in each terminal mark, short lines, braces, each bad-word
    * phrase) and the SQL oracle carries the identical VALUES list.
    * Planted at the LINE level so neither engine needs multi-line
    * string literals. */
  private[graft] val c4FixtureLines: Seq[(Long, String)] = Seq(
    (FixtureIdBase + 1L) -> "This is a perfectly fine sentence with enough words.",
    (FixtureIdBase + 1L) -> "Short line.",
    (FixtureIdBase + 1L) -> "Click here to read our cookie policy now.",
    (FixtureIdBase + 1L) -> "function() { return 42; }",
    (FixtureIdBase + 1L) -> "A line without terminal punctuation here indeed",
    (FixtureIdBase + 1L) -> "Another good sentence that carries more than five words.",
    (FixtureIdBase + 2L) -> "The first of three complete sentences sits here.",
    (FixtureIdBase + 2L) -> "Is this a question with enough words here?",
    (FixtureIdBase + 2L) -> "What a wonderful surprise this truly is!",
    (FixtureIdBase + 3L) -> "Lorem ipsum dolor sit amet, consectetur adipiscing elit.",
    (FixtureIdBase + 3L) -> "Enable javascript to continue browsing this site today.",
    (FixtureIdBase + 3L) -> "Read the terms of use before you proceed further.",
    (FixtureIdBase + 4L) -> "He said \"the last character is a double quote.\"")

  /** C4-rule line filter (Raffel et al. 2020 §2.2): classify every
    * line of every document by its FIRST failing rule in a fixed
    * precedence — bad-word phrase (lorem ipsum / javascript / cookie
    * policy / terms of use) > curly brace > short (< 5 words) > no
    * terminal punctuation (. ! ? ") — and keep the rest; a document
    * survives when ≥ 3 lines are kept (C4's three-sentence floor).
    * Emits per-document counters for every rule so the filter is
    * auditable, plus the keep flag.
    *
    * Scale: split + explode + classify are map-side; the only shuffle
    * is the per-doc counter aggregation (partial-merged map-side), so
    * the plan is the same one-Exchange shape as [[repetitionStats]].
    * Registered over the corpus ∪ [[c4FixtureLines]] so the driver
    * gate exercises every branch at every SF (the seeded-gate pattern
    * of [[Dedup.seededDocs]]). */
  def c4LineFilters(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val corpusLines = docs(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), "\n")).as("line"))
    val planted = c4FixtureLines.toDF("doc_id", "line")
    c4LineFilters(corpusLines.unionByName(planted))
  }

  private def c4LineFilters(lines: DataFrame): DataFrame = {
    val low = org.apache.spark.sql.functions.lower(col("line"))
    val t = trim(col("line"))
    val nWords = size(filter(split(t, LineWs), x => x =!= lit("")))
    // last char via substr(t, length(t), 1): negative-index substr
    // differs between engines (Spark counts from the end, DuckDB
    // follows PostgreSQL), the explicit form is identical in both
    val cls = when(low.contains("lorem ipsum") || low.contains("javascript") ||
        low.contains("cookie policy") || low.contains("terms of use"), "badword")
      .when(col("line").contains("{"), "brace")
      .when(nWords < 5, "short")
      .when(!expr("substr(trim(line), length(trim(line)), 1)")
        .isin(".", "!", "?", "\""), "no_punct")
      .otherwise("kept")
    lines
      .select(col("doc_id"), cls.as("cls"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("cls") === "kept", 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("cls") === "short", 1L).otherwise(0L)).as("n_short"),
        sum(when(col("cls") === "no_punct", 1L).otherwise(0L)).as("n_no_punct"),
        sum(when(col("cls") === "brace", 1L).otherwise(0L)).as("n_brace"),
        sum(when(col("cls") === "badword", 1L).otherwise(0L)).as("n_badword"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"), col("n_short"),
        col("n_no_punct"), col("n_brace"), col("n_badword"),
        (col("n_kept") >= 3L).as("c4_keep"))
      .orderBy(col("doc_id"))
  }
}
