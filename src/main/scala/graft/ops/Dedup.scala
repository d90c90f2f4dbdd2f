package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.SessionCache
import graft.sources.Tables

/** Deduplication operators over the `documents` table (north-star
  * extension surface). Exact dedup here; MinHash/SimHash/Jaccard variants
  * live in their own files.
  */
object Dedup {

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.ChunkStore.table(spark, sfDir, "documents")

  /** The corpus plus DETERMINISTIC planted duplicates: every document
    * with doc_id ≡ 3 (mod 97) is mirrored under a fresh id
    * (doc_id + [[MirrorOffset]]) and the synthetic source
    * 'planted_mirror'. The dedup-family driver
    * gates run over this frame so their one hash-checked row per round
    * exercises REAL grouping/joining logic even on a corpus slice with
    * no natural duplicates (the sf0.01 store has none — a census over
    * it proves only that empty in = empty out). The plant is a pure
    * projection both engines express identically (same modulus, same
    * id shift, same literal source), so the oracle replays it verbatim;
    * ~1% density keeps the seeded frame scan-shaped, not join-shaped.
    * Ops that consume the RAW corpus (exact dedup keep-sets, cluster
    * resolution, funnels) are untouched — seeding is per-query scoped,
    * never a corpus mutation. */
  /** Mirror ids live at doc_id + 2⁴¹: a LOW offset (the original +1e6)
    * collides with genuine ids on any ≥1M-doc corpus — exactly the
    * scale these gates claim to design for — silently merging a mirror
    * with an unrelated real document in a way the oracle (which replays
    * the same arithmetic) could never detect. 2⁴¹ leaves headroom for
    * ~2.2e12 real documents while staying well inside Long. */
  private[ops] val MirrorOffset: Long = 1L << 41

  private[ops] def seededDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    d.unionByName(d.filter(col("doc_id") % 97 === 3)
      .select((col("doc_id") + MirrorOffset).as("doc_id"), col("text"), col("lang"),
        lit("planted_mirror").as("source"), col("n_chars")))
  }

  /** Exact dedup with deterministic survivor choice: keep the lowest
    * doc_id per identical text. `groupBy` + `min_by` instead of a
    * row_number window: partial aggregation collapses duplicate groups
    * map-side, so the shuffle carries one survivor candidate per
    * (partition, text) rather than every row — the window form would
    * shuffle and sort the full table. */
  def exact(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .groupBy(col("text"))
      .agg(min_by(struct(col("doc_id"), col("lang"), col("source"), col("n_chars")),
        col("doc_id")).as("keep"))
      .select(col("keep.doc_id"), col("keep.lang"), col("keep.source"), col("keep.n_chars"))
      .orderBy(col("doc_id"))

  /** Scale path for exact dedup: aggregate on a 64-bit fingerprint of the
    * normalized text instead of the full text bytes — the shuffle moves
    * (hash, id) pairs only, never document bodies. Same survivor rule. */
  def exactByFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    val fp = xxhash64(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
    docs(spark, sfDir)
      .select(col("doc_id"), fp.as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"))
  }

  /** Duplicate-group summary: how many exact copies each surviving text
    * has (count > 1 ⇒ was duplicated). */
  def duplicateGroups(spark: SparkSession, sfDir: String): DataFrame =
    duplicateGroups(docs(spark, sfDir))

  /** The driver-gate registration: same operator over [[seededDocs]],
    * so the per-round hash check always sees real duplicate groups. */
  def duplicateGroupsSeeded(spark: SparkSession, sfDir: String): DataFrame =
    duplicateGroups(seededDocs(spark, sfDir))

  def duplicateGroups(docFrame: DataFrame): DataFrame =
    docFrame
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .select(col("keeper_id"), col("n_copies"))
      .orderBy(col("keeper_id"))

  // -------------------------------------------------------------------
  // Connected components: alternating large-star / small-star
  // (Kiveris et al., "Connected Components in MapReduce and Beyond",
  // SoCC 2014). Unlike plain min-label propagation — whose round count
  // is the graph DIAMETER, so a 21-doc near-dup chain silently exits a
  // 20-round cap with wrong labels — the alternation contracts every
  // component to a min-rooted star in O(log² n) rounds regardless of
  // diameter, and the root is always the component minimum (the min
  // only ever acquires edges, never loses its rank).
  //
  // Edge representation: directed (u, v) with u > v (each edge points
  // at the smaller endpoint). Both operations preserve that invariant.
  // -------------------------------------------------------------------

  /** Large-star: for each node u, connect every STRICTLY LARGER
    * neighbor to min(Γ(u) ∪ {u}). Neighborhoods are symmetric, so the
    * edge list is mirrored before grouping. */
  private def largeStar(e: DataFrame): DataFrame = {
    val nbr = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = nbr.groupBy(col("u")).agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    // emitted (v, m) keeps the u > v invariant: v > u ≥ m
    nbr.join(mins, "u")
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  /** Small-star: for each node u, connect u and every smaller-or-equal
    * neighbor to min(Γ(u)). With the u > v invariant every stored edge
    * already points small-ward, so no mirroring is needed. */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
    val withM = e.join(mins, "u")
    withM.select(col("v").as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))
      .union(withM.select(col("u"), col("m").as("v")))
      .distinct()
  }

  /** Contract an undirected graph to min-rooted stars by alternating
    * large-star/small-star rounds. Input: directed edges `(u, v)` with
    * `u > v`; output: the converged edge set — one `(node, root)` edge
    * per non-root node, root = component minimum.
    *
    * Each alternation round is a handful of shuffled joins/aggregations
    * over the (shrinking) edge list — ids only, never payloads — with a
    * `localCheckpoint` per round to stop iterative plan growth. The
    * driver-side loop compares only a (count, xor-of-hashes) checksum
    * per round, never rows; checksum equality on a distinct edge set is
    * set equality up to a 2⁻⁶⁴ hash-collision. If the cap is ever hit
    * before convergence the method THROWS rather than returning wrong
    * labels (the cap is far above the O(log² n) bound — hitting it
    * means a bug, not a big graph). Shared by the text near-dup
    * clustering and the embedding-space semantic dedup. */
  private[ops] def starContract(pairs: DataFrame): DataFrame = {
    var edges = pairs.localCheckpoint()
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var prev = checksum(edges)
    var converged = false
    var rounds = 0
    val MaxRounds = 50
    while (!converged && rounds < MaxRounds) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val cur = checksum(next)
      converged = cur == prev
      prev = cur
      edges = next
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge within $MaxRounds large/small-star rounds")
    edges
  }

  /** Labels from the blocked-Jaccard near-dup graph: (doc_id,
    * cluster_id = min doc_id of the connected component) for EVERY
    * document (singletons label themselves). The CC machinery is the
    * shared [[starContract]]. */
  private def computeClusterLabels(spark: SparkSession, sfDir: String,
      threshold: Double): DataFrame = {
    val pairs = NearDup.blockedJaccard(spark, sfDir, threshold)
      .select(col("doc_b").as("u"), col("doc_a").as("v")) // doc_a < doc_b ⇒ u > v
    // converged state = min-rooted stars: each non-root has exactly one
    // edge to its component min (the groupBy is belt-and-braces)
    val roots = starContract(pairs).groupBy(col("u").as("doc_id")).agg(min(col("v")).as("root"))
    docs(spark, sfDir)
      .select(col("doc_id"))
      .join(roots, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("root"), col("doc_id")).as("cluster_id"))
  }

  /** Session-scoped cache of the near-dup cluster labels, keyed by
    * (application, corpus dir, threshold): the blocked-Jaccard edge
    * build is the single most expensive subplan in the suite, and BOTH
    * [[dupClusters]] and [[curateCorpus]] need the same labels — compute
    * once per corpus snapshot, persist (a (long, long) pair per doc —
    * metadata-scale even at 100 TB), and let every consumer reuse it. */
  def clusterLabels(spark: SparkSession, sfDir: String, threshold: Double = 0.95): DataFrame =
    SessionCache(spark, Tables.paths(sfDir, "documents"), "dedup.clusterLabels", threshold)(
      computeClusterLabels(spark, sfDir, threshold).persist(StorageLevel.MEMORY_AND_DISK))

  /** Near-duplicate CLUSTERS: connected components over the blocked-
    * Jaccard candidate pairs (threshold 0.95 word-unigram, the
    * hash-verified `ngram_jaccard` edge set) — the dedup step that turns
    * pairwise "A≈B" into "keep one doc per transitive group", which pair
    * lists alone cannot express (A≈B, B≈C ⇒ {A,B,C} even when A̸≈C).
    *
    * Output: (doc_id, cluster_id = min doc_id of the component,
    * cluster_size) for every document (singletons cluster with
    * themselves). Deterministic ⇒ DuckDB-oracle-checkable via a
    * recursive CTE. */
  def dupClusters(spark: SparkSession, sfDir: String, threshold: Double = 0.95): DataFrame = {
    val labels = clusterLabels(spark, sfDir, threshold)
    val sizes = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** The one-table summary a dedup RUN is judged by — the cluster-size
    * histogram: how many components of each size, how many documents
    * they hold, and how many would be dropped by keep-one-per-cluster
    * (size − 1 each). A healthy crawl is dominated by singletons; a few
    * giant cliques mean a boilerplate family (and explain any pair-level
    * recall loss from the LSH salt cap, which splits exactly those).
    * Rides the session-cached labels — two |clusters|-scale aggregates,
    * nothing touches text. */
  def dupClusterHistogram(spark: SparkSession, sfDir: String,
      threshold: Double = 0.95): DataFrame =
    clusterLabels(spark, sfDir, threshold)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        (count(lit(1)) * col("cluster_size")).as("n_docs"),
        (count(lit(1)) * (col("cluster_size") - 1)).as("n_dropped_by_dedup"))
      .orderBy(col("cluster_size"))

  /** The composed curation pipeline — what a training-data run actually
    * executes over 100 TB: quality filter → PII screen → one-per-near-
    * dup-cluster dedup, in one declarative plan (cluster labels reused
    * from the session cache, not rebuilt).
    *
    * Keep a document iff (a) its composite quality score ≥ `minQuality`
    * ([[TextAnalysis.qualityScore]]), (b) the PII scan found nothing
    * ([[TextAnalysis.piiScan]]), and (c) it is the min-doc_id member of
    * its near-dup cluster AMONG the docs that survive (a) and (b) — so
    * a cluster contributes a document whenever ANY member is keepable,
    * rather than dropping whole clusters because the global
    * representative happened to fail a filter (0.95 Jaccard still
    * allows differing PII spans). Each input is itself hash-verified
    * against its own oracle; the composition is verified against a
    * combined oracle too, so the end-to-end keep set is exact, not just
    * plausible. */
  def curateCorpus(spark: SparkSession, sfDir: String, minQuality: Double = 0.5): DataFrame = {
    val quality = graft.ops.TextAnalysis.qualityScore(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"), col("quality"))
    val pii = graft.ops.TextAnalysis.piiScan(spark, sfDir)
      .select(col("doc_id"), col("flagged"))
    val clusters = clusterLabels(spark, sfDir)
    val surviving = quality
      .join(pii, "doc_id")
      .join(clusters, "doc_id")
      .filter(col("quality") >= minQuality && !col("flagged"))
    // representative among SURVIVORS: min doc_id per cluster via one
    // partial-aggregated groupBy on the (tiny) surviving id set
    val reps = surviving.groupBy(col("cluster_id")).agg(min(col("doc_id")).as("rep_id"))
    surviving
      .join(reps, "cluster_id")
      .filter(col("doc_id") === col("rep_id"))
      .select(col("doc_id"), col("lang"), col("source"), col("quality"))
      .orderBy(col("doc_id"))
  }

  /** The curation FUNNEL — the "data card" table every training-data
    * run publishes: how many documents and tokens survive each stage of
    * [[curateCorpus]]'s pipeline (raw → quality ≥ min → +PII-clean →
    * +one representative per near-dup cluster). Four audit rows; the
    * final row's counts are exactly `curate_corpus`'s keep-set (same
    * predicates, same cached cluster labels), so the funnel can't
    * silently disagree with the dedup decision it reports on.
    *
    * Tokens are the BPE-style pre-tokenization measure the packing
    * stage budgets with ([[Curation.bpeTokExpr]]) — the funnel answers
    * "how many TRAINING tokens does each stage cost", not word counts.
    *
    * Scale shape: one pass computes per-document stage flags (three
    * joins on doc_id — quality/PII are projections of the same scan,
    * cluster labels ride the session cache), the representative set is
    * a groupBy over the surviving ids only, and the funnel itself is a
    * SINGLE global aggregate of conditional sums unpivoted by `stack` —
    * counts only, no per-stage re-scans, nothing driver-side. */
  def curationFunnel(spark: SparkSession, sfDir: String, minQuality: Double = 0.5): DataFrame = {
    val toks = docs(spark, sfDir)
      .select(col("doc_id"), graft.ops.Curation.bpeTokExpr.as("n_tok"))
    val quality = graft.ops.TextAnalysis.qualityScore(spark, sfDir)
      .select(col("doc_id"), col("quality"))
    val pii = graft.ops.TextAnalysis.piiScan(spark, sfDir)
      .select(col("doc_id"), col("flagged"))
    val flags = toks.join(quality, "doc_id").join(pii, "doc_id")
      .join(clusterLabels(spark, sfDir), "doc_id")
      .withColumn("q_ok", col("quality") >= minQuality)
      .withColumn("p_ok", col("q_ok") && !col("flagged"))
    val reps = flags.filter(col("p_ok"))
      .groupBy(col("cluster_id")).agg(min(col("doc_id")).as("rep_id"))
    val staged = flags.join(reps, Seq("cluster_id"), "left")
      .withColumn("d_ok", col("p_ok") && col("doc_id") === col("rep_id"))
    // coalesce: an empty corpus reports a 4-row all-zero funnel (sum
    // over no rows is NULL), not a table of nulls
    def cnt(c: Column) = coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
    def tok(c: Column) = coalesce(sum(when(c, col("n_tok")).otherwise(0L)), lit(0L))
    staged
      .agg(
        count(lit(1)).as("d0"), coalesce(sum(col("n_tok")), lit(0L)).as("t0"),
        cnt(col("q_ok")).as("d1"), tok(col("q_ok")).as("t1"),
        cnt(col("p_ok")).as("d2"), tok(col("p_ok")).as("t2"),
        cnt(col("d_ok")).as("d3"), tok(col("d_ok")).as("t3"))
      .selectExpr(
        """stack(4,
          |  1L, 'raw',       d0, t0,
          |  2L, 'quality',   d1, t1,
          |  3L, 'pii_clean', d2, t2,
          |  4L, 'dedup_rep', d3, t3) AS (stage, stage_name, n_docs, n_tokens)""".stripMargin)
      .orderBy(col("stage"))
  }

  /** INCREMENTAL dedup — the production shape: a corpus is never
    * deduped once, it is deduped against EVERY NEW BATCH (daily crawl,
    * fresh dump) without re-clustering the base. The corpus is split
    * deterministically into base (existing store, doc_id % 7 ≠ 0) and
    * increment (the arriving batch, ~14% — a day's crawl against a
    * week's corpus); each increment doc gets a verdict:
    *
    *  - `drop_exact`: its normalized text equals a base doc's
    *    (partner = lowest such base id);
    *  - `drop_near`: a verified token-Jaccard ≥ `threshold` pair links
    *    it to a base doc (partner = lowest; exact takes precedence);
    *  - `kept`: novel — enters the corpus.
    *
    * Scale shape: the exact tier is an equi-join on the normalized
    * text (same posture as [[exact]]; the fingerprint variant
    * [[exactByFingerprint]] is the 8-byte-shuffle swap-in), and the
    * increment side of that join is BATCH-sized, not corpus-sized —
    * at 100 TB this is a broadcast of the day's arrivals against the
    * base scan. The near tier reuses the blocked-Jaccard verified pair
    * table ([[NearDup.blockedJaccard]] — shared session cache with
    * every other consumer) and filters it to base↔increment edges;
    * batch-internal duplicates are deliberately NOT this operator's
    * job (run [[exact]]/[[dupClusters]] on the batch first — the
    * stages compose).
    *
    * The split is id-keyed, NOT content-keyed: a content-keyed split
    * (md5(text) buckets, as `corpus_split` rightly uses for train/val
    * hygiene) can never exhibit a cross-split exact duplicate — both
    * copies hash to the same side by construction — which would make
    * the exact tier untestable dead code. The modulus is 7, coprime to
    * the test corpus's duplicate-family id stride (20), so planted
    * near-dup families genuinely straddle the split. */
  /** Cross-source duplication matrix — WHERE the duplicates come from:
    * for every (source_a ≤ source_b) pair of feeds, the number of
    * exact-duplicate document pairs (normalized-text equality, the
    * same norm the exact tier keys on) between them. The report that
    * turns "8% of the corpus is duplicated" into "feed X mirrors
    * feed Y" — the decision input for dropping a feed outright.
    *
    * Scale design — COUNT ALGEBRA, never pair materialization: a
    * duplicate group of size g implies C(g,2) pairs, which a naive
    * pair self-join materializes (quadratic on viral content). Here
    * the corpus reduces to per-(norm-hash, source) COUNTS first (one
    * shuffle carrying md5 keys), the within-source cell is the
    * closed form n(n−1)/2, and the cross-source cell n_a·n_b comes
    * from a self-join on the norm key whose row count is bounded by
    * groups×sources — pairs never exist as rows. md5 (not xxhash64)
    * keys the group so the DuckDB oracle replays it verbatim. */
  def crossSourceDupMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = docs(spark, sfDir)
      .select(col("source"),
        md5(regexp_replace(lower(trim(coalesce(col("text"), lit("")))), "\\s+", " ")).as("h"))
      .groupBy(col("h"), col("source"))
      .agg(count(lit(1)).as("n"))
    val within = counts.filter(col("n") >= 2L)
      .select(col("source").as("source_a"), col("source").as("source_b"),
        expr("n * (n - 1) DIV 2").as("pairs"))
    val across = counts.as("a")
      .join(counts.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        (col("a.n") * col("b.n")).as("pairs"))
    val exactCells = within.unionByName(across)
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("pairs")).as("n_exact_pairs"))
    // near tier: the (lang, source)-blocked jaccard pair table is
    // diagonal by construction (blocking ⇒ same source) and already
    // session-cached for the cluster tier — rolled up, not re-derived
    val src = docs(spark, sfDir).select(col("doc_id"), col("source"))
    val nearCells = NearDup.blockedJaccard(spark, sfDir, 0.95)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("source_a")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("source_b")), Seq("doc_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_near_pairs"))
    exactCells.join(nearCells, Seq("source_a", "source_b"), "full_outer")
      .select(col("source_a"), col("source_b"),
        coalesce(col("n_exact_pairs"), lit(0L)).as("n_exact_pairs"),
        coalesce(col("n_near_pairs"), lit(0L)).as("n_near_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  def dedupIncrement(spark: SparkSession, sfDir: String, threshold: Double = 0.95): DataFrame = {
    val d = docs(spark, sfDir).select(col("doc_id"),
      regexp_replace(lower(trim(coalesce(col("text"), lit("")))), "\\s+", " ").as("norm"),
      (col("doc_id") % 7 =!= 0).as("is_base"))
    val base = d.filter(col("is_base"))
    val inc = d.filter(!col("is_base"))
    val exactM = inc.select(col("doc_id"), col("norm"))
      .join(base.select(col("norm"), col("doc_id").as("b_id")), "norm")
      .groupBy(col("doc_id")).agg(min(col("b_id")).as("exact_base"))
    val pairs = NearDup.blockedJaccard(spark, sfDir, threshold)
      .select(col("doc_a"), col("doc_b"))
    val dirPairs = pairs.select(col("doc_a").as("i"), col("doc_b").as("b"))
      .unionAll(pairs.select(col("doc_b").as("i"), col("doc_a").as("b")))
    val nearM = dirPairs
      .join(inc.select(col("doc_id").as("i")), "i")
      .join(base.select(col("doc_id").as("b")), "b")
      .groupBy(col("i")).agg(min(col("b")).as("near_base"))
      .withColumnRenamed("i", "doc_id")
    inc.select(col("doc_id"))
      .join(exactM, Seq("doc_id"), "left")
      .join(nearM, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_base").isNotNull, lit("drop_exact"))
          .when(col("near_base").isNotNull, lit("drop_near"))
          .otherwise(lit("kept")).as("verdict"),
        coalesce(col("exact_base"), col("near_base")).as("base_doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Semantic (embedding-space) dedup — the SemDeDup pattern (Abbas et
    * al. 2023): documents whose EMBEDDINGS are near-identical are
    * semantic duplicates even when their token sets differ, so cluster
    * the cosine≥threshold graph and keep one representative per
    * component. Output: (vec_id, cluster_id = component min,
    * cluster_size, keep = is-representative) for every vector —
    * the keep column IS the dedup decision, the cluster columns are the
    * audit trail.
    *
    * This is the EXACT tier: the edge set is the full unblocked cosine
    * graph (broadcast-nested-loop pair scan + the fused native cosine
    * kernel — same distributed-compute/broadcast-build shape and the
    * same O(n²·d) ceiling as [[Similarity.cosineTopK]], and the same
    * honest caveat: the broadcast side must fit in memory).
    * Deterministic ⇒ DuckDB-oracle-checkable via a recursive CTE;
    * components via the shared [[starContract]] — O(log² n) rounds, ids
    * only on the shuffle. At 100 TB the pair scan is blocked by the
    * coarse-quantizer cell — that path is [[semanticDedupIvf]], gated
    * against this one in OpsSpec. */
  def semanticDedup(spark: SparkSession, sfDir: String, threshold: Double = 0.40): DataFrame =
    SessionCache(spark, Tables.paths(sfDir, "embeddings"),
        "dedup.semanticLabels", threshold, "exact") {
        // loud cardinality guard (Similarity.ExactTierMaxRows): the
        // unblocked pair scan is the verification baseline, not a path
        // anyone should run on a corpus the IVF tier exists for
        Similarity.requireExactTier(
          Similarity.corpusCount(spark, sfDir), "semanticDedup")
        val e = graft.sources.ChunkStore.table(spark, sfDir, "embeddings")
          // same "not a point in the vector space" rule as Similarity.emb:
          // a null embedding can neither match nor be kept as a survivor
          .filter(col("embedding").isNotNull)
          .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
        val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"))
        val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"))
        val edges = a.join(broadcast(b), col("vec_a") < col("vec_b"))
          .withColumn("cosine",
            round(graft.functions.VectorFunctions.cosine_sim(col("va"), col("vb")), 4))
          .filter(col("cosine") >= threshold)
          .select(col("vec_b").as("u"), col("vec_a").as("v")) // vec_a < vec_b ⇒ u > v
        semanticLabelsFromEdges(spark, sfDir, edges)
          .persist(StorageLevel.MEMORY_AND_DISK)
      }

  /** The 100 TB path for [[semanticDedup]]: block the pair scan by the
    * session-cached KMeans coarse-quantizer cell (the very clustering
    * SemDeDup prescribes), MULTI-PROBED — each vector is listed under
    * its `nprobe` nearest cells, so a near pair split across a cell
    * boundary still meets in some probed-cell combination. Each cell's
    * scan is O((nprobe·|cell|)²) with ~√n cells, so nothing is ever
    * all-pairs and nothing is broadcast but the centroids.
    *
    * The default nprobe = 4 is the measured-at-scale choice: at sf0.1
    * (auto nlist = 45 over 2000 vectors — the regime where cells
    * multiply and components chain across boundaries) keep-set
    * agreement vs the exact unblocked operator is 0.71 at nprobe=2,
    * 0.83 at 3, **0.91 at 4** (coarser quantizers measured worse at
    * equal cost: 0.85 at (2, nlist=8), 0.90 at (3, nlist=16)); at
    * sf0.001's 22 cells, nprobe=2 already measured 0.96. Both scales
    * gated ≥ 0.9 in OpsSpec. Seeded KMeans isn't SQL-expressible ⇒
    * rows-only registration. */
  def semanticDedupIvf(spark: SparkSession, sfDir: String, threshold: Double = 0.40,
      nprobe: Int = 4, nlist: Int = 0): DataFrame = {
    val assigned = Similarity.probedAssignments(spark, sfDir, nprobe, nlist) match {
      case Some(a) => a
      case None =>
        return graft.sources.ChunkStore.table(spark, sfDir, "embeddings")
          .select(col("vec_id"), col("vec_id").as("cluster_id"),
            lit(0L).as("cluster_size"), lit(true).as("keep")).limit(0)
    }
    SessionCache(spark, Tables.paths(sfDir, "embeddings"),
        "dedup.semanticLabels", threshold, s"ivf$nprobe",
        Similarity.indexDir(sfDir, nlist)) {
        val a = assigned.select(col("cell"), col("vec_id").as("vec_a"), col("v").as("va"))
        val b = assigned.select(col("cell"), col("vec_id").as("vec_b"), col("v").as("vb"))
        val edges = a.join(b, Seq("cell"))
          .filter(col("vec_a") < col("vec_b"))
          .withColumn("cosine",
            round(graft.functions.VectorFunctions.cosine_sim(col("va"), col("vb")), 4))
          .filter(col("cosine") >= threshold)
          .select(col("vec_b").as("u"), col("vec_a").as("v"))
          .distinct() // a pair can collide in several probed cells
        semanticLabelsFromEdges(spark, sfDir, edges)
          .persist(StorageLevel.MEMORY_AND_DISK)
      }
  }

  /** Shared tail of the two semantic-dedup paths: contract the edge
    * set, label every vector (singletons label themselves), attach
    * component sizes and the keep verdict. */
  private def semanticLabelsFromEdges(spark: SparkSession, sfDir: String,
      edges: DataFrame): DataFrame = {
    val roots = starContract(edges).groupBy(col("u").as("vec_id")).agg(min(col("v")).as("root"))
    val labels = graft.sources.ChunkStore.table(spark, sfDir, "embeddings")
      // null-embedding rows are absent from the vector space, so they
      // get no label row at all (matching every other vector operator,
      // and keeping the exact and IVF paths consistent on null corpora)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"))
      .join(roots, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("root"), col("vec_id")).as("cluster_id"))
    val sizes = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "cluster_id")
      .select(col("vec_id"), col("cluster_id"), col("cluster_size"),
        (col("vec_id") === col("cluster_id")).as("keep"))
      .orderBy(col("vec_id"))
  }

  /** INCREMENTAL semantic dedup, exact tier (round-17 verdict ask #5:
    * `dedupIncrement` maintained the exact+near TEXT keep-sets
    * batch-vs-base, but the embedding tier recomputed its component
    * labels over the whole corpus per batch): the corpus splits on
    * [[dedupIncrement]]'s convention (vec_id % 7 == 0 = the incoming
    * batch, the rest = the already-curated base), and each incoming
    * vector is dropped iff some BASE vector sits within the cosine
    * threshold — a DIRECT-edge verdict against the base, the batch
    * ingest decision (transitive closure through other INCOMING
    * vectors is the full recompute's business, not the increment's:
    * an arrival order where the bridge came first would have dropped
    * it against base too). Only CROSS-SPLIT pairs are scanned —
    * O(|batch|·|base|) here, O(|batch|·cell) in the IVF twin — never
    * base×base, which is the entire point of incremental maintenance.
    * Deterministic ⇒ fully DuckDB-hashed. */
  def semanticDedupIncrement(spark: SparkSession, sfDir: String,
      threshold: Double = 0.40): DataFrame = {
    Similarity.requireExactTier(
      Similarity.corpusCount(spark, sfDir), "semanticDedupIncrement")
    val e = graft.sources.ChunkStore.table(spark, sfDir, "embeddings")
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val inc = e.filter(col("vec_id") % 7 === 0)
    val base = e.filter(col("vec_id") % 7 =!= 0)
    val matches = inc.select(col("vec_id"), col("v").as("vi"))
      .join(broadcast(base.select(col("vec_id").as("b"), col("v").as("vb"))),
        round(graft.functions.VectorFunctions.cosine_sim(col("vi"), col("vb")), 4)
          >= threshold)
      .groupBy(col("vec_id")).agg(min(col("b")).as("base_vec_id"))
    inc.select(col("vec_id"))
      .join(matches, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("base_vec_id").isNotNull, lit("drop_semantic"))
          .otherwise(lit("kept")).as("verdict"),
        col("base_vec_id"))
      .orderBy(col("vec_id"))
  }

  /** The 100 TB path for [[semanticDedupIncrement]]: the incoming
    * batch MULTI-PROBES the session-cached coarse-quantizer cells
    * (nprobe nearest — [[semanticDedupIvf]]'s boundary-pair recovery)
    * and meets only the BASE vectors assigned to those cells — an
    * equi-join on the cell id, O(|batch|·nprobe·|cell|) candidate
    * pairs against a base that never self-joins. On the persisted
    * index this is exactly "new batch probes existing inverted lists":
    * the append-time ingest decision at index-maintenance cost.
    * Seeded KMeans ⇒ rows-only; keep-set agreement vs the exact tier
    * is gated ≥ 0.9 by [[semanticIncrementGate]] (hashed). */
  def semanticDedupIncrementIvf(spark: SparkSession, sfDir: String,
      threshold: Double = 0.40, nprobe: Int = 4, nlist: Int = 0): DataFrame = {
    import spark.implicits._
    val probed = Similarity.probedAssignments(spark, sfDir, nprobe, nlist) match {
      case Some(p) => p
      case None =>
        return Seq.empty[(Long, String, Long)]
          .toDF("vec_id", "verdict", "base_vec_id")
    }
    // BOTH sides multi-probe (the semanticDedupIvf boundary-recovery
    // rule): probing only the incoming side measured agreement BELOW
    // the 0.9 gate at sf0.1's 45-cell regime (the driver sweep caught
    // it); with both sides probed a cross-split pair meets iff the
    // probe sets intersect — still an equi-join on the cell id, still
    // never base×base
    val inc = probed.filter(col("vec_id") % 7 === 0)
      .select(col("cell"), col("vec_id"), col("v").as("vi"))
    val base = probed.filter(col("vec_id") % 7 =!= 0)
      .select(col("cell"), col("vec_id").as("b"), col("v").as("vb"))
    val matches = inc.join(base, Seq("cell"))
      .filter(round(graft.functions.VectorFunctions.cosine_sim(col("vi"), col("vb")), 4)
        >= threshold)
      .groupBy(col("vec_id")).agg(min(col("b")).as("base_vec_id"))
    probed.select(col("vec_id")).distinct().filter(col("vec_id") % 7 === 0)
      .join(matches, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("base_vec_id").isNotNull, lit("drop_semantic"))
          .otherwise(lit("kept")).as("verdict"),
        col("base_vec_id"))
      .orderBy(col("vec_id"))
  }

  /** Driver-hashed verdict: the IVF-blocked incremental keep-set
    * agrees with the exact cross-split recompute on ≥ 0.9 of the
    * incoming batch (the [[semanticDedupIvf]] agreement contract
    * applied to the increment). Literal-TRUE oracle. */
  def semanticIncrementGate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ok = SessionCache(spark, Tables.paths(sfDir, "embeddings"), "dedup.semanticIncrementGate") {
      val exact = semanticDedupIncrement(spark, sfDir).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      if (exact.isEmpty) true
      else {
        val ivf = semanticDedupIncrementIvf(spark, sfDir).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        val agree = exact.count { case (id, v) => ivf.get(id).contains(v) }
        agree.toDouble / exact.size >= 0.9
      }
    }
    Seq(("semantic_increment_agreement", ok)).toDF("metric", "ok")
  }
}
