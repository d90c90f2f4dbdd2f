package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.SessionCache
import graft.sources.Tables

/** Market-basket affinity mining and graph centrality over the order
  * baskets — the recommendation-adjacent pair of operators every retail
  * or co-occurrence pipeline runs after sessionization (engine extension
  * past the reference's per-element series pull,
  * `TimeSeriesFunctions_GPL_0.5.1.R:23-40`; the mining semantics follow
  * the public A-Priori formulation: Agrawal & Srikant, VLDB'94).
  *
  * Scale posture (shared by both operators):
  *   - The basket table is `distinct(orderkey, partkey)` — ONE shuffle
  *     on the composite key; every downstream pair expansion is bounded
  *     by the basket size (≤ order lines), never the catalog size.
  *   - A-Priori ITEM pruning runs before any pair is materialized: the
  *     item-count table is catalog-sized (|parts|), broadcast back, so
  *     the only large shuffle in the whole plan is the basket build.
  *     Pairs of infrequent items are never generated — the classic
  *     candidate-pruning step, here as a broadcast semi-join.
  *   - The pair self-join keys on the ORDER key both sides — Catalyst
  *     co-partitions the two sides on one Exchange pair, and the output
  *     is per-order quadratic only in the (pruned) basket width.
  *   - All ratios (support, confidence, lift) are ONE IEEE division
  *     over exact BIGINT counts/products, so every row hash-verifies
  *     against the DuckDB oracle bit-for-bit.
  */
object Affinity {

  /** Frequent-item share floor: an item participates in pairs iff its
    * basket count clears 0.1% of all baskets, decided by exact integer
    * cross-multiplication (`cnt * 1000 >= n_orders` — no division, no
    * IEEE boundary between engines). */
  val ItemShareDenom = 1000L

  /** Minimum co-occurrence count for an emitted pair. */
  val MinPairSupport = 2L

  /** Distinct (order, part) baskets from lineitem. */
  private def baskets(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.Tables.table(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()

  /** Pair co-occurrence counts over frequent-item-pruned baskets —
    * the shared A-Priori core of [[partAffinity]] and [[partPagerank]].
    * Returns (pa, pb, n_ab) with pa < pb, n_ab >= MinPairSupport, plus
    * the broadcastable side tables (item counts, 1-row basket total). */
  /** Session cache of the mined (pairs, itemCounts, totals) triple —
    * the basket-mining subtree (distinct-basket build + pruned pair
    * self-join) is the shared input of EIGHT registered consumers
    * (affinity, rules, triples, pagerank, triangles, clustering, BFS,
    * and the plan-gate builders); without the cache each one re-mines
    * the corpus. Same (appId, corpus) keying and persist discipline as
    * the minhash/signature caches. */
  private def frequentPairs(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, DataFrame) =
    SessionCache(spark, Tables.paths(sfDir, "lineitem"), "affinity.frequentPairs") {
      val (p, ic, t) = frequentPairsDirect(spark, sfDir)
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      (p.persist(lvl), ic.persist(lvl), t.persist(lvl))
    }

  private def frequentPairsDirect(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val b = baskets(spark, sfDir)
    val totals = b.agg(countDistinct(col("ok")).as("n_orders"))
    val itemCounts = b.groupBy(col("pk")).agg(count(lit(1)).as("n_item"))
    val frequent = itemCounts.crossJoin(broadcast(totals))
      .filter(col("n_item") * lit(ItemShareDenom) >= col("n_orders"))
      .select(col("pk"), col("n_item"))
    val pruned = b.join(broadcast(frequent.select(col("pk"))), Seq("pk"), "left_semi")
    val pairs = pruned.as("a")
      .join(pruned.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("pa"), col("b.pk").as("pb"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= lit(MinPairSupport))
    (pairs, itemCounts, totals)
  }

  /** The undirected frequent-pair edge set (u < v, unique) — the shared
    * input of the graph-analytics consumers ([[partPagerank]],
    * `Graph.partTriangles`). */
  def frequentPairEdges(spark: SparkSession, sfDir: String): DataFrame =
    frequentPairs(spark, sfDir)._1.select(col("pa").as("u"), col("pb").as("v"))

  /** Association metrics for every frequent part pair: support share,
    * directional confidence a→b, and lift — each ONE double division
    * over exact integer counts (products stay far inside BIGINT: counts
    * are basket-bounded). Output: (part_a, part_b, n_a, n_b, n_ab,
    * support, confidence, lift). */
  def partAffinity(spark: SparkSession, sfDir: String): DataFrame = {
    val (pairs, itemCounts, totals) = frequentPairs(spark, sfDir)
    pairs
      .join(broadcast(itemCounts.select(col("pk").as("pa"), col("n_item").as("n_a"))), Seq("pa"))
      .join(broadcast(itemCounts.select(col("pk").as("pb"), col("n_item").as("n_b"))), Seq("pb"))
      .crossJoin(broadcast(totals))
      .select(
        col("pa").as("part_a"), col("pb").as("part_b"),
        col("n_a"), col("n_b"), col("n_ab"),
        (col("n_ab").cast("double") / col("n_orders").cast("double")).as("support"),
        (col("n_ab").cast("double") / col("n_a").cast("double")).as("confidence"),
        ((col("n_orders") * col("n_ab")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
      .orderBy(col("part_a"), col("part_b"))
  }

  /** Directed association RULES from the frequent pairs — the textbook
    * A-Priori output: both orientations `a ⇒ b` and `b ⇒ a` of every
    * frequent pair, kept when confidence = n_ab / n_antecedent clears
    * 10% (decided by exact cross-multiplication `n_ab · 10 >= n_a`, no
    * IEEE boundary). Confidence and lift are then one division each
    * over exact BIGINTs. Lift is orientation-symmetric; confidence is
    * not — which is the point of emitting rules rather than pairs. */
  def associationRules(spark: SparkSession, sfDir: String): DataFrame = {
    val (pairs, itemCounts, totals) = frequentPairs(spark, sfDir)
    val directed = pairs.select(col("pa").as("antecedent"), col("pb").as("consequent"), col("n_ab"))
      .union(pairs.select(col("pb").as("antecedent"), col("pa").as("consequent"), col("n_ab")))
    directed
      .join(broadcast(itemCounts.select(col("pk").as("antecedent"), col("n_item").as("n_a"))),
        Seq("antecedent"))
      .join(broadcast(itemCounts.select(col("pk").as("consequent"), col("n_item").as("n_c"))),
        Seq("consequent"))
      .filter(col("n_ab") * lit(10L) >= col("n_a"))
      .crossJoin(broadcast(totals))
      .select(col("antecedent"), col("consequent"), col("n_ab"),
        (col("n_ab").cast("double") / col("n_a").cast("double")).as("confidence"),
        ((col("n_orders") * col("n_ab")).cast("double") /
          (col("n_a") * col("n_c")).cast("double")).as("lift"))
      .orderBy(col("antecedent"), col("consequent"))
  }

  /** A-Priori LEVEL 3 — frequent triples, generated the way the
    * algorithm scales: candidates come only from FREQUENT PAIRS (every
    * 2-subset of a frequent triple must be a frequent pair), so the
    * 3-way expansion never touches an item combination the level-2
    * pass already ruled out. The pair-occurrence table is pre-filtered
    * to frequent pairs via a broadcast semi-join, then extended by one
    * more basket item, and the two new sub-pairs are semi-checked
    * before counting. Support is one IEEE division over exact BIGINTs.
    *
    * Scale shape: all joins key on the ORDER (co-partitioned) or on
    * broadcast pair sets; per-order expansion is cubic only in the
    * pruned basket width, which the item floor bounds. */
  def partTriples(spark: SparkSession, sfDir: String): DataFrame = {
    val (pairs, _, totals) = frequentPairs(spark, sfDir)
    val b = baskets(spark, sfDir)
    val freqItems = pairs.select(col("pa").as("pk"))
      .union(pairs.select(col("pb").as("pk"))).distinct()
    val pb = b.join(broadcast(freqItems), Seq("pk"), "left_semi")
    val pairSet = broadcast(pairs.select(col("pa"), col("pb")))
    // pair occurrences restricted to frequent pairs, then extended
    val occ2 = pb.as("x").join(pb.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.ok").as("ok"), col("x.pk").as("a"), col("y.pk").as("b"))
      .join(pairSet, col("a") === col("pa") && col("b") === col("pb"), "left_semi")
    val occ3 = occ2.as("o2").join(pb.as("z"),
        col("o2.ok") === col("z.ok") && col("z.pk") > col("o2.b"))
      .select(col("o2.a").as("a"), col("o2.b").as("b"), col("z.pk").as("c"))
      .join(pairSet, col("b") === col("pa") && col("c") === col("pb"), "left_semi")
      .join(pairSet, col("a") === col("pa") && col("c") === col("pb"), "left_semi")
    occ3.groupBy(col("a").as("part_a"), col("b").as("part_b"), col("c").as("part_c"))
      .agg(count(lit(1)).as("n_abc"))
      .filter(col("n_abc") >= lit(MinPairSupport))
      .crossJoin(broadcast(totals))
      .select(col("part_a"), col("part_b"), col("part_c"), col("n_abc"),
        (col("n_abc").cast("double") / col("n_orders").cast("double")).as("support"))
      .orderBy(col("part_a"), col("part_b"), col("part_c"))
  }

  /** ONE un-checkpointed power iteration — built only for the plan
    * gate: [[partPagerank]] cuts lineage at every iteration boundary
    * (see its checkpoint note), so the production query's final plan
    * shows LogicalRDDs where the per-iteration joins live. This plan
    * exposes the iteration's join shape itself for inspection. */
  private[graft] def pagerankIterationPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val (pairs, _, _) = frequentPairs(spark, sfDir)
    val edges = pairs.select(col("pa").as("src"), col("pb").as("dst"))
      .union(pairs.select(col("pb").as("src"), col("pa").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val edgesDeg = edges.join(deg, Seq("src"))
    val nodes = deg.select(col("src").as("part"))
    val nTab = nodes.agg(count(lit(1)).as("n"))
    val r0 = nodes.crossJoin(broadcast(nTab))
      .select(col("part"), expr(s"$RankScale DIV n").as("r"))
    val contrib = edgesDeg.join(r0, col("src") === col("part"))
      .select(col("dst"), expr("r DIV outdeg").as("c"))
    contrib.groupBy(col("dst")).agg(sum(col("c")).as("in_mass"))
  }

  /** Fixed-point scale for integer PageRank mass: ranks live in units
    * of 1e-12, so BIGINT sums are exact and order-independent — the
    * whole iteration hash-verifies against the oracle's replay. */
  val RankScale = 1000000000000L
  /** Damping 0.85 expressed as the exact integer pair (85, 100). */
  val DampNum = 85L
  val DampDen = 100L
  val Iterations = 10

  /** PageRank over the co-occurrence graph (symmetric edges = frequent
    * pairs): `Iterations` power iterations of
    * `r' = (1-d)/N + d * Σ_in r/outdeg`, entirely in scaled BIGINT
    * arithmetic — contributions are exact integer divisions
    * (`r DIV outdeg`), the incoming mass is a BIGINT sum (exact under
    * any reduce order), and the damped update is `(85 * in) DIV 100` —
    * so Spark at any parallelism and DuckDB's unrolled-CTE replay
    * produce bit-identical ranks. The one double column is a single
    * terminal division by the scale.
    *
    * Scale shape: the classic partitioned-PageRank plan — the edge
    * table (with out-degrees pre-joined) is computed once and cached;
    * each iteration shuffles only (node, BIGINT) rank rows into the
    * edge partitioning and reduces contributions two-phase. Nothing
    * per-iteration touches the corpus; the driver loop is `Iterations`
    * plan stages, not collected data. */
  def partPagerank(spark: SparkSession, sfDir: String): DataFrame = {
    val (pairs, _, _) = frequentPairs(spark, sfDir)
    val edges = pairs.select(col("pa").as("src"), col("pb").as("dst"))
      .union(pairs.select(col("pb").as("src"), col("pa").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // lazy localCheckpoint cuts lineage at the iteration boundary:
    // without it the logical plan embeds the whole basket-mining
    // subtree once PER REFERENCE PER ITERATION (measured 2,264 Exchange
    // nodes in the 10-iteration plan text — planning dominated the
    // runtime). Values are already deterministic integers, so
    // materializing them changes nothing semantically; a cluster
    // deployment would use reliable checkpointing the same way.
    val edgesDeg = edges.join(deg, Seq("src")).localCheckpoint(eager = false)
    val nodes = deg.select(col("src").as("part")).localCheckpoint(eager = false)
    val nTab = nodes.agg(count(lit(1)).as("n"))
    var ranks = nodes.crossJoin(broadcast(nTab))
      .select(col("part"), expr(s"$RankScale DIV n").as("r"))
    for (_ <- 1 to Iterations) {
      val contrib = edgesDeg.join(ranks, col("src") === col("part"))
        .select(col("dst"), expr("r DIV outdeg").as("c"))
      val inSum = contrib.groupBy(col("dst")).agg(sum(col("c")).as("in_mass"))
      ranks = nodes.join(inSum, col("part") === col("dst"), "left")
        .crossJoin(broadcast(nTab))
        .select(col("part"),
          (expr(s"(${RankScale * 15L / 100L}) DIV n") +
            expr(s"($DampNum * coalesce(in_mass, 0)) DIV $DampDen")).as("r"))
        .localCheckpoint(eager = false)
    }
    ranks
      .select(col("part"), col("r").as("rank_scaled"),
        (col("r").cast("double") / lit(RankScale.toDouble)).as("rank"))
      .orderBy(col("rank_scaled").desc, col("part"))
  }
}
