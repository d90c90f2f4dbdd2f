package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ScaleFunctions
import graft.sources.Tables

import graft.core.SessionCache

/** Shuffle-economy join patterns — the three moves a 1000-executor
  * plan makes that a single-node engine never needs (engine extension
  * past the reference's read-only store,
  * `TimeSeriesFunctions_GPL_0.5.1.R:16-40`): runtime bloom pruning of
  * a fact scan, explicit salt-and-replicate for hot join keys, and the
  * CDC snapshot diff that turns "recompute the world" into "process
  * the delta". Each produces an EXACTLY-equal result to its naive
  * counterpart — the whole point is that the optimization is
  * semantics-free — so every one is hash-checked against a plain-SQL
  * DuckDB oracle.
  */
object ScalePatterns {

  private def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Tables.table(spark, sfDir, name)

  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(18,4)")).cast("double")

  /** Revenue by priority over BUILDING-segment customers, with the
    * fact side pre-pruned by a bloom filter over the qualifying
    * dimension keys — the runtime-filter pattern for the regime where
    * the filtered dimension is too large to broadcast-join but its
    * key BITS still fit in a few MB. Build: `stat.bloomFilter` is a
    * mergeable-sketch tree aggregate (fixed-size partials, no key
    * shuffle). Probe: one codegen'd `mightContainLong` per fact row,
    * inside the scan stage, so non-matching orders die BEFORE the
    * join exchange — at 100 TB that is the difference between
    * shuffling 1/5 of the fact table and all of it. The exact join
    * after the probe removes bloom false positives, which is why the
    * result (and the oracle) is the plain join's, bit for bit.
    *
    * The `count()` on the filtered dimension is the bloom sizing
    * probe (expectedInsertions), dimension-scale by design.
    *
    * Relationship to Spark's own `InjectRuntimeFilter` (pinned by the
    * "runtime bloom filter prunes a shuffled fact join" OpsSpec test):
    * the optimizer rule fires only for shuffle-join-eligible,
    * size-thresholded cases it can prove; this explicit form is the
    * user-level escape hatch for the regimes the rule declines —
    * pre-computed key sets, reuse of one bloom across several fact
    * scans, or probe columns behind expressions — and being a
    * registered query it is hash-checked against the plain join.
    */
  def bloomPruneJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = t(spark, sfDir, "customer")
      .filter(col("c_mktsegment") === lit("BUILDING"))
      .select(col("c_custkey"))
    val nKeys = math.max(dim.count(), 1L)
    val bloom = dim.stat.bloomFilter("c_custkey", nKeys, 0.03)
    t(spark, sfDir, "orders")
      .filter(ScaleFunctions.bloom_might_contain(bloom, col("o_custkey")))
      .join(dim, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** Event value by customer segment through an explicitly SALTED
    * equi-join: the big side's rows are spread across `k` sub-keys by
    * a hash of their unique id, the profile side is replicated once
    * per salt, and the join runs on (key, salt) — so a hot user's
    * rows land on k different reducers instead of one. AQE's skew
    * split covers sort-merge joins after the fact; explicit salting
    * is the a-priori form that also covers the aggregate-after-join
    * and works under any join strategy. Each event row carries
    * exactly one salt and meets exactly one replica of its profile
    * row, so the joined multiset — and therefore the aggregate — is
    * identically the unsalted join's (the oracle runs the unsalted
    * SQL). k=8 is a demo constant; production sizes it from a skew
    * probe (`join_skew_report` is that probe in this engine).
    */
  def saltedSkewJoin(spark: SparkSession, sfDir: String, k: Int = 8): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("value"), col("event_id"))
      .withColumn("salt", pmod(xxhash64(col("event_id")), lit(k.toLong)).cast("int"))
    val prof = t(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
      .withColumn("salt", explode(sequence(lit(0), lit(k - 1))))
    ev.join(prof, col("user_id") === col("c_custkey") && ev("salt") === prof("salt"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("total_value"))
      .orderBy(col("c_mktsegment"))
  }

  /** Two-hop runtime-filter CASCADE: the dimension predicate's
    * selectivity is propagated down the join tree as bloom filters —
    * segment-filtered customers bloom-prune the ORDERS scan, and the
    * qualifying orders' keys in turn bloom-prune the LINEITEM scan —
    * so by the time the fact-fact join shuffles, BOTH sides are
    * already ~1/5 volume. This is the multi-hop regime Spark's
    * `InjectRuntimeFilter` handles one edge at a time and only when
    * its thresholds prove out; done explicitly, one dimension-derived
    * bit array cuts the largest table in the plan without any
    * broadcast of actual keys. The qualifying-orders projection is
    * cached: it seeds the second bloom (count + sketch build = two
    * dimension-scale actions) and then replays as the join's build
    * side. Exact joins after each probe erase the blooms' false
    * positives — the result is the plain 3-table join's, hash-matched.
    */
  def bloomCascadeRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = t(spark, sfDir, "customer")
      .filter(col("c_mktsegment") === lit("BUILDING"))
      .select(col("c_custkey"))
    val custBloom = dim.stat.bloomFilter("c_custkey", math.max(dim.count(), 1L), 0.03)
    val qualOrders = SessionCache(spark, Tables.paths(sfDir, "orders", "customer"),
        "scale.bloomQualifyingOrders")(
      t(spark, sfDir, "orders")
        .filter(ScaleFunctions.bloom_might_contain(custBloom, col("o_custkey")))
        .join(dim, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_orderpriority"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val orderBloom = qualOrders.stat.bloomFilter("o_orderkey",
      math.max(qualOrders.count(), 1L), 0.03)
    val dec = "decimal(18,4)"
    t(spark, sfDir, "lineitem")
      .filter(ScaleFunctions.bloom_might_contain(orderBloom, col("l_orderkey")))
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .join(qualOrders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast(dec) *
          (lit(1).cast(dec) - col("l_discount").cast(dec)))
          .cast("double").as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** Snapshot boundary dates and the deterministic mutation rules for
    * the CDC diff (the driver store ships a single immutable orders
    * table, so the "new" snapshot is derived): rows entering after
    * Cut1 are inserts; orderkey%17==2 flips status, %17==3 reprices;
    * orderkey%23==5 is deleted from the new snapshot. */
  private val Cut1 = "1999-01-01"
  private val Cut2 = "2000-01-01"

  private def snapOld(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders").filter(col("o_orderdate") < lit(Cut1))
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

  private def snapNew(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders").filter(col("o_orderdate") < lit(Cut2))
      .filter(col("o_orderkey") % 23 =!= 5)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 17 === 2, lit("X"))
          .otherwise(col("o_orderstatus")).as("o_orderstatus"),
        when(col("o_orderkey") % 17 === 3, col("o_totalprice") + 10.0d)
          .otherwise(col("o_totalprice")).as("o_totalprice"))

  /** CDC-style diff of two order snapshots: ONE full-outer equi-join
    * on the business key, each pair classified added / removed /
    * changed / unchanged by null-safe attribute comparison (`<=>`, so
    * a null attribute equals itself and cannot fake a change — the
    * same comparator contract as `Scd.applyScd2`). Emits the summary
    * a delta pipeline acts on: row count and decimal-exact net price
    * movement per class. At 100 TB both snapshots shuffle once on the
    * key (or zero times if the store is bucketed by it — see
    * `BucketStore`), versus re-reading the world; the diff output is
    * delta-sized.
    */
  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val o = snapOld(spark, sfDir).select(col("o_orderkey").as("k"),
      col("o_orderstatus").as("old_status"), col("o_totalprice").as("old_price"))
    val n = snapNew(spark, sfDir).select(col("o_orderkey").as("k2"),
      col("o_orderstatus").as("new_status"), col("o_totalprice").as("new_price"))
    val cls = when(col("k").isNull, lit("added"))
      .when(col("k2").isNull, lit("removed"))
      .when(col("old_status") <=> col("new_status") &&
        col("old_price") <=> col("new_price"), lit("unchanged"))
      .otherwise(lit("changed"))
    o.join(n, col("k") === col("k2"), "full_outer")
      .select(cls.as("change_type"),
        coalesce(col("new_price"), lit(0.0d)).as("np"),
        coalesce(col("old_price"), lit(0.0d)).as("op"))
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n_rows"),
        dsum(col("np") - col("op")).as("net_price_delta"))
      .orderBy(col("change_type"))
  }

  /** Per-document codepoint-entropy quality screen (bits/char) via the
    * single-pass `CodepointEntropy` expression — no explode, no
    * shuffle; the quantized value (1e-6 resolution, the engine's
    * standard float-compare discipline) is DuckDB-checkable against a
    * char-unnest formulation. `low_entropy` (< 2 bits/char) is the
    * repetitive-boilerplate flag a curation pass drops on; it derives
    * from the QUANTIZED value (`entropy_q < 2_000_000`), not the raw
    * double — an ulp of log-implementation drift between engines near
    * the 2.0 boundary must not be able to flip the flag. */
  def charEntropy(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        ScaleFunctions.codepoint_entropy(coalesce(col("text"), lit("")))
          .as("h"))
      .select(col("doc_id"), col("lang"), col("source"),
        floor(col("h") * lit(1000000.0d) + lit(0.5d)).cast("long").as("entropy_q"))
      .withColumn("low_entropy", col("entropy_q") < lit(2000000L))
      .orderBy(col("doc_id"))
}
