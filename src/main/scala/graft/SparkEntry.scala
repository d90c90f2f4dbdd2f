package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Methods
import graft.engine.Forecaster
import graft.ops.{Curation, Dedup, Multimodal, NearDup, QualityModel, Relational, ScalePatterns, Similarity, TextAnalysis}
import graft.sources.SeriesStore

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every deterministic operator registers here twice: a Spark builder in
  * `queries` and matching ANSI SQL in `oracleSql` (DuckDB). Column names
  * are aliased identically on both sides (the driver sorts columns by
  * name before hashing). Doubles that pass through any aggregation are
  * rounded to 6 decimals on BOTH sides so accumulation-order ulps cannot
  * flip the hash.
  */
object SparkEntry {

  /** Forecast horizon / seasonal frequency used by the registered
    * forecast queries (horizon = the reference's warm-cache length,
    * R:10; frequency 7 = the reference's hard-coded weekly frequency,
    * R:369). */
  val H = 14
  val Freq = 7

  /** Smaller re-request horizon for the `fc_cached_slice` query — must be
    * < [[H]] so the second wrapper call is a pure cache slice (R:110). */
  val SliceH = 7

  private def r6(c: String): Column = round(col(c), 6).as(c)

  /** One wrapper Engine per Spark application, over one store directory
    * — the engine's model/cache trees persist across `fc_cached_slice`
    * invocations like the reference's RDS trees persist across wrapper
    * calls (R:8-9), and its store index with them, so a later invocation
    * answers from the index instead of reading each generation again. A
    * single JVM shutdown hook removes the tree (no /tmp leak per
    * invocation). Store keys embed the index (= sf-dir basename), so two
    * scale factors sharing one directory cannot collide. */
  private val sliceEngines =
    new java.util.concurrent.ConcurrentHashMap[String, graft.engine.Engine]()

  private def sliceEngine(s: SparkSession): graft.engine.Engine =
    sliceEngines.computeIfAbsent(s.sparkContext.applicationId,
      _ => new graft.engine.Engine(s, graft.core.ProcessTempDir("graft-slice-store")))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    fcQuery(Methods.NAIVE)(spark, "/root/testdata/sf0.001")

  /** Closed-form forecast of every series in the events store — exercises
    * the full scan→materialize→fit→expand pipeline (SURVEY.md §7 slice). */
  private def fcQuery(method: String): (SparkSession, String) => DataFrame =
    (s, dir) =>
      Forecaster.forecastStore(s, dir, method, Freq, H)
        .select(col("element"), col("method"), col("step").cast("long").as("step"),
          r6("lower1"), r6("lower2"), r6("mean"), r6("upper1"), r6("upper2"))
        .orderBy("element", "step")

  /** One query exercised through the `spark.sql` surface with SQL that is
    * valid in BOTH Spark and DuckDB — the same string is the oracle, so
    * the engines execute literally identical text. */
  val portableSql: String =
    """SELECT r_name, n_name, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  /** Correlated-subquery surface, portable Spark+DuckDB (same string is
    * the oracle). Catalyst must DECORRELATE all three — EXISTS → left
    * semi, NOT EXISTS → left anti, the correlated scalar aggregate → a
    * grouped aggregate joined back on the correlation key (TPC-H
    * Q4/Q17/Q22 shapes) — OpsSpec asserts no nested-loop fallback.
    * Float posture: every threshold that crosses an aggregation is an
    * exact DECIMAL sum followed by ONE double division, so both engines
    * execute the identical IEEE operation sequence and boundary
    * comparisons cannot flip. */
  val existsSql: String =
    """SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-07-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  val scalarSubquerySql: String =
    """SELECT count(*) AS n_items,
      |  round(CAST(sum(CAST(l1.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0, 6) AS avg_weekly
      |FROM lineitem l1 JOIN part ON l1.l_partkey = p_partkey
      |WHERE p_brand = 'Brand#4'
      |  AND l1.l_quantity < (
      |    SELECT 0.2 * (CAST(sum(CAST(l2.l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*))
      |    FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)""".stripMargin

  /** Q2-shaped correlated ARGMIN: per size-filtered part, the
    * supplier(s) achieving the minimum lineitem price (lineitem is the
    * store's part-supplier bridge). The correlated min subquery must
    * decorrelate to an aggregate + equi-join (plan-gated); the equality
    * probe compares STORED doubles (no arithmetic), so it is exact in
    * both engines, and DISTINCT collapses same-supplier-same-price
    * repeat lineitems. */
  val minCostSupplierSql: String =
    """SELECT DISTINCT p_partkey, s_name, n_name,
      |  CAST(l_extendedprice AS DOUBLE) AS min_price
      |FROM part
      |JOIN lineitem ON p_partkey = l_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE p_size = 15
      |  AND l_extendedprice = (
      |    SELECT min(l2.l_extendedprice) FROM lineitem l2
      |    WHERE l2.l_partkey = p_partkey)
      |ORDER BY p_partkey, s_name""".stripMargin

  /** Q16-shaped distinct-supplier count: brand/type/size predicates on
    * the dimension, a NOT IN exclusion subquery (must plan as an
    * anti join — it is uncorrelated and the key is non-null), and a
    * count(DISTINCT) per group; ordered by the count with full-key
    * tie-breaks so the frontier cannot flip between engines. */
  val supplierCntSql: String =
    """SELECT p_brand, p_type, p_size,
      |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM part JOIN lineitem ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#1' AND p_type <> 'SMALL'
      |  AND p_size IN (1, 5, 15, 25)
      |  AND l_suppkey NOT IN (
      |    SELECT s_suppkey FROM supplier WHERE s_name LIKE '%77')
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  val dormantCustomersSql: String =
    """SELECT c_nationkey, count(*) AS n_dormant,
      |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE), 6) AS total_bal
      |FROM customer
      |WHERE c_acctbal > (
      |    SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*)
      |    FROM customer WHERE c_acctbal > 0.0)
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin

  /** Q7 shape (volume shipping between two nations): 6-table join with
    * a DISJUNCTIVE cross-dimension predicate — the OR spans BOTH nation
    * dims, so it cannot push into either side and must survive as a
    * post-join filter while every join stays equi (plan-gated). The
    * revenue follows the house rule: exact DECIMAL product/sum, ONE
    * cast to DOUBLE at the end. */
  val q7VolumeSql: String =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(sum(volume) AS DOUBLE) AS revenue
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    year(l_shipdate) AS l_year,
      |    CAST(l_extendedprice AS DECIMAL(18,4)) *
      |      (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS volume
      |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
      |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
      |    AND c_custkey = o_custkey
      |    AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
      |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      |) shipping
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** Q15 shape (top supplier): an aggregated CTE referenced TWICE — once
    * as the join input and once under a scalar `max` subquery — selecting
    * the argmax row(s). The equality that picks the winner compares two
    * exact DECIMAL sums (never doubles: a one-ulp disagreement between
    * engines would drop or add a winner); the single DOUBLE cast happens
    * at output. Catalyst folds the max branch to a grouped aggregate fed
    * into an equi-join (plan-gated: no nested loops). */
  val q15TopSupplierSql: String =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
      |        (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
      |FROM supplier, revenue
      |WHERE s_suppkey = supplier_no
      |  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  /** Q18 shape (large-volume orders): IN over a HAVING'd aggregate of the
    * SAME fact table the outer query re-joins — the semi-join input is an
    * aggregate, not a scan. The qualifying threshold compares exact
    * DECIMAL quantity sums, so membership cannot flip between engines. */
  val q18LargeOrdersSql: String =
    """SELECT c_name, o_orderkey, o_orderdate,
      |  round(CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE), 6) AS total_price,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
      |FROM customer, orders, lineitem
      |WHERE o_orderkey IN (
      |    SELECT l_orderkey FROM lineitem
      |    GROUP BY l_orderkey
      |    HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > 180)
      |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
      |GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
      |ORDER BY o_orderkey""".stripMargin

  /** Q21 shape (suppliers who kept orders waiting): the same fact table
    * correlated THREE ways — the driving scan, an EXISTS proving the
    * order is multi-supplier, and a NOT EXISTS proving no OTHER supplier
    * was late on it. The NOT EXISTS predicate references the OUTER
    * query's `o_orderdate` (not just the correlation key), the richer
    * decorrelation case. "Late" adapts TPC-H's receipt>commit to this
    * schema: shipped > 60 days after order date. Both subqueries must
    * decorrelate to semi/anti equi-joins (plan-gated). */
  val q21WaitingSuppliersSql: String =
    """SELECT s_name, count(*) AS numwait
      |FROM supplier, lineitem l1, orders
      |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      |  AND o_orderstatus = 'F'
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 20""".stripMargin

  /** Q11 shape (revenue concentration): grouped HAVING tested against a
    * scalar aggregate over the SAME table — each group's revenue vs a
    * fraction of the corpus total. Both sides are exact DECIMAL sums cast
    * once to DOUBLE, then ONE multiply on the threshold side, so the
    * boundary comparison executes the identical IEEE sequence in both
    * engines. */
  val q11PartConcentrationSql: String =
    """SELECT l_partkey,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
      |      (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS part_revenue
      |FROM lineitem
      |GROUP BY l_partkey
      |HAVING CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
      |    (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) >
      |  (SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
      |      (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
      |   FROM lineitem) * 0.00075
      |ORDER BY l_partkey""".stripMargin

  /** Q12 shape (shipping-speed vs priority matrix): the fact-fact join
    * graded into a derived dimension (ship latency class) with paired
    * conditional counts per class. Counts are exact BIGINTs; the class
    * boundaries are date interval comparisons — nothing can flip
    * between engines. (TPC-H Q12 uses l_shipmode/commit/receipt, which
    * this schema lacks; the latency classing keeps the shape: CASE
    * grading inside a fact join feeding count_if pairs.) */
  val q12ShipClassSql: String =
    """SELECT ship_class,
      |  CAST(count_if(o_orderpriority IN ('1-URGENT','2-HIGH')) AS BIGINT) AS high_count,
      |  CAST(count_if(o_orderpriority NOT IN ('1-URGENT','2-HIGH')) AS BIGINT) AS low_count
      |FROM (
      |  SELECT o_orderpriority,
      |    CASE WHEN l_shipdate > o_orderdate + INTERVAL 45 DAY THEN 'SLOW'
      |         WHEN l_shipdate > o_orderdate + INTERVAL 15 DAY THEN 'MEDIUM'
      |         ELSE 'FAST' END AS ship_class
      |  FROM orders, lineitem WHERE o_orderkey = l_orderkey) AS graded
      |GROUP BY ship_class
      |ORDER BY ship_class""".stripMargin

  /** Q13 shape (customer order-count distribution): the double-aggregate
    * histogram whose LEFT OUTER join carries a NON-KEY predicate inside
    * the ON clause — customers whose only orders fail the predicate must
    * survive with count 0, which an ON-vs-WHERE confusion silently
    * breaks. Both aggregate layers are exact BIGINT counts. */
  val q13OrderHistogramSql: String =
    """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
      |FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      |  GROUP BY c_custkey) AS c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** Q14 shape (promo revenue share): conditional-vs-total aggregate
    * ratio over a month-sliced fact⋈dim join — two exact DECIMAL sums,
    * each cast ONCE to double, one multiply, one division, rounded to
    * 6dp (the Q8 boundary discipline). The date slice must reach the
    * parquet scan as a pushed filter. */
  /** Q9 shape (product-type profit): 5-table star filtered by a part-name
    * pattern, profit per (supplier nation, order year). The reference
    * schema's `ps_supplycost` has no testdata table, so unit cost is
    * `p_retailprice` — same join/aggregation skeleton, same predicate
    * classes (LIKE on a dimension, multi-dim group). Amounts accumulate
    * as exact DECIMAL products (order-free) and cast to double once.
    * Plan: all four dimension joins broadcast against the fact scan;
    * the only fact shuffle is the (nation, year) two-phase aggregate. */
  val q9ProductProfitSql: String =
    """SELECT nation, o_year, round(CAST(sum(amount) AS DOUBLE), 2) AS sum_profit
      |FROM (
      |  SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |    CAST(l_extendedprice AS DECIMAL(18,4)) *
      |      (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) -
      |    CAST(p_retailprice AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(18,4))
      |      AS amount
      |  FROM lineitem, part, supplier, orders, nation
      |  WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
      |    AND l_orderkey = o_orderkey AND s_nationkey = n_nationkey
      |    AND p_name LIKE '%widget%'
      |) profit
      |GROUP BY nation, o_year
      |ORDER BY nation, o_year DESC""".stripMargin

  val q14PromoShareSql: String =
    """SELECT round(CAST(100 AS DOUBLE) *
      |    CAST(sum(CASE WHEN p_type = 'PROMO'
      |         THEN CAST(l_extendedprice AS DECIMAL(18,4)) *
      |              (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
      |         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
      |         (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE),
      |  6) AS promo_revenue
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey
      |  AND l_shipdate >= TIMESTAMP '1996-03-01'
      |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin

  /** Q19 shape (disjunctive bracket predicate): three OR'd conjunctive
    * brackets, each mixing BOTH join sides (brand/size from part,
    * quantity from lineitem) — the classic test that the optimizer
    * extracts the shared `p_partkey = l_partkey` equi-key and keeps the
    * disjunction as a filter instead of falling back to a nested-loop
    * join (plan-gated). Revenue is the exact DECIMAL sum cast once. */
  val q19DisjunctiveSql: String =
    """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
      |    (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
      |  CAST(count(*) AS BIGINT) AS n_lines
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey
      |  AND ((p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 15)
      |    OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 25)
      |    OR (p_brand = 'Brand#17' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 35))""".stripMargin

  /** Q10 shape (returned-item report): fact-side flag filter + a date
    * slice on the orders dim, three broadcast-sized dims, then a
    * revenue-ranked LIMIT. The order is total — revenue derives from an
    * exact DECIMAL sum (one DOUBLE cast at output, identical in both
    * engines) and ties break on the unique customer key — so the LIMIT
    * frontier cannot flip between engines. */
  val q10ReturnedItemsSql: String =
    """SELECT c_custkey, c_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
      |    (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
      |  round(CAST(CAST(c_acctbal AS DECIMAL(18,4)) AS DOUBLE), 6) AS acctbal,
      |  n_name
      |FROM customer, orders, lineitem, nation
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-07-01'
      |  AND l_returnflag = 'R'
      |  AND c_nationkey = n_nationkey
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey ASC
      |LIMIT 20""".stripMargin

  /** GROUPING SETS with NON-hierarchical sets — `(region)` and
    * `(priority)` side by side, which ROLLUP cannot express: one scan,
    * one Expand, two independent aggregate groupings. Group keys render
    * 'ALL' via COALESCE on the grouping nulls (neither source column is
    * nullable), counts exact, price the exact DECIMAL sum. */
  val groupingSetsSql: String =
    """SELECT COALESCE(r_name, 'ALL') AS region,
      |  COALESCE(o_orderpriority, 'ALL') AS priority,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 6) AS total_price
      |FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |GROUP BY GROUPING SETS ((r_name), (o_orderpriority))
      |ORDER BY region, priority""".stripMargin

  /** Q8 shape (market share): one supplier nation's share of a
    * region's PROMO-part volume per order year — an 8-table join fanned
    * into a conditional-aggregate ratio. Share = two exact DECIMAL sums
    * and ONE double division, so the boundary rule of the subquery
    * suite applies here too. */
  val q8MarketShareSql: String =
    """SELECT o_year,
      |  round(CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume
      |                      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
      |    / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
      |FROM (
      |  SELECT year(o_orderdate) AS o_year, n2.n_name AS nation,
      |    CAST(l_extendedprice AS DECIMAL(18,4)) *
      |      (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS volume
      |  FROM part, supplier, lineitem, orders, customer, nation n1, region,
      |    nation n2
      |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      |    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
      |    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
      |    AND s_nationkey = n2.n_nationkey
      |    AND r_name = 'ASIA' AND p_type = 'PROMO'
      |) all_nations
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin

  /** The custom Catalyst kernels driven through SQL TEXT — round 10
    * registered `codepoint_entropy` / `phrase_positions` /
    * `winnow_sketch` / `cosine_sim` on the SQL surface (live registry +
    * extensions injection, `functions/VectorExpressions.scala`) and
    * verified SQL ≡ Column-API bit-equality in ScalaTest; this query
    * puts that surface inside the DRIVER's correctness harness: the
    * entropy/phrase/cosine columns hash against a same-semantics DuckDB
    * oracle, and the winnow struct (seeded hashing — not SQL-
    * expressible) is null-safe-compared against the Column-API kernel
    * in the same frame, oracle literal-TRUE. A broken FunctionBuilder
    * (wrong literal extraction, swapped args) hash-mismatches here. */
  private val textKernelsSql =
    """SELECT doc_id, entropy_q, n_phrase, cos_next, txt,
      |  winnow_sketch(txt, 8, 4) AS ws_sql
      |FROM (
      |  SELECT d.doc_id,
      |    CAST(floor(codepoint_entropy(COALESCE(d.text, '')) * 1000000 + 0.5) AS BIGINT)
      |      AS entropy_q,
      |    CAST(size(phrase_positions(COALESCE(d.text, ''), 'table', 'hash')) AS BIGINT)
      |      AS n_phrase,
      |    round(cosine_sim(CAST(e1.embedding AS ARRAY<DOUBLE>),
      |      CAST(e2.embedding AS ARRAY<DOUBLE>)), 4) AS cos_next,
      |    regexp_replace(lower(trim(COALESCE(d.text, ''))), '\\s+', ' ') AS txt
      |  FROM documents d
      |  LEFT JOIN embeddings e1 ON e1.vec_id = d.doc_id AND e1.embedding IS NOT NULL
      |  LEFT JOIN embeddings e2 ON e2.vec_id = d.doc_id + 1 AND e2.embedding IS NOT NULL
      |)""".stripMargin

  private def sqlOnViews(sql: String, tables: String*): (SparkSession, String) => DataFrame =
    (s, dir) => {
      tables.foreach(t =>
        graft.sources.ChunkStore.table(s, dir, t).createOrReplaceTempView(t))
      s.sql(sql)
    }

  /** SEEDED-ROW CONTRACT for registered surfaces (round-14 form). Since
    * round 14 the seeded planted-mirror variants live ONLY under `_gate`
    * names (dup_groups_gate, media_near_dup_gate, boilerplate_lines_gate,
    * source_overlap_gate, gopher_quality_flags_gate): the `_gate` twin
    * runs over the corpus UNION deterministic planted rows so the
    * driver's per-round hash check exercises real grouping/joining
    * logic even at a scale with no natural duplicates — otherwise the
    * check would be 0-row-vacuous (the round-11 finding) — while the
    * PUBLIC name serves the corpus exactly as-is (and may legitimately
    * return zero rows at small SF; zero rows still hash-verify). A few
    * fixtures remain inline where the fixture IS the contract
    * (c4_line_filters' planted rule rows, the contamination tiers'
    * planted eval overlap) — their planted rows stay mechanically
    * identifiable by EITHER tag:
    *   - `source IN ('planted_mirror', 'planted_fixture')` where the
    *     source column survives the query, or
    *   - any doc_id ≥ 2⁴¹ (`Dedup.MirrorOffset` = `Curation
    *     .FixtureIdBase`) — all synthetic ids live above that base, and
    *     mirror provenance is recoverable as `doc_id − 2⁴¹`. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sql_star_join" -> ((s, dir) => {
      Seq("orders", "customer", "nation", "region").foreach(t =>
        graft.sources.ChunkStore.table(s, dir, t).createOrReplaceTempView(t))
      s.sql(portableSql)
    }),
    // correlated subqueries, decorrelated by Catalyst (plan-asserted)
    "sql_exists_agg" -> sqlOnViews(existsSql, "orders", "lineitem"),
    "sql_scalar_subquery" -> sqlOnViews(scalarSubquerySql, "lineitem", "part"),
    "sql_dormant_customers" -> sqlOnViews(dormantCustomersSql, "customer", "orders"),
    // disjunctive cross-dim predicate (Q7) / conditional-agg share (Q8)
    "sql_nation_volume" -> sqlOnViews(q7VolumeSql,
      "supplier", "lineitem", "orders", "customer", "nation"),
    "sql_market_share" -> sqlOnViews(q8MarketShareSql,
      "part", "supplier", "lineitem", "orders", "customer", "nation", "region"),
    // aggregated-CTE argmax (Q15) / semi over a HAVING'd aggregate (Q18)
    // / triple self-correlation with an outer-column predicate (Q21)
    // / grouped HAVING vs scalar total (Q11)
    "sql_top_supplier" -> sqlOnViews(q15TopSupplierSql, "supplier", "lineitem"),
    "sql_large_orders" -> sqlOnViews(q18LargeOrdersSql,
      "customer", "orders", "lineitem"),
    "sql_waiting_suppliers" -> sqlOnViews(q21WaitingSuppliersSql,
      "supplier", "lineitem", "orders"),
    "sql_part_concentration" -> sqlOnViews(q11PartConcentrationSql, "lineitem"),
    // non-hierarchical GROUPING SETS: (region) and (priority) in one
    // Expand — the grouping shape ROLLUP can't express
    "sql_grouping_sets" -> sqlOnViews(groupingSetsSql,
      "orders", "customer", "nation", "region"),
    // latency-class × priority matrix (Q12 shape) / outer-join count
    // histogram (Q13) / promo share (Q14) / disjunctive brackets (Q19)
    "sql_ship_priority_class" -> sqlOnViews(q12ShipClassSql, "orders", "lineitem"),
    "sql_order_count_histogram" -> sqlOnViews(q13OrderHistogramSql, "customer", "orders"),
    "sql_promo_revenue" -> sqlOnViews(q14PromoShareSql, "lineitem", "part"),
    // product-type profit by nation x year (Q9 shape): 4 broadcast dims
    "sql_product_profit" -> sqlOnViews(q9ProductProfitSql,
      "lineitem", "part", "supplier", "orders", "nation"),
    "sql_disjunctive_filter" -> sqlOnViews(q19DisjunctiveSql, "lineitem", "part"),
    // returned-item report (Q10): revenue-ranked LIMIT over a 4-table join
    "sql_returned_items" -> sqlOnViews(q10ReturnedItemsSql,
      "customer", "orders", "lineitem", "nation"),
    // the custom codegen kernels through SQL TEXT (live function
    // registry); winnow compared null-safe against the Column-API path
    "sql_text_kernels" -> ((s, dir) => {
      graft.functions.VectorFunctions.register(s)
      Seq("documents", "embeddings").foreach(t =>
        graft.sources.ChunkStore.table(s, dir, t).createOrReplaceTempView(t))
      s.sql(textKernelsSql)
        .withColumn("winnow_ok", col("ws_sql") <=>
          graft.functions.ScaleFunctions.winnow_sketch(col("txt"), 8, 4))
        .drop("ws_sql", "txt")
        .orderBy(col("doc_id"))
    }),
    // -- engine API surface ------------------------------------------------
    "methods_catalog" -> ((s, _) => {
      import s.implicits._
      Methods.reference.zipWithIndex
        .map { case (m, i) => ((i + 1).toLong, m) }
        .toDF("pos", "method").orderBy("pos")
    }),
    "sanitize_names" -> ((s, dir) => {
      graft.sources.Tables.events(s, dir)
        .select(col("event_type").as("element")).distinct()
        .withColumn("clean", regexp_replace(col("element"), "[^a-zA-Z0-9 ]", ""))
        .orderBy("element")
    }),
    // -- data access (searchElement analogue, R:23-40) ---------------------
    "series_obs" -> ((s, dir) =>
      SeriesStore.seriesDF(s, dir)
        .select(col("element"), col("step").cast("long").as("step"), col("value"))
        .orderBy("element", "step")),
    "series_prophet_df" -> ((s, dir) =>
      SeriesStore.prophetDF(s, dir).orderBy("element", "ds", "y")),
    // calendar densify + LOCF: the gap a positional clock cannot see
    "series_gapfill" -> ((s, dir) => SeriesStore.gapFilledDaily(s, dir)),
    // pre-modeling screening features: moments/trend/persistence per
    // element from exact decimal sums, one shuffle
    "series_features" -> ((s, dir) =>
      graft.engine.SeriesFeatures.seriesFeatures(s, dir)),
    // holdout backtest of the closed-form families — forecast, error,
    // and metric all re-derived by the oracle
    "fc_backtest_closed" -> ((s, dir) => graft.engine.Backtest.closedFormBacktest(s, dir)),
    // inverse-MAE weighted combination of the closed-form families —
    // backtest errors -> weights -> combined forecast, all hash-verified
    "fc_ensemble" -> ((s, dir) => graft.engine.Backtest.ensembleForecast(s, dir)),
    // split-conformal PIs around NAIVE, calibrated per horizon on the
    // realized |h-step errors| — distribution-free coverage, oracle
    // re-derives score ranks end to end
    "fc_conformal" -> ((s, dir) => graft.engine.Conformal.conformalNaive(s, dir)),
    // the conformal layer widened over the whole closed-form registry
    // (NAIVE/DRIFT/MEANF/SNAIVE/SES on the positional series, CROSTON/
    // SBA on the calendar demand series) — per-family prefix-forecast
    // scores, same rank rule, fully oracle-replayed
    "fc_conformal_all" -> ((s, dir) => graft.engine.Conformal.conformalAll(s, dir)),
    // rows-only: the conformal layer over the FIT families (ARIMA/ETS/
    // THETA) via rolling-origin refit backtest errors per horizon —
    // optimizer internals aren't SQL-expressible; coverage is gated in
    // CalibrationSpec, structure (nesting/finiteness/centers) in OpsSpec
    "fc_conformal_fit" -> ((s, dir) => graft.engine.Conformal.conformalFit(s, dir)),
    // the other SEVEN reference methods' conformal bands (rows-only —
    // optimizer internals aren't SQL; coverage is the hash-checked
    // gate below); shares the session-cached ten-method table
    "fc_conformal_ext" -> ((s, dir) => graft.engine.Conformal.conformalFitExt(s, dir)),
    // interleaved out-of-sample coverage of the 80/95% conformal bands
    // for ALL TEN reference methods, pooled over (element, step,
    // held-out origin) — literal-TRUE verdict oracle, so a calibration
    // regression fails the driver harness, not just sbt test
    "conformal_coverage_gates" -> ((s, dir) =>
      graft.engine.Conformal.conformalCoverageGates(s, dir)),
    // 2-level hierarchy: bottom-up sum of leaf DRIFT forecasts vs the
    // direct total DRIFT forecast + per-step coherence gap
    "fc_hierarchical" -> ((s, dir) => graft.engine.Conformal.hierarchicalDrift(s, dir)),
    // -- closed-form forecasts (oracle-checkable model pipeline) -----------
    "fc_naive" -> fcQuery(Methods.NAIVE),
    "fc_drift" -> fcQuery(Methods.DRIFT),
    "fc_meanf" -> fcQuery(Methods.MEANF),
    "fc_snaive" -> fcQuery(Methods.SNAIVE),
    "fc_ses" -> fcQuery(Methods.SES),
    // Croston intermittent-demand (extension family): calendar demand
    // series with exact-zero gap days, two literal SES recursions,
    // z/p forecast — the first fit family beyond the closed forms whose
    // whole recursion is DuckDB hash-verified
    "fc_croston" -> ((s, dir) => graft.models.Croston.forecast(s, dir)),
    // bias-corrected intermittent-demand variants (SBA/SBJ) beside the
    // classic ratio — one constant multiply over the same recursions
    "fc_croston_sba" -> ((s, dir) => graft.models.Croston.forecastVariants(s, dir)),
    // Teunter-Syntetos-Babai: demand-probability smoothing every period
    // (obsolescence decay), sizes on demand days only, forecast p·z —
    // the standard set's third member, recursion fully oracle-replayed
    "fc_croston_tsb" -> ((s, dir) => graft.models.Croston.forecastTsb(s, dir)),
    // Syntetos–Boylan ADI/CV² quadrants: every class decision an exact
    // cross-multiplication — routes series between Croston and the
    // continuous families
    "demand_classes" -> ((s, dir) =>
      graft.ops.EventAnalytics.demandClasses(s, dir)),
    // -- wrapper cache surface (R:104-124) ---------------------------------
    "fc_cached_slice" -> ((s, dir) => {
      import s.implicits._
      // The per-series wrapper exactly as the reference is called: train
      // SES at horizon 14 (branch (c) warms a 14-step cache, R:92-93),
      // then re-request horizon 7 — the result is the R:110 cache slice,
      // served from the store with no model math. The store persists for
      // the session exactly as the reference's RDS trees do (R:8-9), so
      // only the first invocation trains; later ones are pure branch-(a)
      // cache reads. The driver loop is the API's one-call-per-element
      // shape over the handful of event types, not a data path; the
      // per-element calls are independent, so they are submitted
      // concurrently (the shape of a real serving tier — Spark schedules
      // the overlapping tiny jobs across the idle cores).
      val eng = sliceEngine(s)
      val elements = graft.sources.Tables.events(s, dir)
        .select("event_type").distinct().as[String].collect().sorted
      // two raw names that collide after sanitization (R:43 gsub) would
      // silently serve one element's cache under the other's label —
      // refuse rather than mislabel
      val sanitized = elements.map(graft.engine.Names.sanitize)
      require(sanitized.distinct.length == sanitized.length,
        s"store-key collision after sanitization among: ${elements.mkString(", ")}")
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(
          Future.traverse(elements.toSeq) { name => Future {
            eng.forecast(name, dir, Methods.SES, Freq, H)
            eng.forecast(name, dir, Methods.SES, Freq, SliceH)
          }}, scala.concurrent.duration.Duration.Inf)
        .reduceOption(_.unionByName(_))
        .getOrElse(s.emptyDataset[graft.core.ForecastPoint].toDF())
        .select(col("element"), col("method"), col("step").cast("long").as("step"),
          r6("lower1"), r6("lower2"), r6("mean"), r6("upper1"), r6("upper2"))
        .orderBy("element", "step")
    }),
    "user_activity" -> ((s, dir) =>
      graft.sources.Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          round(avg(col("value")), 6).as("avg_value"))
        .orderBy(col("event_type"))),
    "sketch_aggregates" -> ((s, dir) =>
      // the at-scale forms of the exact aggregates above: HLL++ distinct
      // and KLL-style quantile sketches — constant memory per group,
      // mergeable partials (what survives a 100 TB groupBy). Sketch
      // internals aren't DuckDB-reproducible → rows-only check.
      graft.sources.Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
          round(element_at(percentile_approx(col("value"),
            array(lit(0.5), lit(0.99)), lit(10000)), 1), 6).as("p50_approx"),
          round(element_at(percentile_approx(col("value"),
            array(lit(0.5), lit(0.99)), lit(10000)), 2), 6).as("p99_approx"))
        .orderBy(col("event_type"))),
    "heavy_hitters" -> ((s, dir) => graft.ops.Sketches.heavyHitters(s, dir)),
    "value_quantiles" -> ((s, dir) =>
      // exact continuous quantiles (type-7 interpolation) — the same
      // aggregation family as the NN simulation-PI percentiles (R:293)
      graft.sources.Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(expr("percentile(value, array(0.5D, 0.9D, 0.99D))").as("qs"))
        .select(col("event_type"),
          round(col("qs").getItem(0), 6).as("p50"),
          round(col("qs").getItem(1), 6).as("p90"),
          round(col("qs").getItem(2), 6).as("p99"))
        .orderBy(col("event_type"))),
    // -- the reference's 10-method registry (R:6-7), distributed fits ------
    // (model-fitting math is not DuckDB-expressible → rows-only checks;
    //  numeric behavior is covered by ModelFamiliesSpec invariants)
    "fc_arima" -> fcQuery(Methods.ARIMA),
    "fc_arima_force_seasonality" -> fcQuery(Methods.ARIMA_FORCE_SEASONALITY),
    "fc_theta" -> fcQuery(Methods.THETA),
    "fc_ets" -> fcQuery(Methods.ETS),
    "fc_etsdamped" -> fcQuery(Methods.ETSDAMPED),
    "fc_baggedets" -> fcQuery(Methods.BAGGEDETS),
    "fc_stl" -> fcQuery(Methods.STL),
    "fc_nn" -> fcQuery(Methods.NN),
    "fc_hybrid" -> fcQuery(Methods.HYBRID),
    "fc_prophet" -> fcQuery(Methods.PROPHET),
    // component-only method surfaced as a first-class query (R:324's
    // hybrid includes tbats; standalone TBATS is an engine extension)
    "fc_tbats" -> fcQuery(Methods.TBATS),
    // verdict tripwire for the 11 rows-only fit families: short-slice
    // fits distilled to (metric, ok) rows vs a literal-TRUE oracle
    "fit_quality_gates" -> ((s, dir) =>
      graft.engine.FitGates.fitQualityGates(s, dir, Freq, H)),
    // -- relational surface (SURVEY.md §2.2 B-G) ---------------------------
    "q1_pricing" -> ((s, dir) => Relational.q1PricingSummary(s, dir)),
    "star_join_revenue" -> ((s, dir) => Relational.starJoinRevenue(s, dir)),
    "top_orders" -> ((s, dir) => Relational.topOrders(s, dir)),
    "running_daily_revenue" -> ((s, dir) => Relational.runningDailyRevenue(s, dir)),
    "customer_order_coverage" -> ((s, dir) => Relational.customerOrderCoverage(s, dir)),
    "user_set_ops" -> ((s, dir) => Relational.userSetOps(s, dir)),
    "props_extract" -> ((s, dir) => Relational.propsExtract(s, dir)),
    "revenue_rollup" -> ((s, dir) => Relational.revenueRollup(s, dir)),
    "sliding_7d_revenue" -> ((s, dir) => Relational.sliding7dRevenue(s, dir)),
    // -- dedup / text analysis (north-star extensions, SURVEY.md §2.3) -----
    "dedup_exact" -> ((s, dir) => Dedup.exact(s, dir)),
    "dedup_fingerprint" -> ((s, dir) => Dedup.exactByFingerprint(s, dir)),
    // over the seeded corpus (Dedup.seededDocs): the sf0.01 slice has
    // no natural exact duplicates, so the raw query hash-matched an
    // empty result — planted mirrors make the gate exercise real groups
    // round-14 name split (verdict ask #5): PUBLIC names serve the
    // corpus as-is; the seeded planted-mirror variants own the `_gate`
    // names, keeping the driver's hash checks non-vacuous without
    // seeded rows in any production surface
    "dup_groups" -> ((s, dir) => Dedup.duplicateGroups(s, dir)),
    "dup_groups_gate" -> ((s, dir) => Dedup.duplicateGroupsSeeded(s, dir)),
    "cross_source_dups" -> ((s, dir) => Dedup.crossSourceDupMatrix(s, dir)),
    "dup_clusters" -> ((s, dir) => Dedup.dupClusters(s, dir)),
    "curate_corpus" -> ((s, dir) => Dedup.curateCorpus(s, dir)),
    "text_stats" -> ((s, dir) => TextAnalysis.textStats(s, dir)),
    "token_counts" -> ((s, dir) => TextAnalysis.tokenCounts(s, dir)),
    "quality_score" -> ((s, dir) => TextAnalysis.qualityScore(s, dir)),
    "encoding_quality" -> ((s, dir) => TextAnalysis.encodingQuality(s, dir)),
    "term_zipf" -> ((s, dir) => TextAnalysis.termZipf(s, dir)),
    // distilled bag-of-words LR screen; held-out AUC gated in OpsSpec
    "quality_model_scores" -> ((s, dir) => QualityModel.modelScores(s, dir)),
    "lang_id" -> ((s, dir) => TextAnalysis.langId(s, dir)),
    "lang_mismatch" -> ((s, dir) => TextAnalysis.langMismatch(s, dir)),
    "vocab_oov_rate" -> ((s, dir) => TextAnalysis.vocabOovRate(s, dir)),
    "doc_fingerprints" -> ((s, dir) => TextAnalysis.fingerprints(s, dir)),
    "winnow_fingerprints" -> ((s, dir) => TextAnalysis.winnowFingerprints(s, dir)),
    // winnow consumer: df-capped sketch-slot join → substring-overlap pairs
    "winnow_overlap" -> ((s, dir) => TextAnalysis.winnowOverlap(s, dir)),
    // self-corpus bigram-LM perplexity (CCNet-style quality signal)
    "doc_perplexity" -> ((s, dir) => TextAnalysis.docPerplexity(s, dir)),
    // RAG/training chunking: 64-token windows, 16-token overlap
    "doc_chunks" -> ((s, dir) => TextAnalysis.docChunks(s, dir)),
    "tfidf_top_terms" -> ((s, dir) => TextAnalysis.tfidfTopTerms(s, dir)),
    // lexical retrieval tier next to the vector tier: BM25 top-k,
    // served from the persisted postings index (round 17)
    "bm25_search" -> ((s, dir) => TextAnalysis.bm25Search(s, dir)),
    // the index-native entry (a second term set exercises different
    // postings buckets than bm25_search's default)
    "text_search" -> ((s, dir) =>
      graft.ops.Lexical.searchText(s, dir, Seq("data", "table", "hash"), 20)),
    // one-row health card of the postings store (df/posting/stats
    // cardinalities — hash-checked against a DuckDB corpus recompute)
    "lex_index_stats" -> ((s, dir) => graft.ops.Lexical.lexIndexStats(s, dir)),
    // lexical store lifecycle verdicts (append/rebuild identity,
    // rewrite refusal, stats honesty) — literal-TRUE oracle
    "lex_index_lifecycle_gates" -> ((s, dir) =>
      graft.ops.Lexical.lexLifecycleGates(s, dir)),
    // phrase search served from the PERSISTED positional postings —
    // the standing-query tier beside phrase_search's ad-hoc scan;
    // whitespace tokens (the index's tokenizer), fully hashed
    "phrase_search_indexed" -> ((s, dir) =>
      graft.ops.Lexical.searchPhrase(s, dir)),
    // k-term phrase from the same positional index (round 18): three
    // pruned single-term reads chained on doc_id, ONE codegen'd
    // sorted-merge positional intersection — fully hashed
    "phrase_search_kterm" -> ((s, dir) =>
      graft.ops.Lexical.searchPhraseK(s, dir, Seq("stream", "table", "hash"))),
    // BATCHED lexical serving (round 17): three queries share one
    // pruned postings scan — fully hashed (BM25 is deterministic)
    "text_search_batch" -> ((s, dir) =>
      graft.ops.Lexical.searchTextBatch(s, dir, Seq(
        Seq("spark", "join", "query"),
        Seq("data", "table", "hash"),
        Seq("stream", "filter", "sort")), 10)),
    "pii_scan" -> ((s, dir) => TextAnalysis.piiScan(s, dir)),
    // -- near-dup / similarity / multimodal / as-of (north-star §2.3) ------
    "ngram_jaccard" -> ((s, dir) => NearDup.blockedJaccard(s, dir)),
    // phrase-level near-dup: word-BIGRAM shingles at 0.9 — order-aware,
    // so shuffled-word documents that tie on token sets separate here
    "bigram_jaccard" -> ((s, dir) => NearDup.blockedJaccard(s, dir, 0.9, ngram = 2)),
    // typo-tolerant fixed-width key match: exact Hamming<=2 pairs via
    // pigeonhole chunk equi-join (recall 1 by construction, no cap)
    "fuzzy_key_pairs" -> ((s, dir) => NearDup.fuzzyKeyPairs(s, dir)),
    // exact repeated-span pass (Lee et al.-style): maximal >=16-token
    // verbatim spans shared across documents, with positions
    "substring_dedup" -> ((s, dir) => NearDup.substringSpans(s, dir)),
    // sorted-neighborhood blocking (the third family beside hash
    // blocks and LSH bands): one global sort, O(n·w) candidates,
    // two-bucket banded equi-join pair formation
    "snm_candidates" -> ((s, dir) => NearDup.sortedNeighborhoodPairs(s, dir)),
    // its consumer — the drop decision: per-doc tokens covered by spans
    // shared with lower-id docs, overlap-merged (the removal measure)
    "substring_dup_coverage" -> ((s, dir) => NearDup.substringDupCoverage(s, dir)),
    // incremental (batch-vs-base) dedup: exact tier + blocked-Jaccard
    // near tier, verdict per arriving doc — the daily-crawl pattern
    "dedup_increment" -> ((s, dir) => Dedup.dedupIncrement(s, dir)),
    "minhash_candidates" -> ((s, dir) => NearDup.minhashCandidates(s, dir)),
    "simhash_signatures" -> ((s, dir) => NearDup.simhash(s, dir)),
    // simhash consumer: 4x16-bit banded join + exact hamming<=3 filter
    "simhash_hamming_pairs" -> ((s, dir) => NearDup.simhashHammingPairs(s, dir)),
    "embedding_near_dup" -> ((s, dir) => NearDup.embeddingNearDup(s, dir)),
    // SemDeDup: one representative per embedding-cosine component
    "semantic_dedup" -> ((s, dir) => Dedup.semanticDedup(s, dir)),
    // its 100 TB path: pair scan blocked by the cached KMeans cell
    "semantic_dedup_ivf" -> ((s, dir) => Dedup.semanticDedupIvf(s, dir)),
    // INCREMENTAL semantic dedup (round 17): the incoming batch
    // (vec_id % 7 == 0, dedup_increment's split) against the curated
    // base — cross-split direct edges only, fully hashed
    "semantic_dedup_increment" -> ((s, dir) => Dedup.semanticDedupIncrement(s, dir)),
    // rows-only (seeded KMeans): the batch probes the existing cells —
    // the append-time ingest decision at index-maintenance cost
    "semantic_dedup_increment_ivf" -> ((s, dir) => Dedup.semanticDedupIncrementIvf(s, dir)),
    // IVF-vs-exact keep-set agreement >= 0.9 on the incoming batch
    "semantic_increment_gate" -> ((s, dir) => Dedup.semanticIncrementGate(s, dir)),
    "cosine_topk" -> ((s, dir) => Similarity.cosineTopK(s, dir)),
    // predicate-constrained exact search: top-k among vectors WHERE
    // label = 3 — the oracle-able reference the filtered IVF tier's
    // recall gate measures against (round 15)
    "cosine_topk_filtered" -> ((s, dir) => Similarity.cosineTopKFiltered(s, dir)),
    // rows-only (seeded KMeans): filtered search over the persisted
    // inverted lists — pool predicate pushed ahead of the list explode,
    // selectivity-adaptive probe width keeps k filled; recall gated
    // >= 0.9 vs the exact filtered tier in ann_recall_gates
    "ann_ivf_topk_filtered" -> ((s, dir) => Similarity.ivfTopKFiltered(s, dir)),
    // rows-only: filtered search over the COMPRESSED store — the
    // filtered candidate rules composed with the PQ two-pass scoring
    // (first pass reads int8 reconstructions; only the per-query
    // shortlist touches float vectors); recall gated >= 0.9 vs the
    // exact filtered tier in ann_recall_gates
    "ann_ivf_pq_topk_filtered" -> ((s, dir) => Similarity.ivfPqTopKFiltered(s, dir)),
    // rows-only: the online SERVING shape — one query vector (vec_id
    // 0's embedding, the hybrid_search convention) against the
    // persisted index, reading ONLY the probed cells' directories
    // (PartitionFilters plan-gated); exact rerank, TakeOrdered top-k
    "ann_query_search" -> ((s, dir) => {
      val qv = graft.sources.ChunkStore.table(s, dir, "embeddings")
        .filter(col("vec_id") === 0L && col("embedding").isNotNull)
        .select(transform(col("embedding"), x => x.cast("double")).as("v"))
        .collect().headOption.map(_.getSeq[Double](0).toArray)
      qv match {
        case Some(v) => Similarity.searchVector(s, dir, v)
        case None =>
          import s.implicits._
          Seq.empty[(Long, Long, Double)].toDF("rank", "vec_id", "sim")
      }
    }),
    // rows-only: MMR diversity re-rank of the serving path — fetch 4k
    // candidates from the index, greedily pick k maximizing relevance
    // minus max-similarity-to-already-picked (lambda = 0.5); the
    // retrieval-augmented consumer's answer to duplicate shells
    // BATCHED serving (round 17): the first three corpus vectors as
    // one request — one pruned scan over the union of probed cells;
    // rows-only (seeded KMeans), parity with the loop hash-gated by
    // ann_serving_batch_gate
    "ann_query_search_batch" -> ((s, dir) => {
      val qs = graft.sources.ChunkStore.table(s, dir, "embeddings")
        .filter(col("vec_id") < 3L && col("embedding").isNotNull)
        .orderBy(col("vec_id"))
        .select(transform(col("embedding"), x => x.cast("double")).as("v"))
        .collect().map(_.getSeq[Double](0).toArray).toSeq
      Similarity.searchVectors(s, dir, qs)
    }),
    // batched == looped, bit for bit, on a deterministic query sample
    "ann_serving_batch_gate" -> ((s, dir) => Similarity.servingBatchGate(s, dir)),
    // ONLINE hybrid serving (round 17): one request composing BOTH
    // persisted indexes — lexical candidates from the postings store,
    // vector candidates from the inverted lists, RRF-fused over the
    // two bounded lists; rows-only (the vector leg is seeded KMeans)
    "ann_query_search_hybrid" -> ((s, dir) => {
      val qv = graft.sources.ChunkStore.table(s, dir, "embeddings")
        .filter(col("vec_id") === 0L && col("embedding").isNotNull)
        .select(transform(col("embedding"), x => x.cast("double")).as("v"))
        .collect().headOption.map(_.getSeq[Double](0).toArray)
      qv match {
        case Some(v) =>
          Similarity.searchHybrid(s, dir, Seq("spark", "join", "query"), v)
        case None =>
          import s.implicits._
          Seq.empty[(Long, Option[Long], Option[Long], Double)]
            .toDF("doc_id", "r_lex", "r_vec", "rrf")
      }
    }),
    // batched hybrid twin (round 18): the batch's lexical legs share
    // one pruned postings scan, its vector legs one pruned cells scan;
    // per-query rows bit-identical to the looped searchHybrid (spec-
    // pinned); rows-only (the vector leg is seeded KMeans)
    "ann_query_search_hybrid_batch" -> ((s, dir) => {
      val qvs = graft.sources.ChunkStore.table(s, dir, "embeddings")
        .filter(col("vec_id") < 3L && col("embedding").isNotNull)
        .orderBy(col("vec_id"))
        .select(transform(col("embedding"), x => x.cast("double")).as("v"))
        .collect().map(_.getSeq[Double](0).toArray).toSeq
      if (qvs.isEmpty) {
        import s.implicits._
        Seq.empty[(Long, Long, Option[Long], Option[Long], Double)]
          .toDF("query_id", "doc_id", "r_lex", "r_vec", "rrf")
      } else {
        val terms = Seq(Seq("spark", "join", "query"),
          Seq("data", "table", "hash"), Seq("stream", "filter", "sort"))
        Similarity.searchHybridBatch(s, dir,
          qvs.zipWithIndex.map { case (v, i) => (terms(i % 3), v) })
      }
    }),
    "ann_query_search_mmr" -> ((s, dir) => {
      val qv = graft.sources.ChunkStore.table(s, dir, "embeddings")
        .filter(col("vec_id") === 0L && col("embedding").isNotNull)
        .select(transform(col("embedding"), x => x.cast("double")).as("v"))
        .collect().headOption.map(_.getSeq[Double](0).toArray)
      qv match {
        case Some(v) => Similarity.searchVectorMmr(s, dir, v)
        case None =>
          import s.implicits._
          Seq.empty[(Long, Long, Double, Double)].toDF("rank", "vec_id", "sim", "mmr")
      }
    }),
    // contrastive-training consumer: per-anchor top-k SEMI-HARD
    // negatives — cosine in [0.15, 0.40): informative but below the
    // semantic near-dup threshold; ranked hardest-first
    "hard_negatives" -> ((s, dir) => Similarity.hardNegatives(s, dir)),
    // rows-only (seeded KMeans): the 100 TB cell-blocked path for the
    // band miner; per-anchor agreement vs the exact tier gated >= 0.9
    // at BOTH scales in OpsSpec (measured 0.9948 / 0.9201)
    "hard_negatives_ivf" -> ((s, dir) => Similarity.hardNegativesIvf(s, dir)),
    "hybrid_search" -> ((s, dir) => Similarity.hybridSearch(s, dir)),
    // IR-metric evaluation of the exact retrieval tier (nDCG@5 / MRR /
    // P@5 with label-match relevance) — exact BIGINT DCG weights, one
    // IEEE division per output number, fully oracle-checked
    "retrieval_quality" -> ((s, dir) => Similarity.retrievalQuality(s, dir)),
    "retrieval_quality_ivf" -> ((s, dir) => Similarity.retrievalQualityIvf(s, dir)),
    "ivf_index_health" -> ((s, dir) => Similarity.ivfIndexHealth(s, dir)),
    // banded-tier twin (round 17): dead-row pressure, live salt-group
    // cap, table completeness — the signals the LSH compaction verb
    // and ensure-time auto-fold act on
    "lsh_index_health" -> ((s, dir) => Similarity.lshIndexHealth(s, dir)),
    // lexical-store drift monitor (round 18): dead-row pressure, layout
    // version, stats honesty — the tier-parity twin of the two above
    "lex_index_health" -> ((s, dir) => graft.ops.Lexical.lexIndexHealth(s, dir)),
    // the serving-path pool-cardinality metadata (round 16): live label
    // counts persisted beside the index — searchVector's filtered probe
    // widening reads THIS instead of running a count job per request;
    // fully hashed (no deletes on the default generation)
    "ann_index_label_stats" -> ((s, dir) => Similarity.indexLabelStats(s, dir)),
    // the SECOND stats-backed filter column (round 17): per-language
    // live counts from _attr_stats_lang — proves the serving-stats
    // mechanism is per-column, not label-shaped
    "ann_index_lang_stats" -> ((s, dir) => Similarity.indexLangStats(s, dir)),
    "label_knn_accuracy" -> ((s, dir) => Similarity.labelKnnAccuracy(s, dir)),
    // rows-only: driver eigensolve on the d×d Gram partials;
    // planted-anisotropy fixture gates
    "embedding_spectrum" -> ((s, dir) => Similarity.embeddingSpectrum(s, dir)),
    "ann_lsh_topk" -> ((s, dir) => Similarity.lshTopK(s, dir)),
    "ann_ivf_topk" -> ((s, dir) => Similarity.ivfTopK(s, dir)),
    // ADC over the int8 residual code store + exact rerank — the search
    // consumer of ivf_residual_quantize's compressed representation
    "ann_ivf_pq_topk" -> ((s, dir) => Similarity.ivfPqTopK(s, dir)),
    // recall verdicts for the approximate paths, hash-checked vs TRUE
    "ann_recall_gates" -> ((s, dir) => Similarity.recallGates(s, dir)),
    // the DELETE leg of the index lifecycle, driver-hashed (round 15):
    // tombstone -> serve -> compact -> append on a DEDICATED index
    // generation; literal-TRUE oracle on 7 verdict rows (round 16 adds
    // the LSH-side deleted_never_served — every read path anti-joins —
    // and lsh_append_noop, the LSH twin of append_cannot_resurrect)
    "ann_index_lifecycle_gates" -> ((s, dir) => Similarity.indexLifecycleGates(s, dir)),
    // radius query — every neighbor with cosine >= 0.2 for a 1-in-50
    // query sample: the dedup-shaped search where the RESULT SIZE is
    // radius-driven (top-k under-reports dense duplicate shells);
    // exact tier, fully DuckDB-hashed (round 15)
    "cosine_range_search" -> ((s, dir) => Similarity.cosineRangeSearch(s, dir)),
    // rows-only (seeded KMeans): the cell-blocked radius scan — exact
    // filter on multiprobe candidates (precision 1 by construction);
    // shell recall vs the exact tier gated >= 0.9 in ann_recall_gates
    "ann_ivf_range" -> ((s, dir) => Similarity.ivfRangeSearch(s, dir)),
    // verdict tripwires for the sketch/streaming/spectral/model-based
    // rows-only surface (HLL, MG, streaming PSI, S-H-ESD, AUC, IVF
    // agreement, whitening identities, perceptual media twins)
    "sketch_stream_gates" -> ((s, dir) =>
      graft.ops.SketchStreamGates.gates(s, dir)),
    // plan-SHAPE tripwire: pushdown/broadcast/zero-Exchange/no-cartesian
    // verdicts over the registered queries' physical plans
    "plan_gates" -> ((s, dir) => graft.ops.PlanGates.planGates(s, dir)),
    "stl_decompose" -> ((s, dir) => {
      import s.implicits._
      graft.sources.SeriesStore.series(s, dir).flatMap { ser =>
        val dec = graft.models.Stl.decompose(ser.values, Freq)
        ser.values.indices.map(i => (ser.element, (i + 1).toLong,
          dec.trend(i), dec.seasonal(i), dec.remainder(i)))
      }.toDF("element", "step", "trend", "seasonal", "remainder")
        .select(col("element"), col("step"), r6("trend"), r6("seasonal"), r6("remainder"))
        .orderBy("element", "step")
    }),
    "stl_recompose" -> ((s, dir) => {
      // partial oracle for the STL path: trend + seasonal + remainder
      // must recompose the input series (the additivity identity is
      // SQL-checkable even though LOESS itself is not) — the oracle
      // reads the RAW observations, so a drifted trend or misaligned
      // seasonal hash-mismatches here even while stl_decompose stays
      // rows-only. 4dp absorbs float re-association in the sum.
      import s.implicits._
      graft.sources.SeriesStore.series(s, dir).flatMap { ser =>
        val dec = graft.models.Stl.decompose(ser.values, Freq)
        ser.values.indices.map(i => (ser.element, (i + 1).toLong,
          dec.trend(i) + dec.seasonal(i) + dec.remainder(i)))
      }.toDF("element", "step", "y_rec")
        .select(col("element"), col("step"), round(col("y_rec"), 4).as("y_rec"))
        .orderBy("element", "step")
    }),
    "sketch_bounds" -> ((s, dir) =>
      // partial oracle for the sketch aggregates: each group's HLL++
      // distinct estimate and KLL-style quantile estimates are compared
      // to the EXACT aggregates inside one plan, and only the bound
      // verdicts are emitted — the oracle expects every bound to hold,
      // so a degraded sketch hash-mismatches while sketch_aggregates
      // itself stays rows-only (internals aren't SQL-reproducible).
      graft.sources.Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          approx_count_distinct(col("user_id"), 0.01).as("au"),
          countDistinct(col("user_id")).as("eu"),
          element_at(percentile_approx(col("value"),
            array(lit(0.5), lit(0.99)), lit(10000)), 1).as("p50a"),
          element_at(percentile_approx(col("value"),
            array(lit(0.5), lit(0.99)), lit(10000)), 2).as("p99a"),
          expr("percentile(value, array(0.45D, 0.55D, 0.98D))").as("qs"),
          max(col("value")).as("vmax"))
        .select(col("event_type"),
          (abs(col("au") - col("eu")) <= col("eu") * 0.05).as("users_ok"),
          (col("p50a") >= col("qs").getItem(0) && col("p50a") <= col("qs").getItem(1)).as("p50_ok"),
          (col("p99a") >= col("qs").getItem(2) && col("p99a") <= col("vmax")).as("p99_ok"))
        .orderBy(col("event_type"))),
    "embedding_stats" -> ((s, dir) => Similarity.embeddingStats(s, dir)),
    // centroid-distance z-score outlier screen (cached quantizer)
    "embedding_outliers" -> ((s, dir) => Similarity.embeddingOutliers(s, dir)),
    "embedding_quantize" -> ((s, dir) => Similarity.quantizeStats(s, dir)),
    "ivf_residual_quantize" -> ((s, dir) => Similarity.residualQuantizeStats(s, dir)),
    "media_features" -> ((s, dir) => Multimodal.mediaFeatures(s, dir)),
    // letterbox-resize plan (integer-exact) and uniform frame sampling
    "media_resize" -> ((s, dir) => Multimodal.mediaResize(s, dir)),
    "media_frame_sample" -> ((s, dir) => Multimodal.frameSample(s, dir)),
    // perceptual dedup: dHash over the stub luma grid + banded hamming
    // join — integer-exact, so the whole pipeline is oracle-verified
    // seeded corpus: mirrored payloads land at hamming 0, so the gate
    // checks the dHash pipeline on real pairs at every check scale
    "media_near_dup" -> ((s, dir) => Multimodal.mediaNearDup(s, dir)),
    "media_near_dup_gate" -> ((s, dir) => Multimodal.mediaNearDupSeeded(s, dir)),
    // REAL image decode (round-13): binary-file source → javax.imageio
    // → block-mean luma grid → dHash, on the deterministic PNG fixture
    // store. Rows-only (PNG internals aren't SQL)...
    "media_real_features" -> ((s, dir) => graft.ops.MediaDecode.mediaRealFeatures(s, dir)),
    // ...with the whole real-bytes pipeline pinned by literal-TRUE
    // verdict rows: decoded dims/grids equal the generator arithmetic,
    // planted re-encoded dups land at hamming 0, and the banded join
    // EQUALS a local brute-force over expected signatures
    "media_decode_gates" -> ((s, dir) => graft.ops.MediaDecode.mediaDecodeGates(s, dir)),
    "asof_daily_value" -> ((s, dir) => Relational.asofDailySpine(s, dir)),
    // fact-to-fact join + selective broadcast dim, top-k via
    // TakeOrderedAndProject (Q3 shape)
    "shipping_priority" -> ((s, dir) => Relational.shippingPriority(s, dir)),
    // 6-table join with the non-hierarchical c_nation = s_nation edge
    // (Q5 shape)
    "local_supplier_volume" -> ((s, dir) => Relational.localSupplierVolume(s, dir)),
    // orders⋈lineitem over co-bucketed mirrors: SMJ + per-order agg with
    // ZERO Exchange nodes (plan-asserted) — the layout-for-scale tier
    "bucketed_join_revenue" -> ((s, dir) => Relational.bucketedJoinRevenue(s, dir)),
    // PIVOT (Expand-backed wide reshape), enumerated pivot domain
    "revenue_year_pivot" -> ((s, dir) => Relational.revenueByYearPivot(s, dir)),
    "revenue_unpivot" -> ((s, dir) => Relational.revenueYearUnpivot(s, dir)),
    "open_orders_daily" -> ((s, dir) => Relational.openOrdersDaily(s, dir)),
    "rfm_segments" -> ((s, dir) => Relational.rfmSegments(s, dir)),
    // per-group top-k: rank window inside the group partition only
    "top_orders_per_segment" -> ((s, dir) => Relational.topOrdersPerSegment(s, dir)),
    // exact global ntile(10) WITHOUT a single-task window: range
    // partition + per-partition offsets; ntile split rule in closed form
    "order_value_deciles" -> ((s, dir) => Relational.orderValueDeciles(s, dir)),
    // native session_window sessionization, integer-microsecond clock
    "user_sessions" -> ((s, dir) => Relational.userSessions(s, dir)),
    // interval-overlap aggregation WITHOUT an interval join: difference
    // array (+1/-1 per session) + one prefix sum over the hour axis
    "session_concurrency" -> ((s, dir) => graft.ops.EventAnalytics.sessionConcurrency(s, dir)),
    // last-click attribution via a BANDED time join (clicks registered
    // in two hour-buckets, purchases probe one) — never a range join;
    // streaming twin = watermarked stream-stream join, pair-parity-tested
    "click_attribution" -> ((s, dir) => graft.ops.EventAnalytics.clickAttribution(s, dir)),
    "linear_attribution" -> ((s, dir) => graft.ops.EventAnalytics.linearAttribution(s, dir)),
    "weekday_profile" -> ((s, dir) => graft.ops.EventAnalytics.weekdayProfile(s, dir)),
    // -- event analytics: retention, funnel, rolling actives ---------------
    "user_retention" -> ((s, dir) => graft.ops.EventAnalytics.userRetention(s, dir)),
    "event_funnel" -> ((s, dir) => graft.ops.EventAnalytics.eventFunnel(s, dir)),
    "rolling_active_users" -> ((s, dir) => graft.ops.EventAnalytics.rollingActiveUsers(s, dir)),
    // batch twin of the flatMapGroupsWithState streaming detector — the
    // same scoreStep kernel, oracle = a DuckDB recursive CTE mirroring
    // the recursion's operation order literally
    "ewma_anomalies" -> ((s, dir) => graft.ops.EventAnalytics.ewmaAnomalies(s, dir)),
    // Page's CUSUM over daily means: exact-sum reference window, fixed
    // IEEE op sequence, linear-scan recursion (see cusumShifts scaladoc)
    "cusum_shifts" -> ((s, dir) => graft.ops.EventAnalytics.cusumShifts(s, dir)),
    // rows-only: STL + iterative robust ESD; planted-spike fixture gates
    "shesd_anomalies" -> ((s, dir) => graft.ops.EventAnalytics.shEsdAnomalies(s, dir)),
    "value_psi" -> ((s, dir) => graft.ops.EventAnalytics.valuePsi(s, dir)),
    // chi-square homogeneity of the event-type mix between span halves —
    // the categorical drift test; Wilson–Hilferty closed-form verdict
    "chi2_drift" -> ((s, dir) => graft.ops.EventAnalytics.chi2Drift(s, dir)),
    // exact two-sample KS over span halves — the binning-free confirm
    // step for elements the PSI screen flags
    "ks_drift" -> ((s, dir) => graft.ops.EventAnalytics.ksDrift(s, dir)),
    // tie-corrected Mann-Whitney rank-sum over span halves — the
    // location-shift verdict on the same collapsed-counts shuffle
    "rank_drift" -> ((s, dir) => graft.ops.EventAnalytics.rankDrift(s, dir)),
    // LIVE drift: per-micro-batch PSI vs a frozen first-half reference;
    // single-pass replay equals batch value_psi bit-for-bit (OpsSpec)
    "stream_drift" -> ((s, dir) =>
      graft.streaming.EventIngest.driftMonitorAvailableNow(s, dir)),
    // one-day slice off the time-sorted mirror: answer is layout-free
    // (oracle scans the raw table), the row-group pruning is plan-pinned
    "events_day_slice" -> ((s, dir) => graft.ops.EventAnalytics.eventsDaySlice(s, dir)),
    // one-user slice off the Z-ORDERED mirror: Morton-interleaved
    // (day, user) layout prunes row groups on EITHER dimension
    "events_user_slice" -> ((s, dir) => graft.ops.EventAnalytics.eventsUserSlice(s, dir)),
    // -- dataset assembly: splits, decontamination, repetition, mixture ----
    "corpus_split" -> ((s, dir) => Curation.corpusSplit(s, dir)),
    "corpus_shard_plan" -> ((s, dir) => Curation.corpusShardPlan(s, dir)),
    "split_leakage" -> ((s, dir) => Curation.splitLeakage(s, dir)),
    // substring-level decontamination: cross-split winnow-sketch pairs
    "split_substring_leakage" -> ((s, dir) => Curation.splitSubstringLeakage(s, dir)),
    // benchmark decontamination: verbatim 13-gram overlap against the
    // (broadcast) eval set; source docs are planted ground truth
    "eval_contamination" -> ((s, dir) => Curation.evalContamination(s, dir)),
    // ingestion-order freshness: share of a doc's distinct 8-grams
    // first seen in that doc (verbatim dup = 0, fresh doc = 1)
    "ngram_novelty" -> ((s, dir) => Curation.ngramNovelty(s, dir)),
    // CCNet/RefinedWeb line-level dedup family: corpus-global
    // normalized lines in >= 2 distinct docs (site-chrome census) ...
    // seeded corpus: every mirrored doc's lines reach 2 distinct docs
    "boilerplate_lines" -> ((s, dir) => Curation.boilerplateLines(s, dir)),
    "boilerplate_lines_gate" -> ((s, dir) => Curation.boilerplateLinesSeeded(s, dir)),
    // ... and the cleaning pass: drop those lines, re-join each doc's
    // surviving raw lines in original order
    "line_dedup_clean" -> ((s, dir) => Curation.lineDedupClean(s, dir)),
    // piiScan's cleaning counterpart: <EMAIL>/<URL>/<NUM> rewrite with
    // contract-fixed replacement order (emails -> urls -> digit runs)
    "pii_redact" -> ((s, dir) => TextAnalysis.piiRedact(s, dir)),
    // Gopher Rules (Rae et al. 2021 A1.1): word-count / mean-word-
    // length / symbol-ratio / alpha-fraction / stopword-hit battery;
    // pure map stage; one planted all-rules-pass doc keeps the flag
    // branch non-vacuous on the synthetic vocabulary
    "gopher_quality_flags" -> ((s, dir) => Curation.gopherQualityFlags(s, dir)),
    "gopher_quality_flags_gate" -> ((s, dir) => Curation.gopherQualityFlagsSeeded(s, dir)),
    // C4 line rules (Raffel et al. 2020 2.2): first-failing-rule
    // classification (badword > brace > short > no terminal punct),
    // keep = >= 3 surviving lines; planted line fixture covers every
    // branch the single-line punctuation-free corpus cannot
    "c4_line_filters" -> ((s, dir) => Curation.c4LineFilters(s, dir)),
    // Gopher repetition battery: dup-line fraction/chars + the max
    // character coverage of any word {2,3,4}-gram (max COVERAGE, never
    // the arg-max gram, so ties are harmless cross-engine), flags at
    // the published ceilings
    "gopher_repetition_flags" -> ((s, dir) => Curation.gopherRepetitionFlags(s, dir)),
    // rows-only: minhash tier; planted-near-copy fixture is the gate
    "eval_contamination_fuzzy" -> ((s, dir) => Curation.evalContaminationFuzzy(s, dir)),
    // quality-weighted coin flip: content-hash unit < quality·2^32 —
    // deterministic, map-side, split-independent (md5 chars 9-16)
    "quality_resample" -> ((s, dir) => Curation.qualityResample(s, dir)),
    "repetition_stats" -> ((s, dir) => Curation.repetitionStats(s, dir)),
    "corpus_mixture" -> ((s, dir) => Curation.corpusMixture(s, dir)),
    // exact n-per-stratum md5-ranked draw; salted two-phase top-n so no
    // task ever sorts a whole stratum (oracle = the naive global rank)
    "stratified_sample" -> ((s, dir) => Curation.stratifiedSample(s, dir)),
    // batch-vs-base mixture drift report (the dedup_increment split)
    "corpus_drift" -> ((s, dir) => Curation.corpusDrift(s, dir)),
    // temperature-flattened mixture weights (alpha = 0.5 => sqrt, the
    // IEEE-exact choice); decimal-quantized normalizer
    "corpus_temperature_mix" -> ((s, dir) => Curation.corpusTemperatureMix(s, dir)),
    // contract validation: one fused conditional aggregate per table +
    // key-projected anti-join RI checks; integer-cross-multiplied
    // budget verdicts
    "dq_checks" -> ((s, dir) => graft.ops.DataQuality.dqChecks(s, dir)),
    // SCD2 MERGE: one full-outer join + exploded version structs;
    // null-safe no-op comparator
    "scd2_merge" -> ((s, dir) => graft.ops.Scd.scd2Merge(s, dir)),
    "scd2_asof" -> ((s, dir) => graft.ops.Scd.scd2AsOf(s, dir)),
    // incremental view maintenance: base build + 2 O(increment)
    // appends + aggregate-sized merge; oracle = full recompute
    "incr_daily_agg" -> ((s, dir) =>
      graft.ops.IncrementalAgg.maintainedDailyAgg(s, dir)),
    // A-Priori frequent-pair mining over order baskets: item pruning
    // runs BEFORE any pair materializes (broadcast semi-join); all
    // metrics are one IEEE division over exact BIGINT counts
    "part_affinity" -> ((s, dir) => graft.ops.Affinity.partAffinity(s, dir)),
    // PageRank over the co-occurrence graph: 10 power iterations in
    // scaled BIGINT arithmetic (order-independent sums, integer
    // divisions), oracle = the same recursion unrolled as chained CTEs
    "part_pagerank" -> ((s, dir) => graft.ops.Affinity.partPagerank(s, dir)),
    // triangle counting via degree-ordered edge orientation: each
    // triangle found exactly once, wedge fan-out √-bounded on hubs
    "graph_triangles" -> ((s, dir) => graft.ops.Graph.partTriangles(s, dir)),
    "graph_distances" -> ((s, dir) => graft.ops.Graph.graphDistances(s, dir)),
    // k-core peeling to fixpoint (throws on non-convergence); oracle
    // unrolls the identical rounds
    "graph_kcore" -> ((s, dir) => graft.ops.Graph.kCore(s, dir)),
    // the triangle consumer: local clustering coefficient per node,
    // ONE double division over exact counts
    "graph_clustering" -> ((s, dir) => graft.ops.Graph.clusteringCoefficients(s, dir)),
    // A-Priori level 3: triple candidates generated ONLY from frequent
    // pairs (broadcast semi-pruned), counted per order
    "part_triples" -> ((s, dir) => graft.ops.Affinity.partTriples(s, dir)),
    // directed rules a⇒b from the frequent pairs, 10% confidence floor
    // by exact cross-multiplication
    "affinity_rules" -> ((s, dir) => graft.ops.Affinity.associationRules(s, dir)),
    // nearest-rank (type-1) p05/p95 winsorization: selected order
    // statistics, no interpolation — clamp decisions hash-verify
    "value_winsorize" -> ((s, dir) => graft.ops.EventAnalytics.valueWinsorize(s, dir)),
    // daily P50/P95 report, same nearest-rank exactness rule
    "daily_value_percentiles" -> ((s, dir) =>
      graft.ops.EventAnalytics.dailyValuePercentiles(s, dir)),
    // first-order Markov transition matrix over per-user sequences:
    // one lead window, deterministic (tus, event_id) tiebreak
    "event_transitions" -> ((s, dir) =>
      graft.ops.EventAnalytics.eventTransitions(s, dir)),
    // week-over-week churn: expression-equi hash ANTI join on
    // (user, wk+1), trailing week excluded
    "user_churn" -> ((s, dir) => graft.ops.EventAnalytics.userChurn(s, dir)),
    // NEAREST-in-time join (±1h, argmin |Δt|, tie → earlier click):
    // the 3-bucket widening of the attribution banding
    "nearest_click_join" -> ((s, dir) =>
      graft.ops.EventAnalytics.nearestClickJoin(s, dir)),
    // gaps-and-islands: longest consecutive-day streak per user
    "user_streaks" -> ((s, dir) => graft.ops.EventAnalytics.userStreaks(s, dir)),
    // 20-bin equi-width histogram, integer-exact binning on cents
    "value_histogram" -> ((s, dir) => Relational.valueHistogram(s, dir)),
    // pairwise Pearson over lineitem numerics: one pass, decimal-exact
    // moments, fixed double sequence per pair
    "column_correlations" -> ((s, dir) => Relational.columnCorrelations(s, dir)),
    // repeat-purchase rate per part: stacked exact aggregates over the
    // fact join, one-division rate
    "part_repeat_rate" -> ((s, dir) => Relational.partRepeatRate(s, dir)),
    // RANK-based top-k WITH TIES (WindowGroupLimit pre-limits)
    "top_orders_with_ties" -> ((s, dir) => Relational.topOrdersWithTies(s, dir)),
    // cume_dist without the per-row global window: distinct-value
    // prefix sums joined back by value
    "order_value_percentile" -> ((s, dir) => Relational.orderValuePercentile(s, dir)),
    // ship latency per priority: exact day diffs, nearest-rank P50/P95
    "ship_latency_stats" -> ((s, dir) => Relational.shipLatencyStats(s, dir)),
    // per-label centroid cosine matrix: map-side per-dim partials,
    // offset-shifted integer means so both engines floor identically
    "label_centroid_sim" -> ((s, dir) =>
      graft.ops.Similarity.labelCentroidSimilarity(s, dir)),
    // median/MAD spike screen: doubled-median order stats keep the
    // whole decision path in exact BIGINTs (no interpolation division)
    "mad_anomalies" -> ((s, dir) => graft.ops.EventAnalytics.madAnomalies(s, dir)),
    // k-anonymity audit over (lang, source, length-bucket) QIs
    "k_anonymity" -> ((s, dir) => graft.ops.DataQuality.kAnonymityReport(s, dir)),
    // per-source length histograms on group-local integer bounds
    "doc_length_histogram" -> ((s, dir) =>
      graft.ops.DataQuality.docLengthHistogram(s, dir)),
    // per-feed scorecard: exact quantized mean quality, PII rate,
    // mean tokens — one grouped aggregate
    "source_quality_summary" -> ((s, dir) =>
      TextAnalysis.sourceQualitySummary(s, dir)),
    // ANALYZE-style per-column stats: unioned pruned-scan aggregates
    "table_profile" -> ((s, dir) => Relational.tableProfile(s, dir)),
    // per-join-key skew diagnostic: the data behind salt/AQE decisions
    "join_skew_report" -> ((s, dir) => Relational.joinSkewReport(s, dir)),
    // runtime bloom filter prunes the fact scan BEFORE the join
    // exchange; exact re-join removes false positives, so the result
    // is the plain join's (hash-matched oracle)
    "bloom_prune_join" -> ((s, dir) => ScalePatterns.bloomPruneJoin(s, dir)),
    // explicit salt-and-replicate hot-key join; multiset-identical to
    // the unsalted join, which is the oracle
    "salted_skew_join" -> ((s, dir) => ScalePatterns.saltedSkewJoin(s, dir)),
    // CDC snapshot diff: one full-outer join, null-safe classification
    "snapshot_diff" -> ((s, dir) => ScalePatterns.snapshotDiff(s, dir)),
    // single-pass codepoint-entropy quality screen (custom codegen'd
    // expression - the no-shuffle form of the explode/groupBy plan)
    "char_entropy" -> ((s, dir) => ScalePatterns.charEntropy(s, dir)),
    // two-hop runtime-filter cascade: dim predicate bloom-prunes
    // orders, qualifying orderkeys bloom-prune lineitem
    "bloom_cascade_revenue" -> ((s, dir) =>
      ScalePatterns.bloomCascadeRevenue(s, dir)),
    // positional phrase match - map-side adjacency scan, no posting
    // self-join
    "phrase_search" -> ((s, dir) => TextAnalysis.phraseSearch(s, dir)),
    // adjacent-bigram PMI from exact integer counts (BPE merge-priority
    // statistic); ordered by bigram text, never by the float
    "token_pmi" -> ((s, dir) => TextAnalysis.tokenPmi(s, dir)),
    // time-weighted daily average over irregular events - exact
    // fixed-point integer products, DECIMAL sums, 2 final IEEE ops
    "twap_daily" -> ((s, dir) => graft.ops.EventAnalytics.twapDaily(s, dir)),
    // Q2-shaped correlated argmin (decorrelates to agg + equi-join)
    "sql_min_cost_supplier" -> sqlOnViews(minCostSupplierSql,
      "part", "lineitem", "supplier", "nation"),
    // right-to-be-forgotten cascade audit: broadcast tombstone
    // semi-joins down the FK graph, one count aggregate per table
    "deletion_audit" -> ((s, dir) => graft.ops.DataQuality.deletionAudit(s, dir)),
    // functional-dependency profiling: per-FD violation counts at
    // distinct-value shuffle scale
    "fd_violations" -> ((s, dir) => graft.ops.DataQuality.fdViolations(s, dir)),
    // rolling 28d distinct actives via mergeable HLL sketches: one
    // corpus pass, |days|-row sketch merges (rows-only: sketch
    // internals are engine-specific; OpsSpec gates est within 5% of
    // the exact rolling counts)
    "rolling_mau_sketch" -> ((s, dir) =>
      graft.ops.EventAnalytics.rollingMauSketch(s, dir)),
    // CUBE completes the multi-granularity family (rollup + grouping
    // sets exist): 4 granularities, ONE partial-merged exchange
    "revenue_cube" -> ((s, dir) => Relational.revenueCube(s, dir)),
    // declared-vs-predicted language confusion matrix (langId drill-down)
    "lang_confusion" -> ((s, dir) => TextAnalysis.langConfusion(s, dir)),
    // data-driven seasonal-period detection: the evidence behind the
    // reference's hard-coded frequency 7 (R:369); exact-integer BSS,
    // DECIMAL-ranked argmax
    "dominant_period" -> ((s, dir) =>
      graft.ops.EventAnalytics.dominantPeriod(s, dir)),
    // weighted sparse-similarity join: trigram tf-idf cosine over a
    // df-capped vocabulary (the cap bounds the postings self-join)
    "tfidf_cosine_pairs" -> ((s, dir) => NearDup.tfidfCosinePairs(s, dir)),
    // distributed BPE merge training over the word-frequency-collapsed
    // corpus; K unrolled steps replayed by a materialized-CTE oracle
    "bpe_merges" -> ((s, dir) => graft.ops.Bpe.bpeMerges(s, dir)),
    // the merge table's consumer: trained vocabulary applied back to
    // the corpus as per-(lang, source) compression stats
    "bpe_token_stats" -> ((s, dir) => graft.ops.Bpe.bpeTokenStats(s, dir)),
    // rows-only: the production-vocabulary path — up to 64 merges in
    // <= 8 distributed rounds via rank-ordered NON-INTERACTING batch
    // acceptance (disjoint symbol sets => simultaneous apply equals
    // sequential apply); perRoundCap=1 degenerates to the exact loop,
    // pinned against bpe_merges in OpsSpec
    "bpe_merges_batched" -> ((s, dir) => graft.ops.Bpe.bpeMergesBatched(s, dir)),
    // Q16 shape: distinct-supplier counts under brand/type/size
    // predicates with a NOT IN exclusion (anti-join, plan-gated)
    "sql_supplier_cnt" -> sqlOnViews(supplierCntSql,
      "part", "lineitem", "supplier"),
    // the spectrum's consumer: PCA whitening applied + verified in one
    // pass (whitened moments must be mean 0 / var 1 / cross-cov 0;
    // rows-only - eigensolves aren't SQL; OpsSpec gates the moments)
    "embedding_whiten" -> ((s, dir) => Similarity.embeddingWhiten(s, dir)),
    // event_transitions' consumer: Markov stationary distribution via
    // scaled-BIGINT power iteration, unrolled-CTE replay oracle
    "transition_stationary" -> ((s, dir) =>
      graft.ops.EventAnalytics.transitionStationary(s, dir)),
    // percent-of-parent BI drill-down over the region->nation rollup
    "rollup_shares" -> ((s, dir) => Relational.rollupShares(s, dir)),
    // inter-event-gap distribution per user (nearest-rank exact
    // minutes) - the data the sessionization gap should be fit from
    "user_cadence" -> ((s, dir) => graft.ops.EventAnalytics.userCadence(s, dir)),
    // backlog aging anchored to the data's own horizon (deterministic)
    "order_aging" -> ((s, dir) => Relational.orderAging(s, dir)),
    // JSON-lines source tier: explicit-schema read of the JSONL mirror,
    // hash-checked against the SAME aggregate over the parquet store -
    // the text round-trip must lose nothing
    "events_from_json" -> ((s, dir) =>
      graft.sources.JsonStore.dailyFromJson(s, dir)),
    // CSV sibling: RFC-4180 quoting of the embedded-JSON props column
    // is part of what the parity hash proves
    "events_from_csv" -> ((s, dir) =>
      graft.sources.JsonStore.dailyFromCsv(s, dir)),
    // ORC sibling (columnar): parity pins the writer/reader type
    // mapping; the read path keeps vectorized scans + pushdown
    "events_from_orc" -> ((s, dir) =>
      graft.sources.JsonStore.dailyFromOrc(s, dir)),
    // media-tier cluster resolution: CC over the perceptual-hash pair
    // graph (shared large/small-star machinery), recursive-CTE oracle
    "media_dup_clusters" -> ((s, dir) => Multimodal.mediaDupClusters(s, dir)),
    // OLS slope of mean monthly ship latency per priority (term_zipf
    // float discipline: 12dp-rounded moments, DECIMAL sums)
    "latency_trend" -> ((s, dir) => Relational.latencyTrend(s, dir)),
    // Herfindahl supplier-concentration index per part type
    "supplier_hhi" -> ((s, dir) => Relational.supplierHhi(s, dir)),
    // consecutive-order gap histogram per recency band
    "repurchase_intervals" -> ((s, dir) =>
      Relational.repurchaseIntervals(s, dir)),
    // Shannon entropy of each source's language mix (12dp DECIMAL terms)
    "lang_entropy_by_source" -> ((s, dir) =>
      TextAnalysis.langEntropyBySource(s, dir)),
    // cluster-size histogram off the session-cached dedup labels: the
    // one-table summary a dedup run is judged by
    "dup_cluster_histogram" -> ((s, dir) => Dedup.dupClusterHistogram(s, dir)),
    // the scale tier: HLL++ NDV, one pass, mergeable partials; accuracy
    // gated ±5% vs the exact profile in OpsSpec (rows-only: sketches
    // are engine-specific)
    "table_profile_approx" -> ((s, dir) => Relational.tableProfileApprox(s, dir)),
    "corpus_resample" -> ((s, dir) => Curation.corpusResample(s, dir)),
    "pack_sequences" -> ((s, dir) => Curation.packSequences(s, dir)),
    // the loader-side report: bins per shard, fill vs the token budget
    "pack_efficiency" -> ((s, dir) => Curation.packEfficiency(s, dir)),
    // the composed curate -> split -> pack loader manifest, fused oracle
    "training_manifest" -> ((s, dir) => Curation.trainingManifest(s, dir)),
    // partial oracle for the fingerprint dedup path: its keep-set must
    // equal the text-normalized exact survivor set (hash-collision-free
    // at test scale), which IS SQL-expressible even though xxhash64 isn't
    "dedup_fingerprint_keepset" -> ((s, dir) =>
      Dedup.exactByFingerprint(s, dir).select(col("doc_id")).orderBy(col("doc_id"))),
    // seeded corpus: planted cross-source mirrors keep the pair-count
    // combination math non-vacuous at the driver's check scale
    "source_overlap" -> ((s, dir) => Curation.sourceOverlap(s, dir)),
    "source_overlap_gate" -> ((s, dir) => Curation.sourceOverlapSeeded(s, dir)),
    // the per-stage survivor "data card": raw -> quality -> pii -> dedup
    "curation_funnel" -> ((s, dir) => Dedup.curationFunnel(s, dir)),
    // tokenizer-design report: top-k token types + cumulative coverage
    "vocab_coverage" -> ((s, dir) => TextAnalysis.vocabCoverage(s, dir)),
    // per-dimension moments for whitening/z-scoring (exact via 1e-6
    // integer quantization - cross-row float sums never hash-compare)
    "embedding_dim_stats" -> ((s, dir) => Similarity.embeddingDimStats(s, dir)),
    // the STREAMING engine itself, driver-checked: the file-source
    // events stream runs to completion under Trigger.AvailableNow and
    // the memory sink's watermark-closed windows are the result — the
    // oracle re-derives the closed set with integer ms arithmetic
    "stream_daily_agg" -> ((s, dir) =>
      graft.streaming.EventIngest.dailyAggregateAvailableNow(s, dir)),
    // the stateful MERGING window class under the same AvailableNow
    // lifecycle: watermark-closed session windows, oracle-predicted
    "stream_sessions" -> ((s, dir) =>
      graft.streaming.EventIngest.sessionsAvailableNow(s, dir)),
    // the STREAM-STREAM JOIN tier under the same lifecycle: watermarked
    // event-time range join; inner joins emit on match (the watermark
    // bounds state, not emission), so one AvailableNow pass yields the
    // complete pair set — the oracle is the plain range join
    "stream_attribution" -> ((s, dir) =>
      graft.streaming.EventIngest.attributionPairsAvailableNow(s, dir)),
    // bounded custom state (Misra-Gries shards) under AvailableNow;
    // rows-only — the cross-batch MemoryStream test is the gate
    "stream_heavy_hitters" -> ((s, dir) =>
      graft.streaming.EventIngest.heavyHitterStreamAvailableNow(s, dir)),
    // streaming DOCUMENT ingest lifecycle (round 18): landed doc files
    // grow the corpus behind per-file replay stamps and the postings
    // index through the content-guarded append; covers/equals-rebuild/
    // replay-noop verdicts on a dedicated gate corpus — literal-TRUE
    // oracle
    "doc_ingest_gates" -> ((s, dir) =>
      graft.streaming.EventIngest.docIngestGates(s, dir)),
  )

  // ---------------------------------------------------------------------
  // DuckDB oracle SQL. Shared fragments:
  // ---------------------------------------------------------------------

  /** Shared recursive-CTE replay of the Croston SES recursions
    * (`graft.models.Croston`): daily decimal-exact demand, calendar-
    * densified, the z/p state recursion at α = 0.1. Callers append a
    * final SELECT over `fin(element, z, p)` — the classic ratio and
    * the SBA/SBJ bias-corrected variants differ only there. */
  private def crostonRecursionCte(finalSelect: String): String =
    """WITH RECURSIVE daily AS (
      |  SELECT event_type AS element, CAST(ts AS DATE) AS day,
      |    sum(CAST(value AS DECIMAL(18,4))) AS s
      |  FROM events
      |  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
      |  GROUP BY event_type, CAST(ts AS DATE)),
      |spine AS (
      |  SELECT element, CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM (SELECT element, min(day) AS mn, max(day) AS mx FROM daily GROUP BY element)),
      |obs AS (
      |  SELECT sp.element, sp.day,
      |    COALESCE(CAST(d.s AS DOUBLE), CAST(0.0 AS DOUBLE)) AS x,
      |    row_number() OVER (PARTITION BY sp.element ORDER BY sp.day) AS step
      |  FROM spine sp LEFT JOIN daily d ON d.element = sp.element AND d.day = sp.day),
      |rec AS (
      |  SELECT element, step, x,
      |    CASE WHEN x > 0 THEN x END AS z,
      |    CASE WHEN x > 0 THEN CAST(1.0 AS DOUBLE) END AS p,
      |    CASE WHEN x > 0 THEN 1 ELSE 2 END AS q
      |  FROM obs WHERE step = 1
      |  UNION ALL
      |  SELECT o.element, o.step, o.x,
      |    CASE WHEN o.x > 0 THEN
      |      CASE WHEN r.z IS NULL THEN o.x
      |           ELSE r.z + CAST(0.1 AS DOUBLE) * (o.x - r.z) END
      |    ELSE r.z END,
      |    CASE WHEN o.x > 0 THEN
      |      CASE WHEN r.z IS NULL THEN CAST(r.q AS DOUBLE)
      |           ELSE r.p + CAST(0.1 AS DOUBLE) * (CAST(r.q AS DOUBLE) - r.p) END
      |    ELSE r.p END,
      |    CASE WHEN o.x > 0 THEN 1 ELSE r.q + 1 END
      |  FROM rec r JOIN obs o ON o.element = r.element AND o.step = r.step + 1),
      |fin AS (
      |  SELECT r.element, r.z, r.p
      |  FROM rec r JOIN (SELECT element, max(step) AS ms FROM rec GROUP BY element) m
      |    ON m.element = r.element AND r.step = m.ms
      |  WHERE r.z IS NOT NULL)
      |""".stripMargin + finalSelect

  /** The TSB recursion replayed literally: same densified spine as the
    * croston CTE, but the probability state updates at EVERY step
    * (`p + 0.1·(d − p)`, d = 1 on demand days) while the size state
    * keeps the croston demand-day-only update. */
  private def tsbRecursionCte(finalSelect: String): String =
    """WITH RECURSIVE daily AS (
      |  SELECT event_type AS element, CAST(ts AS DATE) AS day,
      |    sum(CAST(value AS DECIMAL(18,4))) AS s
      |  FROM events
      |  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
      |  GROUP BY event_type, CAST(ts AS DATE)),
      |spine AS (
      |  SELECT element, CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM (SELECT element, min(day) AS mn, max(day) AS mx FROM daily GROUP BY element)),
      |obs AS (
      |  SELECT sp.element, sp.day,
      |    COALESCE(CAST(d.s AS DOUBLE), CAST(0.0 AS DOUBLE)) AS x,
      |    row_number() OVER (PARTITION BY sp.element ORDER BY sp.day) AS step
      |  FROM spine sp LEFT JOIN daily d ON d.element = sp.element AND d.day = sp.day),
      |rec AS (
      |  SELECT element, step, x,
      |    CASE WHEN x > 0 THEN x END AS z,
      |    CASE WHEN x > 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS p
      |  FROM obs WHERE step = 1
      |  UNION ALL
      |  SELECT o.element, o.step, o.x,
      |    CASE WHEN o.x > 0 THEN
      |      CASE WHEN r.z IS NULL THEN o.x
      |           ELSE r.z + CAST(0.1 AS DOUBLE) * (o.x - r.z) END
      |    ELSE r.z END,
      |    r.p + CAST(0.1 AS DOUBLE) *
      |      ((CASE WHEN o.x > 0 THEN CAST(1.0 AS DOUBLE)
      |             ELSE CAST(0.0 AS DOUBLE) END) - r.p)
      |  FROM rec r JOIN obs o ON o.element = r.element AND o.step = r.step + 1),
      |fin AS (
      |  SELECT r.element, r.z, r.p
      |  FROM rec r JOIN (SELECT element, max(step) AS ms FROM rec GROUP BY element) m
      |    ON m.element = r.element AND r.step = m.ms
      |  WHERE r.z IS NOT NULL)
      |""".stripMargin + finalSelect

  /** The searchElement scan: per-element step numbering, 10k cap (R:28). */
  private val obsCte =
    """obs AS (
      |  SELECT * FROM (
      |    SELECT event_type AS element, value,
      |           row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS step
      |    FROM events)
      |  WHERE step <= 10000)""".stripMargin

  /** Per-element closed-form stats shared by the naive forecast oracles
    * (semantics documented in graft.models.NaiveFamilies). */
  private val statsCte =
    s"""$obsCte,
       |base AS (
       |  SELECT element, value, step,
       |         value - lag(value) OVER (PARTITION BY element ORDER BY step) AS d
       |  FROM obs),
       |st AS (
       |  SELECT element, count(*) AS n,
       |         arg_max(value, step) AS last_v,
       |         arg_min(value, step) AS first_v,
       |         avg(value) AS mu,
       |         coalesce(stddev_samp(value), 0.0) AS sdy,
       |         coalesce(stddev_samp(d), 0.0) AS sdd
       |  FROM base GROUP BY element)""".stripMargin

  private val Z80 = "1.2815515655446004"
  private val Z95 = "1.959963984540054"

  /** 5-band select given point expression `m` and se expression `se`. */
  private def bands(method: String, m: String, se: String): String =
    s"""SELECT element, '$method' AS method, h.step,
       |  round(($m) - $Z80 * ($se), 6) AS lower1,
       |  round(($m) - $Z95 * ($se), 6) AS lower2,
       |  round(($m), 6) AS mean,
       |  round(($m) + $Z80 * ($se), 6) AS upper1,
       |  round(($m) + $Z95 * ($se), 6) AS upper2
       |FROM st CROSS JOIN range(1, ${H + 1}) h(step)
       |ORDER BY element, step""".stripMargin

  /** Shared A-Priori CTE prefix for the basket-mining oracles: distinct
    * baskets, order total, item counts, the cross-multiplied frequent
    * floor, pruned baskets, and >= 2-support pair counts — mirrors
    * `ops/Affinity.frequentPairs` exactly. */
  private val basketCtes =
    """WITH bk AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |tot AS (SELECT count(DISTINCT ok) AS n_orders FROM bk),
      |ic AS (SELECT pk, count(*) AS n_item FROM bk GROUP BY pk),
      |freq AS (SELECT ic.pk FROM ic CROSS JOIN tot
      |         WHERE ic.n_item * 1000 >= tot.n_orders),
      |pbk AS (SELECT bk.ok, bk.pk FROM bk JOIN freq ON freq.pk = bk.pk),
      |pc AS (SELECT a.pk AS pa, b2.pk AS pb, count(*) AS n_ab
      |       FROM pbk a JOIN pbk b2 ON a.ok = b2.ok AND a.pk < b2.pk
      |       GROUP BY a.pk, b2.pk HAVING count(*) >= 2)""".stripMargin

  /** The scaled-BIGINT PageRank recursion of `ops/Affinity.partPagerank`
    * unrolled as `Iterations` chained CTEs (standard SQL forbids
    * aggregation in a recursive term, and unrolling keeps the replay
    * portable). Every per-iteration SUM is cast back to BIGINT so
    * DuckDB's HUGEINT sum widening cannot leak into the column type. */
  /** k-core peeling unrolled as chained CTEs (the [[pagerankOracleSql]]
    * pattern — shrinking-set recursion is not expressible in a standard
    * recursive term): s0 = all nodes, s_{i+1} = nodes with within-set
    * degree ≥ k among s_i. `graft.ops.Graph.kCore` runs the identical
    * `maxRounds` peels and THROWS if not converged, so s_last is the
    * fixpoint both engines agree on. */
  private def kcoreOracleSql: String = {
    // AS MATERIALIZED is load-bearing: each round references its
    // predecessor TWICE (both join endpoints), so an inlining planner
    // would re-derive the whole chain 2^rounds times
    val rounds = (1 to 8).map { i =>
      val prev = if (i == 1) "s0" else s"s${i - 1}"
      s"""s$i AS MATERIALIZED (SELECT bi.u AS n, CAST(count(*) AS BIGINT) AS d
         |  FROM bi JOIN $prev a ON a.n = bi.u JOIN $prev b ON b.n = bi.v
         |  GROUP BY bi.u HAVING count(*) >= 2)""".stripMargin
    }.mkString(",\n")
    basketCtes + s""",
      |ud AS (SELECT pa AS u, pb AS v FROM pc),
      |bi AS MATERIALIZED (SELECT u, v FROM ud UNION ALL SELECT v, u FROM ud),
      |s0 AS MATERIALIZED (SELECT DISTINCT u AS n FROM bi),
      |$rounds
      |SELECT n AS node, d AS core_degree FROM s8 ORDER BY node""".stripMargin
  }

  /** BPE merge replay, unrolled one CTE-chain per step (the kcore
    * idiom — MATERIALIZED is load-bearing: every step references its
    * predecessor through several window layers, and an inlining
    * planner would re-derive the chain exponentially). Each step
    * mirrors `Bpe.bpeMerges` operation-for-operation: overlap-counted
    * weighted pairs, (count DESC, left, right) top-1, gaps-and-islands
    * run ids, even-offset non-overlapping merge, position rebuild. */
  private def bpeOracleSql: String = {
    val steps = graft.ops.Bpe.Steps
    bpeChainSql + "\n" +
      s"""SELECT CAST(step AS BIGINT) AS step, pair_a, pair_b, n_pairs
         |FROM (${(1 to steps).map(k =>
        s"SELECT $k AS step, pa AS pair_a, pb AS pair_b, cnt AS n_pairs FROM t$k")
        .mkString("\nUNION ALL\n")}) ORDER BY step""".stripMargin
  }

  /** bpe_merges' consumer: the trained vocabulary applied back to the
    * corpus as per-(lang, source) compression stats. */
  private def bpeTokenStatsOracleSql: String = {
    val sFinal = s"s${graft.ops.Bpe.Steps}"
    bpeChainSql + ",\n" +
      s"""ws AS (SELECT word, CAST(count(*) AS BIGINT) AS n_sym
         |  FROM $sFinal GROUP BY word),
         |dw AS (
         |  SELECT doc_id, lang, source, word FROM (
         |    SELECT doc_id, lang, source,
         |      unnest(regexp_split_to_array(lower(trim(COALESCE(text, ''))), '\\s+')) AS word
         |    FROM documents) t WHERE word <> '')
         |SELECT lang, source,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(length(word)) AS BIGINT) AS n_chars,
         |  CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens,
         |  round(CAST(sum(length(word)) AS DOUBLE)
         |    / CAST(sum(n_sym) AS DOUBLE), 6) AS chars_per_token
         |FROM dw JOIN ws USING (word)
         |GROUP BY lang, source ORDER BY lang, source""".stripMargin
  }

  private def bpeChainSql: String = {
    val steps = graft.ops.Bpe.Steps
    val stepCtes = (1 to steps).map { k =>
      val prev = if (k == 1) "s0" else s"s${k - 1}"
      s"""p$k AS MATERIALIZED (
         |  SELECT sym, nxt, CAST(sum(n) AS BIGINT) AS cnt FROM (
         |    SELECT n, sym, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
         |    FROM $prev) t
         |  WHERE nxt IS NOT NULL GROUP BY sym, nxt),
         |t$k AS MATERIALIZED (
         |  SELECT sym AS pa, nxt AS pb, cnt FROM p$k
         |  ORDER BY cnt DESC, sym ASC, nxt ASC LIMIT 1),
         |m$k AS MATERIALIZED (
         |  SELECT word, n, pos, sym, nxt,
         |    COALESCE(sym = (SELECT pa FROM t$k)
         |      AND nxt = (SELECT pb FROM t$k), FALSE) AS m
         |  FROM (SELECT word, n, pos, sym,
         |      lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
         |    FROM $prev) t),
         |g$k AS MATERIALIZED (
         |  SELECT *, sum(CASE WHEN m_start THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY word ORDER BY pos) AS grp
         |  FROM (SELECT *, m AND NOT COALESCE(
         |      lag(m) OVER (PARTITION BY word ORDER BY pos), FALSE) AS m_start
         |    FROM m$k) t),
         |d$k AS MATERIALIZED (
         |  SELECT *, COALESCE(lag(do_merge)
         |      OVER (PARTITION BY word ORDER BY pos), FALSE) AS consumed
         |  FROM (SELECT *, m AND (pos - run_start) % 2 = 0 AS do_merge
         |    FROM (SELECT *, min(CASE WHEN m THEN pos END)
         |        OVER (PARTITION BY word, grp) AS run_start FROM g$k) t1) t2),
         |s$k AS MATERIALIZED (
         |  SELECT word, n,
         |    row_number() OVER (PARTITION BY word ORDER BY pos) AS pos,
         |    CASE WHEN do_merge THEN sym || nxt ELSE sym END AS sym
         |  FROM d$k WHERE NOT consumed)""".stripMargin
    }.mkString(",\n")
    val header =
      """WITH wq AS MATERIALIZED (
        |  SELECT word, CAST(count(*) AS BIGINT) AS n FROM (
        |    SELECT unnest(regexp_split_to_array(lower(trim(COALESCE(text, ''))), '\s+')) AS word
        |    FROM documents) t
        |  WHERE word <> '' GROUP BY word),
        |s0 AS MATERIALIZED (
        |  SELECT word, n, i AS pos, substring(word, i, 1) AS sym
        |  FROM wq, unnest(range(1, length(word) + 1)) AS u(i))""".stripMargin
    header + ",\n" + stepCtes
  }

  /** transition_stationary replay: the pagerank idiom on the event
    * transition matrix — scaled-BIGINT floor arithmetic unrolled one
    * CTE per power iteration. */
  private def stationaryOracleSql: String = {
    val scale = graft.ops.EventAnalytics.StatScale
    val iters = graft.ops.EventAnalytics.StatIterations
    val rounds = (1 to iters).map { i =>
      s"""p$i AS (SELECT st.state,
         |  COALESCE(f$i.im, 0) AS m
         |  FROM st LEFT JOIN (
         |    SELECT eg.nxt AS state,
         |      CAST(sum((pp.m * eg.n_pair) // eg.n_cur) AS BIGINT) AS im
         |    FROM eg JOIN p${i - 1} pp ON pp.state = eg.cur
         |    GROUP BY eg.nxt) f$i ON f$i.state = st.state)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tus, event_type
       |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       |s AS (SELECT event_type AS cur,
       |        lead(event_type, 1) OVER (
       |          PARTITION BY user_id ORDER BY tus, event_id) AS nxt
       |      FROM e),
       |c AS (SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n_pair
       |      FROM s WHERE nxt IS NOT NULL GROUP BY cur, nxt),
       |t AS (SELECT cur, CAST(sum(n_pair) AS BIGINT) AS n_cur FROM c GROUP BY cur),
       |eg AS (SELECT c.cur, c.nxt, c.n_pair, t.n_cur FROM c JOIN t USING (cur)),
       |st AS (SELECT DISTINCT state FROM (
       |  SELECT cur AS state FROM c UNION ALL SELECT nxt FROM c) u),
       |nn AS (SELECT count(*) AS n FROM st),
       |p0 AS (SELECT state, $scale // nn.n AS m FROM st CROSS JOIN nn),
       |$rounds
       |SELECT state, CAST(m AS BIGINT) AS mass_scaled,
       |  CAST(m AS DOUBLE) / $scale.0 AS pi
       |FROM p$iters
       |ORDER BY mass_scaled DESC, state""".stripMargin
  }

  /** AS MATERIALIZED is load-bearing at sf0.1 (round-11 fix): without
    * it DuckDB inlines each iteration's references — `e`/`dg` re-derive
    * the whole A-Priori pair chain inside EVERY iteration and the
    * 10-deep operator tree exhausted memory at the full-scale
    * cross-check. Materializing the edge/degree tables once and each
    * power iteration as a temp result (the bpe_merges / graph_kcore
    * idiom) keeps the replay linear in iterations. */
  private def pagerankOracleSql: String = {
    val scale = graft.ops.Affinity.RankScale
    val base = scale * 15L / 100L
    val iters = (1 to graft.ops.Affinity.Iterations).map { i =>
      s"""r$i AS MATERIALIZED (SELECT d0.src AS part,
         |  ($base // nn.n) + (85 * COALESCE(i$i.m, 0)) // 100 AS r
         |  FROM dg d0 CROSS JOIN nn
         |  LEFT JOIN (SELECT e.dst AS part,
         |               CAST(SUM(rp.r // d2.outdeg) AS BIGINT) AS m
         |             FROM e JOIN r${i - 1} rp ON rp.part = e.src
         |                    JOIN dg d2 ON d2.src = e.src
         |             GROUP BY e.dst) i$i ON i$i.part = d0.src)""".stripMargin
    }.mkString(",\n")
    basketCtes + s""",
      |e AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pc
      |      UNION ALL SELECT pb, pa FROM pc),
      |dg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
      |nn AS MATERIALIZED (SELECT count(*) AS n FROM dg),
      |r0 AS MATERIALIZED (SELECT dg.src AS part, $scale // nn.n AS r FROM dg CROSS JOIN nn),
      |$iters
      |SELECT part, r AS rank_scaled,
      |  CAST(r AS DOUBLE) / $scale.0 AS rank
      |FROM r${graft.ops.Affinity.Iterations}
      |ORDER BY rank_scaled DESC, part""".stripMargin
  }

  /** column_correlations oracle — same quantization, same DECIMAL-exact
    * moments (DuckDB widens BIGINT sums to HUGEINT: equally exact), and
    * the IDENTICAL corr formula text, so the double op sequence cannot
    * diverge. */
  private def correlationsOracleSql: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    def corrExpr(a: String, b: String): String = {
      val (ma, mb) = (s"(CAST(s_$a AS DOUBLE) / CAST(n AS DOUBLE))",
        s"(CAST(s_$b AS DOUBLE) / CAST(n AS DOUBLE))")
      s"round((CAST(sx_${a}_$b AS DOUBLE) / CAST(n AS DOUBLE) - $ma * $mb) / " +
        s"(sqrt(CAST(ss_$a AS DOUBLE) / CAST(n AS DOUBLE) - $ma * $ma) * " +
        s"sqrt(CAST(ss_$b AS DOUBLE) / CAST(n AS DOUBLE) - $mb * $mb)), 6)"
    }
    val qcols = cols.map(c => s"CAST(floor($c * 10000.0 + 0.5) AS BIGINT) AS $c").mkString(", ")
    val sums = (cols.map(c => s"sum($c) AS s_$c") ++
      cols.map(c => s"sum($c * $c) AS ss_$c") ++
      cols.combinations(2).map { case Seq(a, b) => s"sum($a * $b) AS sx_${a}_$b" })
      .mkString(", ")
    val rows = cols.combinations(2).map { case Seq(a, b) =>
      s"SELECT '$a' AS col_a, '$b' AS col_b, n, ${corrExpr(a, b)} AS corr FROM a"
    }.mkString(" UNION ALL ")
    s"""WITH q AS (SELECT $qcols FROM lineitem
       |  WHERE ${cols.map(c => s"$c IS NOT NULL").mkString(" AND ")}),
       |a AS (SELECT CAST(count(*) AS BIGINT) AS n, $sums FROM q)
       |SELECT * FROM ($rows) ORDER BY col_a, col_b""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "column_correlations" -> correlationsOracleSql,
    "part_repeat_rate" ->
      """WITH cp AS (
        |  SELECT o_custkey AS cust, l_partkey AS part,
        |    count(DISTINCT l_orderkey) AS n_orders
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY o_custkey, l_partkey)
        |SELECT part, CAST(count(*) AS BIGINT) AS n_buyers,
        |  CAST(count_if(n_orders > 1) AS BIGINT) AS n_repeat,
        |  CAST(count_if(n_orders > 1) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS repeat_rate
        |FROM cp GROUP BY part ORDER BY part""".stripMargin,
    "top_orders_with_ties" ->
      """SELECT o_orderkey, o_totalprice, price_rank FROM (
        |  SELECT o_orderkey, o_totalprice,
        |    rank() OVER (ORDER BY o_totalprice DESC) AS price_rank
        |  FROM orders)
        |WHERE price_rank <= 10
        |ORDER BY price_rank, o_orderkey""".stripMargin,
    "ship_latency_stats" ->
      """WITH l AS (
        |  SELECT o_orderpriority AS priority,
        |    CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT) AS lat_days
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_shipdate IS NOT NULL AND o_orderdate IS NOT NULL),
        |r AS (SELECT priority, lat_days,
        |        row_number() OVER (PARTITION BY priority ORDER BY lat_days) AS rn,
        |        count(*) OVER (PARTITION BY priority) AS cnt
        |      FROM l)
        |SELECT priority, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(lat_days) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_days,
        |  max(CASE WHEN rn = (cnt + 1) // 2 THEN lat_days END) AS p50_days,
        |  max(CASE WHEN rn = (19 * cnt + 19) // 20 THEN lat_days END) AS p95_days
        |FROM r GROUP BY priority
        |ORDER BY priority""".stripMargin,
    "order_value_percentile" ->
      """WITH c AS (
        |  SELECT o_totalprice, count(*) AS cnt FROM orders GROUP BY o_totalprice),
        |cc AS (
        |  SELECT o_totalprice,
        |    sum(cnt) OVER (ORDER BY o_totalprice
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM c),
        |n AS (SELECT count(*) AS n FROM orders)
        |SELECT o.o_orderkey, o.o_totalprice,
        |  CAST(cc.cum AS DOUBLE) / CAST(n.n AS DOUBLE) AS pctile
        |FROM orders o JOIN cc ON cc.o_totalprice = o.o_totalprice CROSS JOIN n
        |ORDER BY o.o_orderkey""".stripMargin,
    "sql_star_join" -> portableSql,
    "sql_exists_agg" -> existsSql,
    "sql_scalar_subquery" -> scalarSubquerySql,
    "sql_dormant_customers" -> dormantCustomersSql,
    "sql_nation_volume" -> q7VolumeSql,
    "sql_market_share" -> q8MarketShareSql,
    "sql_top_supplier" -> q15TopSupplierSql,
    "sql_large_orders" -> q18LargeOrdersSql,
    "sql_waiting_suppliers" -> q21WaitingSuppliersSql,
    "sql_part_concentration" -> q11PartConcentrationSql,
    "sql_grouping_sets" -> groupingSetsSql,
    "sql_ship_priority_class" -> q12ShipClassSql,
    "sql_order_count_histogram" -> q13OrderHistogramSql,
    "sql_promo_revenue" -> q14PromoShareSql,
    "sql_product_profit" -> q9ProductProfitSql,
    "sql_disjunctive_filter" -> q19DisjunctiveSql,
    "sql_returned_items" -> q10ReturnedItemsSql,
    "methods_catalog" ->
      ("SELECT * FROM (VALUES " +
        Methods.reference.zipWithIndex
          .map { case (m, i) => s"(CAST(${i + 1} AS BIGINT), '$m')" }.mkString(", ") +
        ") AS t(pos, method) ORDER BY pos"),
    "sanitize_names" ->
      """SELECT DISTINCT event_type AS element,
        |  regexp_replace(event_type, '[^a-zA-Z0-9 ]', '', 'g') AS clean
        |FROM events ORDER BY element""".stripMargin,
    "series_obs" ->
      s"WITH $obsCte SELECT element, step, value FROM obs ORDER BY element, step",
    // identical exact-sum assembly: decimal accumulations, then ONE
    // fixed double op sequence per feature (see SeriesFeatures scaladoc)
    "series_features" ->
      (s"WITH $obsCte, " +
        """l AS (
          |  SELECT element, CAST(step AS BIGINT) AS x,
          |    CAST(value AS DECIMAL(18,4)) AS y,
          |    lag(CAST(value AS DECIMAL(18,4)))
          |      OVER (PARTITION BY element ORDER BY step) AS yp
          |  FROM obs),
          |a AS (
          |  SELECT element, count(*) AS n, sum(y) AS sy, sum(y*y) AS syy,
          |    sum(x) AS sx, sum(x*x) AS sxx, sum(y*x) AS sxy,
          |    count(CASE WHEN yp IS NOT NULL THEN 1 END) AS n1,
          |    sum(CASE WHEN yp IS NOT NULL THEN y*yp END) AS sab,
          |    sum(CASE WHEN yp IS NOT NULL THEN yp END) AS sa,
          |    sum(CASE WHEN yp IS NOT NULL THEN y END) AS sb,
          |    sum(CASE WHEN yp IS NOT NULL THEN yp*yp END) AS saa,
          |    sum(CASE WHEN yp IS NOT NULL THEN y*y END) AS sbb
          |  FROM l GROUP BY element)
          |SELECT element, n AS n_obs,
          |  round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean,
          |  round(sqrt(greatest(
          |    (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
          |      / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0), 0.0)), 6) AS std,
          |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          |    / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0), 6) AS slope,
          |  round(CASE WHEN n1 >= 2 THEN
          |    (CAST(n1 AS DOUBLE) * CAST(sab AS DOUBLE)
          |      - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
          |    / nullif(sqrt(
          |        (CAST(n1 AS DOUBLE) * CAST(saa AS DOUBLE)
          |          - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
          |      * (CAST(n1 AS DOUBLE) * CAST(sbb AS DOUBLE)
          |          - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 0.0)
          |    END, 6) AS r1
          |FROM a ORDER BY element""".stripMargin),
    "series_prophet_df" ->
      """SELECT element, ds, y FROM (
        |  SELECT event_type AS element, CAST(ts AS DATE) AS ds, value AS y,
        |         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS step
        |  FROM events)
        |WHERE step <= 10000 ORDER BY element, ds, y""".stripMargin,
    // daily mean (exact sum, one division), generate_series spine, LOCF
    // via last_value IGNORE NULLS — the same window the engine runs
    "series_gapfill" ->
      """WITH daily AS (
        |  SELECT event_type AS element, CAST(ts AS DATE) AS day,
        |    count(*) AS n_obs,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS day_value
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |spine AS (
        |  SELECT element,
        |    CAST(unnest(generate_series(min(day), max(day), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM daily GROUP BY element),
        |j AS (
        |  SELECT s.element, s.day, coalesce(d.n_obs, 0) AS n_obs, d.day_value
        |  FROM spine s LEFT JOIN daily d ON s.element = d.element AND s.day = d.day)
        |SELECT element, day, n_obs,
        |  round(last_value(day_value IGNORE NULLS) OVER (
        |    PARTITION BY element ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS value,
        |  n_obs = 0 AS is_filled
        |FROM j ORDER BY element, day""".stripMargin,
    // holdout backtest: the oracle re-derives train stats (FILTERed
    // aggregates over the prefix), the three closed-form forecasts, the
    // per-step errors, and both metrics
    "fc_backtest_closed" ->
      s"""WITH $obsCte,
         |tr AS (SELECT element, count(*) AS n FROM obs GROUP BY element),
         |st AS (
         |  SELECT o.element, t.n - 7 AS ntr,
         |    arg_max(o.value, o.step) FILTER (WHERE o.step <= t.n - 7) AS last_v,
         |    arg_min(o.value, o.step) FILTER (WHERE o.step <= t.n - 7) AS first_v,
         |    avg(o.value) FILTER (WHERE o.step <= t.n - 7) AS mu
         |  FROM obs o JOIN tr t USING (element)
         |  WHERE t.n > 14
         |  GROUP BY o.element, t.n),
         |te AS (
         |  SELECT o.element, o.step - s.ntr AS h, o.value AS actual,
         |    s.last_v, s.first_v, s.mu, s.ntr
         |  FROM obs o JOIN st s USING (element)
         |  WHERE o.step > s.ntr),
         |err AS (
         |  SELECT element, h,
         |    actual - last_v AS e_naive,
         |    actual - (last_v + (last_v - first_v) / (ntr - 1.0) * h) AS e_drift,
         |    actual - mu AS e_meanf
         |  FROM te),
         |m AS (
         |  SELECT element, 'NAIVE' AS method, avg(abs(e_naive)) AS mae,
         |    sqrt(avg(e_naive * e_naive)) AS rmse FROM err GROUP BY element
         |  UNION ALL
         |  SELECT element, 'DRIFT', avg(abs(e_drift)),
         |    sqrt(avg(e_drift * e_drift)) FROM err GROUP BY element
         |  UNION ALL
         |  SELECT element, 'MEANF', avg(abs(e_meanf)),
         |    sqrt(avg(e_meanf * e_meanf)) FROM err GROUP BY element)
         |SELECT element, method, round(mae, 6) AS mae, round(rmse, 6) AS rmse
         |FROM m ORDER BY element, method""".stripMargin,
    // inverse-MAE ensemble: the backtest MAEs (the hash-verified 6dp
    // quantities) become weights in ONE fixed-order IEEE sequence —
    // no aggregation whose order could differ between engines
    "fc_ensemble" ->
      s"""WITH $obsCte,
         |tr AS (SELECT element, count(*) AS n FROM obs GROUP BY element),
         |st AS (
         |  SELECT o.element, t.n, t.n - 7 AS ntr,
         |    arg_max(o.value, o.step) FILTER (WHERE o.step <= t.n - 7) AS last_t,
         |    arg_min(o.value, o.step) FILTER (WHERE o.step <= t.n - 7) AS first_t,
         |    avg(o.value) FILTER (WHERE o.step <= t.n - 7) AS mu_t,
         |    arg_max(o.value, o.step) AS last_v,
         |    arg_min(o.value, o.step) AS first_v,
         |    avg(o.value) AS mu
         |  FROM obs o JOIN tr t USING (element)
         |  WHERE t.n > 14
         |  GROUP BY o.element, t.n),
         |te AS (
         |  SELECT o.element, o.step - s.ntr AS hh, o.value AS actual,
         |    s.last_t, s.first_t, s.mu_t, s.ntr
         |  FROM obs o JOIN st s USING (element)
         |  WHERE o.step > s.ntr),
         |m AS (
         |  SELECT element,
         |    round(avg(abs(actual - last_t)), 6) AS mae_n,
         |    round(avg(abs(actual
         |      - (last_t + (last_t - first_t) / (ntr - 1.0) * hh))), 6) AS mae_d,
         |    round(avg(abs(actual - mu_t)), 6) AS mae_m
         |  FROM te GROUP BY element),
         |w AS (SELECT element,
         |    1.0 / (mae_n + 1e-9) AS wn,
         |    1.0 / (mae_d + 1e-9) AS wd,
         |    1.0 / (mae_m + 1e-9) AS wm
         |  FROM m)
         |SELECT s.element, h.step,
         |  round(w.wn / (w.wn + w.wd + w.wm), 6) AS w_naive,
         |  round(w.wd / (w.wn + w.wd + w.wm), 6) AS w_drift,
         |  round(w.wm / (w.wn + w.wd + w.wm), 6) AS w_meanf,
         |  round((w.wn * s.last_v
         |       + w.wd * (s.last_v + (s.last_v - s.first_v) / (s.n - 1.0) * h.step)
         |       + w.wm * s.mu) / (w.wn + w.wd + w.wm), 6) AS forecast
         |FROM st s JOIN w USING (element) CROSS JOIN range(1, 8) h(step)
         |ORDER BY s.element, h.step""".stripMargin,
    // per-horizon split-conformal: rank r = min(m, ceil(cov*(m+1))) of the
    // sorted |h-step errors|; rank selection is value-stable under ties
    "fc_conformal" ->
      s"""WITH $obsCte,
         |tr AS (SELECT element, count(*) AS n, arg_max(value, step) AS last_v
         |  FROM obs GROUP BY element),
         |sc AS (
         |  SELECT o.element, h.step AS step, abs(o2.value - o.value) AS score
         |  FROM obs o
         |  JOIN tr t USING (element)
         |  CROSS JOIN range(1, 15) h(step)
         |  JOIN obs o2 ON o2.element = o.element AND o2.step = o.step + h.step
         |  WHERE t.n > 28),
         |rk AS (SELECT element, step, score,
         |    row_number() OVER (PARTITION BY element, step ORDER BY score) AS r,
         |    count(*) OVER (PARTITION BY element, step) AS m
         |  FROM sc),
         |q AS (SELECT element, step,
         |    max(CASE WHEN r = least(m, CAST(ceil(0.8 * (m + 1)) AS BIGINT))
         |      THEN score END) AS q80,
         |    max(CASE WHEN r = least(m, CAST(ceil(0.95 * (m + 1)) AS BIGINT))
         |      THEN score END) AS q95
         |  FROM rk GROUP BY element, step)
         |SELECT q.element, 'CONFORMAL_NAIVE' AS method, q.step,
         |  round(t.last_v - q.q80, 6) AS lower1,
         |  round(t.last_v - q.q95, 6) AS lower2,
         |  round(t.last_v, 6) AS mean,
         |  round(t.last_v + q.q80, 6) AS upper1,
         |  round(t.last_v + q.q95, 6) AS upper2
         |FROM q JOIN tr t USING (element)
         |ORDER BY element, step""".stripMargin,
    // conformal over all four closed-form families: per-family prefix
    // forecasts re-derived in SQL; MEANF prefix means ride an exact
    // DECIMAL(18,6) cumulative sum (order-free — the window engine's
    // reassociation cannot move them), every other score is a pinned
    // IEEE op sequence
    "fc_conformal_all" ->
      s"""WITH RECURSIVE $obsCte,
         |tr AS (SELECT element, count(*) AS n,
         |    arg_max(value, step) AS last_v, arg_min(value, step) AS first_v,
         |    avg(value) AS mu
         |  FROM obs GROUP BY element),
         |ok AS (SELECT * FROM tr WHERE n > 28),
         |pre AS (
         |  SELECT element, step, value,
         |    sum(CAST(value AS DECIMAL(18,6)))
         |      OVER (PARTITION BY element ORDER BY step) AS ds
         |  FROM obs),
         |lvv AS MATERIALIZED (
         |  SELECT element, list(value ORDER BY step) AS vs, count(*) AS n
         |  FROM obs GROUP BY element),
         |slv AS (
         |  SELECT element, 1 AS step, vs[1] AS level FROM lvv
         |  UNION ALL
         |  SELECT r.element, r.step + 1,
         |    CAST(0.3 AS DOUBLE) * l.vs[r.step + 1] + CAST(0.7 AS DOUBLE) * r.level
         |  FROM slv r JOIN lvv l USING (element) WHERE r.step < l.n),
         |cdaily AS (
         |  SELECT event_type AS element, CAST(ts AS DATE) AS day,
         |    sum(CAST(value AS DECIMAL(18,4))) AS s
         |  FROM events
         |  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
         |  GROUP BY event_type, CAST(ts AS DATE)),
         |cspine AS (
         |  SELECT element, CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day
         |  FROM (SELECT element, min(day) AS mn, max(day) AS mx FROM cdaily GROUP BY element)),
         |cobs AS MATERIALIZED (
         |  SELECT sp.element, sp.day,
         |    COALESCE(CAST(d.s AS DOUBLE), CAST(0.0 AS DOUBLE)) AS x,
         |    row_number() OVER (PARTITION BY sp.element ORDER BY sp.day) AS step
         |  FROM cspine sp LEFT JOIN cdaily d ON d.element = sp.element AND d.day = sp.day),
         |ck AS (SELECT element, count(*) AS n FROM cobs
         |  GROUP BY element HAVING count(*) > 14),
         |crec AS (
         |  SELECT element, step, x,
         |    CASE WHEN x > 0 THEN x END AS z,
         |    CASE WHEN x > 0 THEN CAST(1.0 AS DOUBLE) END AS p,
         |    CASE WHEN x > 0 THEN 1 ELSE 2 END AS q,
         |    CASE WHEN x > 0 THEN CAST(1.0 AS DOUBLE)
         |         ELSE CAST(0.0 AS DOUBLE) END AS tp
         |  FROM cobs WHERE step = 1
         |  UNION ALL
         |  SELECT o.element, o.step, o.x,
         |    CASE WHEN o.x > 0 THEN
         |      CASE WHEN r.z IS NULL THEN o.x
         |           ELSE r.z + CAST(0.1 AS DOUBLE) * (o.x - r.z) END
         |    ELSE r.z END,
         |    CASE WHEN o.x > 0 THEN
         |      CASE WHEN r.z IS NULL THEN CAST(r.q AS DOUBLE)
         |           ELSE r.p + CAST(0.1 AS DOUBLE) * (CAST(r.q AS DOUBLE) - r.p) END
         |    ELSE r.p END,
         |    CASE WHEN o.x > 0 THEN 1 ELSE r.q + 1 END,
         |    r.tp + CAST(0.1 AS DOUBLE) *
         |      ((CASE WHEN o.x > 0 THEN CAST(1.0 AS DOUBLE)
         |             ELSE CAST(0.0 AS DOUBLE) END) - r.tp)
         |  FROM crec r JOIN cobs o ON o.element = r.element AND o.step = r.step + 1),
         |cfin AS (
         |  SELECT r.element, r.z, r.p, r.tp
         |  FROM crec r JOIN (SELECT element, max(step) AS ms FROM crec GROUP BY element) m
         |    ON m.element = r.element AND r.step = m.ms
         |  WHERE r.z IS NOT NULL),
         |sc AS (
         |  SELECT o.element, h.step, 'CONFORMAL_NAIVE' AS method,
         |    abs(o2.value - o.value) AS score
         |  FROM pre o JOIN ok USING (element) CROSS JOIN range(1, 15) h(step)
         |  JOIN pre o2 ON o2.element = o.element AND o2.step = o.step + h.step
         |  UNION ALL
         |  SELECT o.element, h.step, 'CONFORMAL_DRIFT',
         |    abs(o2.value
         |      - (o.value + (o.value - k.first_v) / (o.step - 1.0) * h.step))
         |  FROM pre o JOIN ok k USING (element) CROSS JOIN range(1, 15) h(step)
         |  JOIN pre o2 ON o2.element = o.element AND o2.step = o.step + h.step
         |  WHERE o.step >= 2
         |  UNION ALL
         |  SELECT o.element, h.step, 'CONFORMAL_MEANF',
         |    abs(o2.value - CAST(o.ds AS DOUBLE) / o.step)
         |  FROM pre o JOIN ok USING (element) CROSS JOIN range(1, 15) h(step)
         |  JOIN pre o2 ON o2.element = o.element AND o2.step = o.step + h.step
         |  UNION ALL
         |  SELECT o2.element, h.step, 'CONFORMAL_SNAIVE',
         |    abs(o2.value - o.value)
         |  FROM pre o JOIN ok k USING (element) CROSS JOIN range(1, 15) h(step)
         |  JOIN pre o2 ON o2.element = o.element
         |    AND o2.step = o.step
         |      + least(k.n, $Freq) * ((h.step - 1) // least(k.n, $Freq) + 1)
         |  WHERE o2.step > h.step
         |  UNION ALL
         |  SELECT r.element, h.step, 'CONFORMAL_SES',
         |    abs(o2.value - r.level)
         |  FROM slv r JOIN ok USING (element) CROSS JOIN range(1, 15) h(step)
         |  JOIN pre o2 ON o2.element = r.element AND o2.step = r.step + h.step
         |  UNION ALL
         |  SELECT r.element, h.step, 'CONFORMAL_CROSTON',
         |    abs(o2.x - (r.z / r.p))
         |  FROM crec r JOIN ck USING (element) CROSS JOIN range(1, 8) h(step)
         |  JOIN cobs o2 ON o2.element = r.element AND o2.step = r.step + h.step
         |  WHERE r.z IS NOT NULL
         |  UNION ALL
         |  SELECT r.element, h.step, 'CONFORMAL_SBA',
         |    abs(o2.x - (1.0 - CAST(0.1 AS DOUBLE) / 2.0) * (r.z / r.p))
         |  FROM crec r JOIN ck USING (element) CROSS JOIN range(1, 8) h(step)
         |  JOIN cobs o2 ON o2.element = r.element AND o2.step = r.step + h.step
         |  WHERE r.z IS NOT NULL
         |  UNION ALL
         |  SELECT r.element, h.step, 'CONFORMAL_TSB',
         |    abs(o2.x - r.z * r.tp)
         |  FROM crec r JOIN ck USING (element) CROSS JOIN range(1, 8) h(step)
         |  JOIN cobs o2 ON o2.element = r.element AND o2.step = r.step + h.step
         |  WHERE r.z IS NOT NULL),
         |rk AS (SELECT element, method, step, score,
         |    row_number() OVER (PARTITION BY element, method, step
         |      ORDER BY score) AS r,
         |    count(*) OVER (PARTITION BY element, method, step) AS m
         |  FROM sc),
         |q AS (SELECT element, method, step,
         |    max(CASE WHEN r = least(m, CAST(ceil(0.8 * (m + 1)) AS BIGINT))
         |      THEN score END) AS q80,
         |    max(CASE WHEN r = least(m, CAST(ceil(0.95 * (m + 1)) AS BIGINT))
         |      THEN score END) AS q95
         |  FROM rk GROUP BY element, method, step),
         |mids AS (
         |  SELECT k.element, 'CONFORMAL_NAIVE' AS method, h.step,
         |    k.last_v AS mid
         |  FROM ok k CROSS JOIN range(1, 15) h(step)
         |  UNION ALL
         |  SELECT k.element, 'CONFORMAL_DRIFT', h.step,
         |    k.last_v + (k.last_v - k.first_v) / (k.n - 1.0) * h.step
         |  FROM ok k CROSS JOIN range(1, 15) h(step)
         |  UNION ALL
         |  SELECT k.element, 'CONFORMAL_MEANF', h.step, k.mu
         |  FROM ok k CROSS JOIN range(1, 15) h(step)
         |  UNION ALL
         |  SELECT k.element, 'CONFORMAL_SNAIVE', h.step, c.value
         |  FROM ok k CROSS JOIN range(1, 15) h(step)
         |  JOIN obs c ON c.element = k.element
         |    AND c.step = k.n - least(k.n, $Freq)
         |      + ((h.step - 1) % least(k.n, $Freq)) + 1
         |  UNION ALL
         |  SELECT k.element, 'CONFORMAL_SES', h.step, sf.level
         |  FROM ok k CROSS JOIN range(1, 15) h(step)
         |  JOIN (SELECT element, arg_max(level, step) AS level
         |        FROM slv GROUP BY element) sf ON sf.element = k.element
         |  UNION ALL
         |  SELECT f.element, 'CONFORMAL_CROSTON', h.step, f.z / f.p
         |  FROM cfin f JOIN ck USING (element) CROSS JOIN range(1, 8) h(step)
         |  UNION ALL
         |  SELECT f.element, 'CONFORMAL_SBA', h.step,
         |    (1.0 - CAST(0.1 AS DOUBLE) / 2.0) * (f.z / f.p)
         |  FROM cfin f JOIN ck USING (element) CROSS JOIN range(1, 8) h(step)
         |  UNION ALL
         |  SELECT f.element, 'CONFORMAL_TSB', h.step, f.z * f.tp
         |  FROM cfin f JOIN ck USING (element) CROSS JOIN range(1, 8) h(step))
         |SELECT m.element, m.method, m.step,
         |  round(m.mid - q.q80, 6) AS lower1,
         |  round(m.mid - q.q95, 6) AS lower2,
         |  round(m.mid, 6) AS mean,
         |  round(m.mid + q.q80, 6) AS upper1,
         |  round(m.mid + q.q95, 6) AS upper2
         |FROM mids m JOIN q USING (element, method, step)
         |ORDER BY element, method, step""".stripMargin,
    // bottom-up Σ leaf DRIFT vs direct total DRIFT; slopes 9dp-quantized
    // before the cross-element DECIMAL sum, gap from the rounded columns
    "fc_hierarchical" ->
      """WITH daily AS (
        |  SELECT event_type AS element, CAST(ts AS DATE) AS day,
        |    sum(CAST(value AS DECIMAL(18,4))) AS y
        |  FROM events
        |  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |leaf AS (
        |  SELECT element, count(*) AS n_e,
        |    arg_max(y, day) AS last_e, arg_min(y, day) AS first_e
        |  FROM daily GROUP BY element),
        |leafq AS (
        |  SELECT element, last_e,
        |    CAST(round(CAST(last_e - first_e AS DOUBLE) / CAST(n_e - 1 AS DOUBLE), 9)
        |      AS DECIMAL(18,9)) AS slope_e
        |  FROM leaf WHERE n_e > 1),
        |bottom AS (SELECT CAST(count(*) AS BIGINT) AS n_elements,
        |    sum(last_e) AS sum_last, sum(slope_e) AS sum_slope FROM leafq),
        |roots AS (SELECT day, sum(y) AS t FROM daily GROUP BY day),
        |root AS (SELECT count(*) AS n_t, arg_max(t, day) AS last_t,
        |    arg_min(t, day) AS first_t FROM roots),
        |rootd AS (SELECT CAST(last_t AS DOUBLE) AS last_t,
        |    CAST(last_t - first_t AS DOUBLE) / CAST(n_t - 1 AS DOUBLE) AS slope_t
        |  FROM root),
        |fc AS (
        |  SELECT h.step, b.n_elements,
        |    round(r.last_t + r.slope_t * CAST(h.step AS DOUBLE), 6) AS fc_direct,
        |    round(CAST(b.sum_last + b.sum_slope * h.step AS DOUBLE), 6) AS fc_bottom_up
        |  FROM bottom b CROSS JOIN rootd r CROSS JOIN range(1, 8) h(step))
        |SELECT step, n_elements, fc_direct, fc_bottom_up,
        |  round(fc_bottom_up - fc_direct, 6) AS gap
        |FROM fc ORDER BY step""".stripMargin,
    "fc_naive" ->
      s"WITH $statsCte\n${bands("NAIVE", "last_v", "sdd * sqrt(h.step)")}",
    "fc_drift" ->
      s"""WITH $statsCte
         |${bands("DRIFT",
           "last_v + (last_v - first_v) / (n - 1.0) * h.step",
           "sdd * sqrt(h.step * (1.0 + h.step / (n - 1.0)))")}""".stripMargin,
    "fc_meanf" ->
      s"WITH $statsCte\n${bands("MEANF", "mu", "sdy * sqrt(1.0 + 1.0 / n)")}",
    "fc_snaive" ->
      s"""WITH $statsCte,
         |m AS (SELECT element, n, least($Freq, n) AS mp FROM st),
         |sdm AS (
         |  SELECT a.element, coalesce(stddev_samp(a.value - b.value), 0.0) AS s
         |  FROM obs a JOIN m USING (element)
         |  JOIN obs b ON b.element = a.element AND b.step = a.step - m.mp
         |  GROUP BY a.element),
         |st2 AS (
         |  SELECT m.element, m.n, m.mp, coalesce(sdm.s, 0.0) AS s
         |  FROM m LEFT JOIN sdm USING (element))
         |SELECT st2.element, 'SNAIVE' AS method, h.step,
         |  round(c.value - $Z80 * st2.s * sqrt((h.step - 1) // st2.mp + 1), 6) AS lower1,
         |  round(c.value - $Z95 * st2.s * sqrt((h.step - 1) // st2.mp + 1), 6) AS lower2,
         |  round(c.value, 6) AS mean,
         |  round(c.value + $Z80 * st2.s * sqrt((h.step - 1) // st2.mp + 1), 6) AS upper1,
         |  round(c.value + $Z95 * st2.s * sqrt((h.step - 1) // st2.mp + 1), 6) AS upper2
         |FROM st2
         |CROSS JOIN range(1, ${H + 1}) h(step)
         |JOIN obs c ON c.element = st2.element
         |          AND c.step = st2.n - st2.mp + ((h.step - 1) % st2.mp) + 1
         |ORDER BY st2.element, h.step""".stripMargin,
    "fc_ses" ->
      s"""WITH $statsCte,
         |lv AS (
         |  SELECT element,
         |    list_reduce(list(value ORDER BY step),
         |      (acc, x) -> CAST(0.3 AS DOUBLE) * x + CAST(0.7 AS DOUBLE) * acc) AS level
         |  FROM obs GROUP BY element)
         |SELECT st.element, 'SES' AS method, h.step,
         |  round(lv.level - $Z80 * (st.sdd * sqrt(1.0 + (h.step - 1) * 0.3 * 0.3)), 6) AS lower1,
         |  round(lv.level - $Z95 * (st.sdd * sqrt(1.0 + (h.step - 1) * 0.3 * 0.3)), 6) AS lower2,
         |  round(lv.level, 6) AS mean,
         |  round(lv.level + $Z80 * (st.sdd * sqrt(1.0 + (h.step - 1) * 0.3 * 0.3)), 6) AS upper1,
         |  round(lv.level + $Z95 * (st.sdd * sqrt(1.0 + (h.step - 1) * 0.3 * 0.3)), 6) AS upper2
         |FROM st JOIN lv USING (element) CROSS JOIN range(1, ${H + 1}) h(step)
         |ORDER BY st.element, h.step""".stripMargin,
    // the cache slice must equal the first SliceH steps of a fresh SES
    // forecast — R:110's contract is "the slice IS the forecast"
    "fc_cached_slice" ->
      s"""WITH $statsCte,
         |lv AS (
         |  SELECT element,
         |    list_reduce(list(value ORDER BY step),
         |      (acc, x) -> CAST(0.3 AS DOUBLE) * x + CAST(0.7 AS DOUBLE) * acc) AS level
         |  FROM obs GROUP BY element)
         |SELECT st.element, 'SES' AS method, h.step,
         |  round(lv.level - $Z80 * (st.sdd * sqrt(1.0 + (h.step - 1) * 0.3 * 0.3)), 6) AS lower1,
         |  round(lv.level - $Z95 * (st.sdd * sqrt(1.0 + (h.step - 1) * 0.3 * 0.3)), 6) AS lower2,
         |  round(lv.level, 6) AS mean,
         |  round(lv.level + $Z80 * (st.sdd * sqrt(1.0 + (h.step - 1) * 0.3 * 0.3)), 6) AS upper1,
         |  round(lv.level + $Z95 * (st.sdd * sqrt(1.0 + (h.step - 1) * 0.3 * 0.3)), 6) AS upper2
         |FROM st JOIN lv USING (element) CROSS JOIN range(1, ${SliceH + 1}) h(step)
         |ORDER BY st.element, h.step""".stripMargin,
    "user_activity" ->
      """SELECT event_type, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  round(avg(value), 6) AS avg_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the sketch bounds what is RECOUNTED, not what is reported — the
    // exact-recount second pass makes the output the brute-force set
    "heavy_hitters" ->
      """WITH tot AS (SELECT count(*) AS n_total FROM lineitem)
        |SELECT l_partkey AS key, count(*) AS n, tot.n_total
        |FROM lineitem CROSS JOIN tot
        |GROUP BY l_partkey, tot.n_total
        |HAVING CAST(count(*) AS DOUBLE) > CAST(tot.n_total AS DOUBLE) * 0.0006
        |ORDER BY n DESC, key ASC""".stripMargin,
    "value_quantiles" ->
      """SELECT event_type,
        |  round(qs[1], 6) AS p50, round(qs[2], 6) AS p90, round(qs[3], 6) AS p99
        |FROM (
        |  SELECT event_type, quantile_cont(value, [0.5, 0.9, 0.99]) AS qs
        |  FROM events GROUP BY event_type)
        |ORDER BY event_type""".stripMargin,
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "star_join_revenue" ->
      """SELECT r_name, n_name, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,
    "top_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "running_daily_revenue" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v
        |  FROM events GROUP BY event_type, CAST(ts AS DATE))
        |SELECT event_type, day, n, round(v, 6) AS v,
        |  round(sum(v) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_v,
        |  row_number() OVER (PARTITION BY event_type ORDER BY day) AS day_rank
        |FROM daily ORDER BY event_type, day""".stripMargin,
    "customer_order_coverage" ->
      """SELECT c_mktsegment, count(*) AS n_cust,
        |  count(o.o_custkey) AS with_orders,
        |  count(*) - count(o.o_custkey) AS without_orders
        |FROM customer c
        |LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o ON c.c_custkey = o.o_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "user_set_ops" ->
      """WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
        |     e AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
        |SELECT 'purchase_not_error' AS tag, user_id
        |  FROM (SELECT user_id FROM p EXCEPT SELECT user_id FROM e)
        |UNION ALL
        |SELECT 'purchase_and_error' AS tag, user_id
        |  FROM (SELECT user_id FROM p INTERSECT SELECT user_id FROM e)
        |ORDER BY tag, user_id""".stripMargin,
    "props_extract" ->
      """SELECT k, count(*) AS n FROM (
        |  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |WHERE k IS NOT NULL GROUP BY k ORDER BY k""".stripMargin,
    "revenue_rollup" ->
      """SELECT
        |  CASE WHEN GROUPING(r_name) = 1 THEN 'ALL' ELSE r_name END AS r_name,
        |  CASE WHEN GROUPING(n_name) = 1 THEN 'ALL' ELSE n_name END AS n_name,
        |  count(*) AS n_orders,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 6) AS total_price
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name, n_name""".stripMargin,
    "sliding_7d_revenue" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v
        |  FROM events GROUP BY event_type, CAST(ts AS DATE))
        |SELECT event_type, day, round(v, 6) AS v,
        |  round(CAST(sum(CAST(v AS DECIMAL(18,4))) OVER (
        |    PARTITION BY event_type ORDER BY day
        |    RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW) AS DOUBLE), 6) AS v7
        |FROM daily ORDER BY event_type, day""".stripMargin,
    "dedup_exact" ->
      """SELECT doc_id, lang, source, n_chars FROM (
        |  SELECT doc_id, lang, source, n_chars,
        |         row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // count algebra: within = n(n−1)/2, across = n_a·n_b per norm key —
    // duplicate pairs are never materialized as rows
    "cross_source_dups" ->
      """WITH c AS (
        |  SELECT md5(regexp_replace(lower(trim(COALESCE(text, ''))), '\s+', ' ', 'g')) AS h,
        |    source, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2),
        |w AS (SELECT source AS source_a, source AS source_b,
        |    n * (n - 1) // 2 AS pairs FROM c WHERE n >= 2),
        |x AS (SELECT a.source AS source_a, b.source AS source_b, a.n * b.n AS pairs
        |  FROM c a JOIN c b ON a.h = b.h AND a.source < b.source),
        |ex AS (SELECT source_a, source_b, CAST(sum(pairs) AS BIGINT) AS n_exact_pairs
        |  FROM (SELECT * FROM w UNION ALL SELECT * FROM x) u GROUP BY 1, 2),
        |t AS (
        |  SELECT doc_id, source, lang,
        |    list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS toks
        |  FROM documents),
        |xx AS (
        |  SELECT doc_id, source, lang, len(toks) AS n, unnest(toks) AS w FROM t),
        |jp AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    a.n AS na, b.n AS nb, count(*) AS inter
        |  FROM xx a JOIN xx b
        |    ON a.lang = b.lang AND a.source = b.source AND a.w = b.w
        |   AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id, 1, 2, 3, 4),
        |nr AS (
        |  SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_near_pairs
        |  FROM jp
        |  WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) >= 0.95
        |  GROUP BY 1, 2)
        |SELECT COALESCE(ex.source_a, nr.source_a) AS source_a,
        |  COALESCE(ex.source_b, nr.source_b) AS source_b,
        |  COALESCE(ex.n_exact_pairs, 0) AS n_exact_pairs,
        |  COALESCE(nr.n_near_pairs, 0) AS n_near_pairs
        |FROM ex FULL OUTER JOIN nr
        |  ON ex.source_a = nr.source_a AND ex.source_b = nr.source_b
        |ORDER BY source_a, source_b""".stripMargin,
    // the seeded CTE replays Dedup.seededDocs verbatim (same modulus,
    // id shift, and literal source)
    // the PUBLIC unseeded surface: whatever duplication the corpus
    // actually holds (possibly none at small SF — the `_gate` twin
    // below carries the planted, never-vacuous check)
    "dup_groups" ->
      """SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
        |FROM documents GROUP BY text HAVING count(*) > 1
        |ORDER BY keeper_id""".stripMargin,
    "dup_groups_gate" ->
      """WITH seeded AS (
        |  SELECT doc_id, text, lang, source, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2199023255552 AS doc_id, text, lang,
        |    'planted_mirror' AS source, n_chars
        |  FROM documents WHERE doc_id % 97 = 3)
        |SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
        |FROM seeded GROUP BY text HAVING count(*) > 1
        |ORDER BY keeper_id""".stripMargin,
    // transitive closure of the unigram-jaccard edges via a recursive
    // CTE — the oracle for the engine's iterative label propagation
    "dup_clusters" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, lang, source,
        |    list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS toks
        |  FROM documents),
        |x AS (SELECT doc_id, lang, source, len(toks) AS n, unnest(toks) AS w FROM t),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM x a JOIN x b
        |    ON a.lang = b.lang AND a.source = b.source AND a.w = b.w
        |   AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id, a.n, b.n
        |  HAVING round(CAST(count(*) AS DOUBLE) / (a.n + b.n - count(*)), 4) >= 0.95),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(doc_id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.doc_id),
        |lab AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id),
        |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id)
        |SELECT lab.doc_id, lab.cluster_id, sz.cluster_size
        |FROM lab JOIN sz USING (cluster_id) ORDER BY doc_id""".stripMargin,
    // the same recursive closure, rolled up to the size histogram
    "dup_cluster_histogram" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, lang, source,
        |    list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS toks
        |  FROM documents),
        |x AS (SELECT doc_id, lang, source, len(toks) AS n, unnest(toks) AS w FROM t),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM x a JOIN x b
        |    ON a.lang = b.lang AND a.source = b.source AND a.w = b.w
        |   AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id, a.n, b.n
        |  HAVING round(CAST(count(*) AS DOUBLE) / (a.n + b.n - count(*)), 4) >= 0.95),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(doc_id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.doc_id),
        |lab AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id),
        |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        |       FROM lab GROUP BY cluster_id)
        |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(count(*) * cluster_size AS BIGINT) AS n_docs,
        |  CAST(count(*) * (cluster_size - 1) AS BIGINT) AS n_dropped_by_dedup
        |FROM sz GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
    // the composed curation pipeline: quality >= 0.5 AND no PII AND
    // min-doc_id representative among each near-dup cluster's SURVIVING
    // members — every stage's oracle fused
    "curate_corpus" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, lang, source,
        |    list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS toks
        |  FROM documents),
        |x AS (SELECT doc_id, lang, source, len(toks) AS n, unnest(toks) AS w FROM t),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM x a JOIN x b
        |    ON a.lang = b.lang AND a.source = b.source AND a.w = b.w
        |   AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id, a.n, b.n
        |  HAVING round(CAST(count(*) AS DOUBLE) / (a.n + b.n - count(*)), 4) >= 0.95),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(doc_id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.doc_id),
        |lab AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id),
        |qf AS (
        |  SELECT doc_id, lang, source,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
        |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      y -> list_contains(['the','a','and','of','to','in','is','on','for','with'], y))) AS DOUBLE)
        |      / len(regexp_split_to_array(lower(trim(text)), '\s+')) AS stop_ratio,
        |    CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
        |      / greatest(length(text), 1) AS punct_density
        |  FROM documents),
        |qual AS (
        |  SELECT doc_id, lang, source,
        |    round((len_score + stop_ratio + (1.0 - punct_density)) / 3.0, 6) AS quality
        |  FROM qf),
        |pii AS (
        |  SELECT doc_id,
        |    (len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+'))
        |     + len(regexp_extract_all(text, 'https?://[^ \t\n]+'))
        |     + len(regexp_extract_all(text, '[0-9]{9,}'))) > 0 AS flagged
        |  FROM documents),
        |surv AS (
        |  SELECT qual.doc_id, qual.lang, qual.source, qual.quality, lab.cluster_id
        |  FROM qual JOIN pii USING (doc_id) JOIN lab USING (doc_id)
        |  WHERE qual.quality >= 0.5 AND NOT pii.flagged),
        |rep AS (SELECT cluster_id, min(doc_id) AS rep_id FROM surv GROUP BY cluster_id)
        |SELECT surv.doc_id, surv.lang, surv.source, surv.quality
        |FROM surv JOIN rep ON surv.cluster_id = rep.cluster_id AND surv.doc_id = rep.rep_id
        |ORDER BY surv.doc_id""".stripMargin,
    // the fused end-to-end oracle: the curate recursive CTE verbatim,
    // extended with the split CASE and the per-shard packing window
    "training_manifest" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, lang, source,
        |    list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS toks
        |  FROM documents),
        |x AS (SELECT doc_id, lang, source, len(toks) AS n, unnest(toks) AS w FROM t),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM x a JOIN x b
        |    ON a.lang = b.lang AND a.source = b.source AND a.w = b.w
        |   AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id, a.n, b.n
        |  HAVING round(CAST(count(*) AS DOUBLE) / (a.n + b.n - count(*)), 4) >= 0.95),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(doc_id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.doc_id),
        |lab AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id),
        |qf AS (
        |  SELECT doc_id, lang, source,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
        |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      y -> list_contains(['the','a','and','of','to','in','is','on','for','with'], y))) AS DOUBLE)
        |      / len(regexp_split_to_array(lower(trim(text)), '\s+')) AS stop_ratio,
        |    CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
        |      / greatest(length(text), 1) AS punct_density
        |  FROM documents),
        |qual AS (
        |  SELECT doc_id, lang, source,
        |    round((len_score + stop_ratio + (1.0 - punct_density)) / 3.0, 6) AS quality
        |  FROM qf),
        |pii AS (
        |  SELECT doc_id,
        |    (len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+'))
        |     + len(regexp_extract_all(text, 'https?://[^ \t\n]+'))
        |     + len(regexp_extract_all(text, '[0-9]{9,}'))) > 0 AS flagged
        |  FROM documents),
        |surv AS (
        |  SELECT qual.doc_id, qual.lang, qual.source, qual.quality, lab.cluster_id
        |  FROM qual JOIN pii USING (doc_id) JOIN lab USING (doc_id)
        |  WHERE qual.quality >= 0.5 AND NOT pii.flagged),
        |rep AS (SELECT cluster_id, min(doc_id) AS rep_id FROM surv GROUP BY cluster_id),
        |kept AS (
        |  SELECT surv.doc_id
        |  FROM surv JOIN rep ON surv.cluster_id = rep.cluster_id AND surv.doc_id = rep.rep_id),
        |man AS (
        |  SELECT d.doc_id, d.lang, d.source,
        |    CASE WHEN substr(md5(d.text), 1, 2) < 'e6' THEN 'train'
        |         WHEN substr(md5(d.text), 1, 2) < 'f3' THEN 'val' ELSE 'test' END AS split,
        |    CAST(len(regexp_extract_all(d.text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tok
        |  FROM documents d JOIN kept USING (doc_id))
        |SELECT split, lang, source, doc_id, n_tok,
        |  CAST(COALESCE(sum(n_tok) OVER (PARTITION BY split, lang, source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off,
        |  CAST(floor(COALESCE(sum(n_tok) OVER (PARTITION BY split, lang, source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048.0) AS BIGINT) AS bin
        |FROM man ORDER BY split, lang, source, doc_id""".stripMargin,
    "tfidf_top_terms" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tfx AS (
        |  SELECT doc_id, term, count(*) AS tf FROM terms
        |  WHERE length(term) > 0 GROUP BY doc_id, term),
        |dfx AS (SELECT term, count(*) AS df FROM tfx GROUP BY term),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tfx.doc_id, tfx.term, tfx.tf, dfx.df,
        |    tfx.tf * (ln((nd.n_docs + 1.0) / (dfx.df + 1.0)) + 1.0) AS score_raw
        |  FROM tfx JOIN dfx USING (term) CROSS JOIN nd)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df,
        |  round(score_raw, 6) AS score
        |FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score_raw DESC, term ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "pii_scan" ->
      """SELECT doc_id, n_emails, n_urls, n_longnums,
        |  (n_emails + n_urls + n_longnums) > 0 AS flagged
        |FROM (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+')) AS BIGINT) AS n_emails,
        |    CAST(len(regexp_extract_all(text, 'https?://[^ \t\n]+')) AS BIGINT) AS n_urls,
        |    CAST(len(regexp_extract_all(text, '[0-9]{9,}')) AS BIGINT) AS n_longnums
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "text_stats" ->
      """SELECT doc_id, n_chars,
        |  length(text) AS len,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |  length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS n_punct,
        |  round(CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
        |    / greatest(length(text), 1), 6) AS upper_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "token_counts" ->
      """SELECT doc_id,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "quality_score" ->
      """WITH f AS (
        |  SELECT doc_id, lang, source,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
        |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      x -> list_contains(['the','a','and','of','to','in','is','on','for','with'], x))) AS DOUBLE)
        |      / len(regexp_split_to_array(lower(trim(text)), '\s+')) AS stop_ratio,
        |    CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
        |      / greatest(length(text), 1) AS punct_density
        |  FROM documents)
        |SELECT doc_id, lang, source,
        |  round(len_score, 6) AS len_score,
        |  round(stop_ratio, 6) AS stop_ratio,
        |  round(punct_density, 6) AS punct_density,
        |  round((len_score + stop_ratio + (1.0 - punct_density)) / 3.0, 6) AS quality
        |FROM f ORDER BY doc_id""".stripMargin,
    // length-minus-stripped-length counting is the one regexp
    // formulation bit-identical between Java regex and RE2
    "encoding_quality" ->
      """WITH f AS (
        |  SELECT doc_id, source, COALESCE(text, '') AS t FROM documents),
        |c AS (
        |  SELECT doc_id, source,
        |    CAST(length(t) - length(regexp_replace(t, '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS BIGINT) AS n_ctrl,
        |    CAST(length(t) - length(regexp_replace(t, '\x{FFFD}', '', 'g')) AS BIGINT) AS n_fffd,
        |    CAST(length(t) - length(regexp_replace(t, '[^\x09\x0A\x0D\x20-\x7E]', '', 'g')) AS BIGINT) AS n_nonascii,
        |    greatest(length(t), 1) AS n
        |  FROM f)
        |SELECT doc_id, source, n_ctrl, n_fffd,
        |  round(CAST(n_nonascii AS DOUBLE) / n, 6) AS nonascii_ratio,
        |  (n_ctrl = 0 AND n_fffd = 0) AS clean
        |FROM c ORDER BY doc_id""".stripMargin,
    // OLS over 12dp-rounded ln values summed as exact DECIMALs — the
    // identical closed-form double sequence then runs in both engines
    "term_zipf" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term FROM documents),
        |f AS (SELECT term, count(*) AS freq FROM tok GROUP BY term),
        |top AS (SELECT term, freq FROM f ORDER BY freq DESC, term ASC LIMIT 500),
        |r AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, term ASC) AS rank FROM top),
        |v AS (SELECT
        |    CAST(round(ln(CAST(rank AS DOUBLE)), 12) AS DECIMAL(18,12)) AS x,
        |    CAST(round(ln(CAST(freq AS DOUBLE)), 12) AS DECIMAL(18,12)) AS y
        |  FROM r),
        |s AS (SELECT count(*) AS cnt, sum(x) AS sx, sum(y) AS sy,
        |    sum(x*y) AS sxy, sum(x*x) AS sxx FROM v),
        |d AS (SELECT CAST(cnt AS BIGINT) AS n_terms, CAST(cnt AS DOUBLE) AS n,
        |    CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
        |    CAST(sxy AS DOUBLE) AS sxy, CAST(sxx AS DOUBLE) AS sxx FROM s),
        |fit AS (SELECT n_terms, n, sx, sy,
        |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope_raw FROM d)
        |SELECT n_terms, round(slope_raw, 6) AS zipf_slope,
        |  round((sy - slope_raw * sx) / n, 6) AS intercept
        |FROM fit""".stripMargin,
    "lang_id" ->
      """WITH s AS (
        |  SELECT doc_id, lang AS lang_given,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, lang_given,
        |    CAST(len(list_filter(w, x -> list_contains(['the','and','of'], x))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(w, x -> list_contains(['der','und','die'], x))) AS BIGINT) AS s_de,
        |    CAST(len(list_filter(w, x -> list_contains(['el','que','los'], x))) AS BIGINT) AS s_es,
        |    CAST(len(list_filter(w, x -> list_contains(['le','et','les'], x))) AS BIGINT) AS s_fr,
        |    CAST(len(list_filter(w, x -> list_contains(['de','shi','le'], x))) AS BIGINT) AS s_zh
        |  FROM s)
        |SELECT doc_id, lang_given,
        |  list_sort([
        |    {'negscore': -s_en, 'lang': 'en'},
        |    {'negscore': -s_de, 'lang': 'de'},
        |    {'negscore': -s_es, 'lang': 'es'},
        |    {'negscore': -s_fr, 'lang': 'fr'},
        |    {'negscore': -s_zh, 'lang': 'zh'}])[1].lang AS pred_lang
        |FROM sc ORDER BY doc_id""".stripMargin,
    // langId's CTEs + the per-source disagreement rollup
    "lang_mismatch" ->
      """WITH s AS (
        |  SELECT doc_id, source, lang AS lang_given,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, source, lang_given,
        |    CAST(len(list_filter(w, x -> list_contains(['the','and','of'], x))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(w, x -> list_contains(['der','und','die'], x))) AS BIGINT) AS s_de,
        |    CAST(len(list_filter(w, x -> list_contains(['el','que','los'], x))) AS BIGINT) AS s_es,
        |    CAST(len(list_filter(w, x -> list_contains(['le','et','les'], x))) AS BIGINT) AS s_fr,
        |    CAST(len(list_filter(w, x -> list_contains(['de','shi','le'], x))) AS BIGINT) AS s_zh
        |  FROM s),
        |pr AS (
        |  SELECT doc_id, source, lang_given,
        |    list_sort([
        |      {'negscore': -s_en, 'lang': 'en'},
        |      {'negscore': -s_de, 'lang': 'de'},
        |      {'negscore': -s_es, 'lang': 'es'},
        |      {'negscore': -s_fr, 'lang': 'fr'},
        |      {'negscore': -s_zh, 'lang': 'zh'}])[1].lang AS pred_lang
        |  FROM sc)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN pred_lang <> lang_given THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
        |  round(CAST(sum(CASE WHEN pred_lang <> lang_given THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS mismatch_rate
        |FROM pr GROUP BY source ORDER BY source""".stripMargin,
    // global head vocabulary (total-ordered top-k), per-feed OOV share
    "vocab_oov_rate" ->
      """WITH tok AS (
        |  SELECT lang, source,
        |    unnest(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS w
        |  FROM documents),
        |head AS (
        |  SELECT w FROM (
        |    SELECT w, count(*) AS c FROM tok GROUP BY w
        |    ORDER BY c DESC, w ASC LIMIT 1000)),
        |j AS (
        |  SELECT tok.lang, tok.source,
        |    CASE WHEN head.w IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM tok LEFT JOIN head ON head.w = tok.w)
        |SELECT lang, source, count(*) AS n_tokens,
        |  CAST(sum(oov) AS BIGINT) AS n_oov,
        |  round(CAST(sum(oov) AS DOUBLE) / count(*), 6) AS oov_rate
        |FROM j GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    // same verified-pair CTE as ngram_jaccard, restricted to edges that
    // CROSS the id-keyed base/increment split; exact tier = normalized
    // text equality; precedence exact > near, partner = lowest base id
    "dedup_increment" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(trim(coalesce(text, ''))), '\s+', ' ', 'g') AS norm,
        |    doc_id % 7 <> 0 AS is_base
        |  FROM documents),
        |ex AS (
        |  SELECT i.doc_id, min(b.doc_id) AS exact_base
        |  FROM d i JOIN d b ON i.norm = b.norm AND NOT i.is_base AND b.is_base
        |  GROUP BY i.doc_id),
        |t AS (
        |  SELECT doc_id, lang, source,
        |    list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS toks
        |  FROM documents),
        |x AS (
        |  SELECT doc_id, lang, source, len(toks) AS n, unnest(toks) AS w FROM t),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
        |         count(*) AS inter
        |  FROM x a JOIN x b
        |    ON a.lang = b.lang AND a.source = b.source AND a.w = b.w
        |   AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4),
        |nearp AS (
        |  SELECT doc_a, doc_b FROM pairs
        |  WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) >= 0.95),
        |nr AS (
        |  SELECT u.i AS doc_id, min(u.b) AS near_base FROM (
        |    SELECT doc_a AS i, doc_b AS b FROM nearp
        |    UNION ALL
        |    SELECT doc_b AS i, doc_a AS b FROM nearp) u
        |  JOIN d di ON di.doc_id = u.i AND NOT di.is_base
        |  JOIN d db ON db.doc_id = u.b AND db.is_base
        |  GROUP BY u.i)
        |SELECT d.doc_id,
        |  CASE WHEN ex.exact_base IS NOT NULL THEN 'drop_exact'
        |       WHEN nr.near_base IS NOT NULL THEN 'drop_near'
        |       ELSE 'kept' END AS verdict,
        |  coalesce(ex.exact_base, nr.near_base) AS base_doc_id
        |FROM d
        |LEFT JOIN ex ON d.doc_id = ex.doc_id
        |LEFT JOIN nr ON d.doc_id = nr.doc_id
        |WHERE NOT d.is_base
        |ORDER BY d.doc_id""".stripMargin,
    "ngram_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id, lang, source,
        |    list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS toks
        |  FROM documents),
        |x AS (
        |  SELECT doc_id, lang, source, len(toks) AS n, unnest(toks) AS w FROM t),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
        |         count(*) AS inter
        |  FROM x a JOIN x b
        |    ON a.lang = b.lang AND a.source = b.source AND a.w = b.w
        |   AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4)
        |SELECT doc_a, doc_b,
        |  round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) AS jaccard
        |FROM pairs
        |WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) >= 0.95
        |ORDER BY doc_a, doc_b""".stripMargin,
    // the naive all-pairs form of the pigeonhole chunk join; DuckDB's
    // hamming() is char-based over the equal-length padded keys
    "fuzzy_key_pairs" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    rpad(lower(substr(text, 1, 24)), 24, chr(1)) AS key
        |  FROM documents
        |  WHERE length(trim(COALESCE(text, ''))) > 0)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(hamming(a.key, b.key) AS INT) AS dist
        |FROM k a JOIN k b ON a.doc_id < b.doc_id
        |WHERE hamming(a.key, b.key) <= 2
        |ORDER BY doc_a, doc_b""".stripMargin,
    // bigram shingles joined with chr(1) — the same out-of-alphabet
    // separator the engine uses, so token-sequence boundaries agree
    "bigram_jaccard" ->
      """WITH w AS (
        |  SELECT doc_id, lang, source,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, lang, source,
        |    list_distinct(list_transform(generate_series(1, greatest(len(ws) - 1, 1)),
        |      i -> array_to_string(list_slice(ws, i, i + 1), chr(1)))) AS toks
        |  FROM w),
        |x AS (
        |  SELECT doc_id, lang, source, len(toks) AS n, unnest(toks) AS g FROM t),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
        |         count(*) AS inter
        |  FROM x a JOIN x b
        |    ON a.lang = b.lang AND a.source = b.source AND a.g = b.g
        |   AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4)
        |SELECT doc_a, doc_b,
        |  round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) AS jaccard
        |FROM pairs
        |WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,
    // positional 16-gram join + per-diagonal islands window, with the
    // 256-occurrence hot-gram cap applied identically on both sides
    "substring_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, s.pos AS pos, s.gram AS gram
        |  FROM (
        |    SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 15),
        |      i -> {'pos': CAST(i AS BIGINT),
        |            'gram': array_to_string(list_slice(ws, i, i + 15), chr(1))})) AS s
        |    FROM t WHERE len(ws) >= 16)),
        |c AS (SELECT gram FROM g GROUP BY gram HAVING count(*) <= 256),
        |gc AS (SELECT g.doc_id, g.pos, g.gram FROM g JOIN c USING (gram)),
        |m AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a, b.pos AS pos_b,
        |         a.pos - b.pos AS diag
        |  FROM gc a JOIN gc b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |r AS (
        |  SELECT doc_a, doc_b, diag, pos_a, pos_b,
        |    pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS grp
        |  FROM m)
        |SELECT doc_a, doc_b, min(pos_a) AS a_start, min(pos_b) AS b_start,
        |  max(pos_a) - min(pos_a) + 16 AS span_tokens
        |FROM r GROUP BY doc_a, doc_b, diag, grp
        |ORDER BY doc_a, doc_b, a_start, b_start""".stripMargin,
    // the span CTE extended with the overlap-merge windows: running-max
    // islands over half-open [s, e) intervals per covered document
    "substring_dup_coverage" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, s.pos AS pos, s.gram AS gram
        |  FROM (
        |    SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 15),
        |      i -> {'pos': CAST(i AS BIGINT),
        |            'gram': array_to_string(list_slice(ws, i, i + 15), chr(1))})) AS s
        |    FROM t WHERE len(ws) >= 16)),
        |c AS (SELECT gram FROM g GROUP BY gram HAVING count(*) <= 256),
        |gc AS (SELECT g.doc_id, g.pos, g.gram FROM g JOIN c USING (gram)),
        |m AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a, b.pos AS pos_b,
        |         a.pos - b.pos AS diag
        |  FROM gc a JOIN gc b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |r AS (
        |  SELECT doc_a, doc_b, diag, pos_a, pos_b,
        |    pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS grp
        |  FROM m),
        |spans AS (
        |  SELECT doc_a, doc_b, min(pos_b) AS b_start,
        |    max(pos_a) - min(pos_a) + 16 AS span_tokens
        |  FROM r GROUP BY doc_a, doc_b, diag, grp),
        |iv AS (SELECT doc_b AS doc_id, b_start AS s, b_start + span_tokens AS e FROM spans),
        |mrk AS (
        |  SELECT doc_id, s, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM iv),
        |isl AS (
        |  SELECT doc_id, s, e,
        |    sum(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY s, e
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM mrk),
        |mg AS (SELECT doc_id, island, min(s) AS i_s, max(e) AS i_e FROM isl GROUP BY doc_id, island),
        |cov AS (SELECT doc_id, count(*) AS dup_islands, sum(i_e - i_s) AS dup_tokens
        |        FROM mg GROUP BY doc_id),
        |tk AS (SELECT doc_id,
        |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
        |       FROM documents)
        |SELECT cov.doc_id, CAST(dup_islands AS BIGINT) AS dup_islands,
        |  CAST(dup_tokens AS BIGINT) AS dup_tokens, tk.n_tok,
        |  round(CAST(dup_tokens AS DOUBLE) / tk.n_tok, 6) AS dup_frac
        |FROM cov JOIN tk USING (doc_id) ORDER BY doc_id""".stripMargin,
    "embedding_near_dup" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
        |  FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))) / (a.norm * b.norm), 4) AS cosine
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))) / (a.norm * b.norm), 4) >= 0.45
        |ORDER BY vec_a, vec_b""".stripMargin,
    "doc_chunks" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |st AS (
        |  SELECT doc_id, ws, unnest(list_transform(
        |    generate_series(0, greatest(CAST(ceil((len(ws) - 64) / CAST(48 AS DOUBLE)) AS INT), 0)),
        |    i -> i * 48)) AS start_tok
        |  FROM t)
        |SELECT doc_id, CAST(start_tok / 48 AS BIGINT) AS chunk_id,
        |  CAST(start_tok AS BIGINT) AS start_tok,
        |  CAST(least(len(ws) - start_tok, 64) AS BIGINT) AS n_tok,
        |  array_to_string(ws[start_tok + 1 : start_tok + 64], ' ') AS chunk_text
        |FROM st ORDER BY doc_id, chunk_id""".stripMargin,
    "bm25_search" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |b AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, ws FROM t),
        |st AS (SELECT count(*) AS n_docs,
        |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM b),
        |tf AS (
        |  SELECT doc_id, dl, w, CAST(count(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, dl, unnest(ws) AS w FROM b)
        |  WHERE w IN ('spark', 'join', 'query')
        |  GROUP BY doc_id, dl, w),
        |dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |c AS (
        |  SELECT tf.doc_id,
        |    CAST(round(
        |      ln(1.0 + (CAST(st.n_docs AS DOUBLE) - CAST(dfq.df AS DOUBLE) + 0.5)
        |        / (CAST(dfq.df AS DOUBLE) + 0.5))
        |      * tf.tf * 2.2
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * CAST(tf.dl AS DOUBLE) / st.avgdl)), 8)
        |      AS DECIMAL(18,8)) AS contrib
        |  FROM tf JOIN dfq USING (w) CROSS JOIN st)
        |SELECT doc_id, count(*) AS n_terms, round(CAST(sum(contrib) AS DOUBLE), 6) AS score
        |FROM c GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 50""".stripMargin,
    // the index-served twin: same BM25 closed form, different term set
    // and k — the oracle recomputes from the corpus, so a hash match
    // proves the postings/stats store preserves the live semantics
    "text_search" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |b AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, ws FROM t),
        |st AS (SELECT count(*) AS n_docs,
        |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM b),
        |tf AS (
        |  SELECT doc_id, dl, w, CAST(count(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, dl, unnest(ws) AS w FROM b)
        |  WHERE w IN ('data', 'table', 'hash')
        |  GROUP BY doc_id, dl, w),
        |dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |c AS (
        |  SELECT tf.doc_id,
        |    CAST(round(
        |      ln(1.0 + (CAST(st.n_docs AS DOUBLE) - CAST(dfq.df AS DOUBLE) + 0.5)
        |        / (CAST(dfq.df AS DOUBLE) + 0.5))
        |      * tf.tf * 2.2
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * CAST(tf.dl AS DOUBLE) / st.avgdl)), 8)
        |      AS DECIMAL(18,8)) AS contrib
        |  FROM tf JOIN dfq USING (w) CROSS JOIN st)
        |SELECT doc_id, count(*) AS n_terms, round(CAST(sum(contrib) AS DOUBLE), 6) AS score
        |FROM c GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // postings-store health card vs a full corpus recompute: doc and
    // token totals from doclens/_lex_stats, vocabulary and posting
    // cardinalities from the partitioned postings table itself
    "lex_index_stats" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |b AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, ws FROM t),
        |p AS (
        |  SELECT doc_id, w FROM (SELECT doc_id, unnest(ws) AS w FROM b)
        |  GROUP BY doc_id, w)
        |SELECT
        |  (SELECT count(*) FROM b) AS n_docs,
        |  (SELECT count(DISTINCT w) FROM (SELECT unnest(ws) AS w FROM t)) AS n_terms,
        |  (SELECT count(*) FROM p) AS n_postings,
        |  (SELECT coalesce(CAST(sum(dl) AS BIGINT), 0) FROM b) AS sum_dl,
        |  round((SELECT CAST(coalesce(sum(dl), 0) AS DOUBLE) FROM b)
        |    / greatest((SELECT count(*) FROM b), 1), 6) AS avgdl""".stripMargin,
    "lex_index_lifecycle_gates" ->
      ("SELECT * FROM (VALUES " +
        Seq("lex_append_covers", "lex_append_equals_rebuild",
          "lex_append_noop", "lex_compact_folds_tombstones",
          "lex_compact_preserves_results", "lex_delete_equals_rebuild",
          "lex_delete_never_served", "lex_live_identity",
          "lex_rewrite_refused", "lex_stats_match_store")
          .map(m => s"('$m', TRUE)").mkString(", ") +
        ") AS t(metric, ok) ORDER BY metric"),
    "doc_ingest_gates" ->
      ("SELECT * FROM (VALUES " +
        Seq("doc_ingest_covers", "doc_ingest_equals_rebuild",
          "doc_ingest_replay_noop")
          .map(m => s"('$m', TRUE)").mkString(", ") +
        ") AS t(metric, ok) ORDER BY metric"),
    // the index tokenizes on whitespace (regexp_split_to_array mirrors
    // split), positions 0-based; adjacency = pos+1 containment
    "phrase_search_indexed" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id, i - 1 AS pos
        |  FROM t, unnest(range(1, greatest(len(ws), 1))) AS u(i)
        |  WHERE ws[i] = 'table' AND ws[i + 1] = 'hash')
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
        |  CAST(min(pos) AS BIGINT) AS first_pos
        |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "phrase_search_kterm" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id, i - 1 AS pos
        |  FROM t, unnest(range(1, greatest(len(ws) - 1, 1))) AS u(i)
        |  WHERE ws[i] = 'stream' AND ws[i + 1] = 'table' AND ws[i + 2] = 'hash')
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
        |  CAST(min(pos) AS BIGINT) AS first_pos
        |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the batched twin: a (query_id, term) VALUES table drives the
    // same BM25 pipeline; per-query top-10 by (score desc, doc_id)
    "text_search_batch" ->
      """WITH q(query_id, w) AS (VALUES
        |  (0, 'spark'), (0, 'join'), (0, 'query'),
        |  (1, 'data'), (1, 'table'), (1, 'hash'),
        |  (2, 'stream'), (2, 'filter'), (2, 'sort')),
        |t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |b AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, ws FROM t),
        |st AS (SELECT count(*) AS n_docs,
        |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM b),
        |tf AS (
        |  SELECT doc_id, dl, w, CAST(count(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, dl, unnest(ws) AS w FROM b)
        |  WHERE w IN (SELECT DISTINCT w FROM q)
        |  GROUP BY doc_id, dl, w),
        |dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |c AS (
        |  SELECT q.query_id, tf.doc_id,
        |    CAST(round(
        |      ln(1.0 + (CAST(st.n_docs AS DOUBLE) - CAST(dfq.df AS DOUBLE) + 0.5)
        |        / (CAST(dfq.df AS DOUBLE) + 0.5))
        |      * tf.tf * 2.2
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * CAST(tf.dl AS DOUBLE) / st.avgdl)), 8)
        |      AS DECIMAL(18,8)) AS contrib
        |  FROM tf JOIN q USING (w) JOIN dfq USING (w) CROSS JOIN st),
        |s AS (
        |  SELECT query_id, doc_id, count(*) AS n_terms,
        |    round(CAST(sum(contrib) AS DOUBLE), 6) AS score
        |  FROM c GROUP BY query_id, doc_id),
        |r AS (SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rk FROM s)
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, n_terms, score
        |FROM r WHERE rk <= 10 ORDER BY query_id, doc_id""".stripMargin,
    "doc_perplexity" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, s[1] AS w1, s[2] AS w2
        |  FROM (SELECT doc_id, unnest(list_zip(ws, ws[2:])) AS s FROM t)
        |  WHERE s[2] IS NOT NULL),
        |bi AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2),
        |ctx AS (SELECT w1, sum(cb) AS cw FROM bi GROUP BY w1),
        |voc AS (SELECT count(DISTINCT w) AS v FROM (SELECT unnest(ws) AS w FROM t)),
        |lp AS (
        |  SELECT bg.doc_id,
        |    log2((bi.cb + CAST(0.5 AS DOUBLE)) / (ctx.cw + CAST(0.5 AS DOUBLE) * voc.v)) AS l
        |  FROM bg JOIN bi USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN voc)
        |SELECT doc_id, count(*) AS n_bigrams, round(pow(2.0, -avg(l)), 4) AS ppl
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // every (method × invariant) verdict must be TRUE — the literal
    // table is generated from the same GatedMethods list the query uses
    "fit_quality_gates" ->
      ("SELECT * FROM (VALUES " +
        graft.engine.FitGates.GatedMethods
          .flatMap(m => Seq("bands_nested", "finite", "h_rows")
            .map(s => s"('${m.toLowerCase}_$s', TRUE)"))
          .mkString(", ") +
        ") AS t(metric, ok) ORDER BY metric"),
    // literal-TRUE verdict oracle, same pattern as fit_quality_gates:
    // the row set IS the contract — a failed check hash-mismatches
    "plan_gates" ->
      ("SELECT * FROM (VALUES " +
        Seq("ann_ivf_equi_join", "ann_lsh_equi_join",
          "bfs_frontier_equi_join",
          "bloom_probe_filters_fact_scan",
          "bloom_cascade_carries_two_probes",
          "salted_join_stays_equi", "snapshot_diff_full_outer_equi",
          "phrase_search_joinless", "char_entropy_joinless_single_pass",
          "token_pmi_broadcasts_unigrams",
          "min_cost_supplier_decorrelates",
          "ngram_novelty_equi_join", "tfidf_reuses_cached_tf",
          "deletion_audit_semi_join_cascade",
          "supplier_cnt_not_in_anti_join",
          "bucketed_join_shuffle_free", "disjunctive_filter_stays_equi",
          "fuzzy_contamination_broadcast_probe",
          "heavy_hitters_recount_broadcast_semi",
          "linear_attribution_banded_equi_join",
          "open_orders_sweep_broadcasts_deltas",
          "returned_items_all_equi_join",
          "eval_contamination_broadcasts_evalset",
          "events_day_slice_stats_prunable",
          "exists_becomes_semi_join", "fuzzy_key_pairs_equi_join",
          "local_supplier_all_equi_join", "market_share_all_equi_join",
          "minhash_candidates_equi_join", "nation_volume_all_equi_join",
          "not_exists_becomes_anti_join", "order_histogram_outer_equi_join",
          "order_value_percentile_no_global_window",
          "ann_ivf_filtered_scoring_broadcast_attach",
          "ann_query_search_partition_pruned",
          "ann_query_search_filtered_no_corpus_scan",
          "ann_query_search_filtered_lang_no_corpus_scan",
          "ann_ivf_range_set_no_window",
          "text_search_pruned_postings",
          "phrase_indexed_pruned_postings",
          "pagerank_iterations_equi_join", "part_affinity_equi_join",
          "product_profit_all_equi_join",
          "promo_share_broadcasts_part", "q1_pricing_filter_pushed",
          "scalar_subquery_decorrelates", "ship_class_matrix_equi_join",
          "shipping_priority_topk_fused",
          "snm_pairs_banded_equi_join",
          "star_join_broadcasts_dims", "top_orders_no_global_sort",
          "triangles_equi_join",
          "ann_ivf_scoring_broadcast_attach",
          "ann_pq_scoring_broadcast_attach",
          "ann_lsh_scoring_broadcast_attach",
          "line_dedup_no_window_equi_join",
          "gopher_flags_pure_map",
          "c4_filters_single_agg_no_join",
          "gopher_repetition_no_window")
          .map(c => s"('$c', TRUE)").mkString(", ") +
        ") AS t(check_name, ok) ORDER BY check_name"),
    // literal-TRUE verdict oracle generated from the same metric list
    // the query emits — any failed invariant hash-mismatches
    "sketch_stream_gates" ->
      ("SELECT * FROM (VALUES " +
        graft.ops.SketchStreamGates.Metrics.sorted
          .map(m => s"('$m', TRUE)").mkString(", ") +
        ") AS t(metric, ok) ORDER BY metric"),
    // literal-TRUE verdict rows for the real-decode pipeline (dims,
    // grid round-trip, planted dups, banded ≡ brute force, plus the
    // round-14 lossy/corrupt tiers: exact quarantine of the planted
    // undecodable blobs, JPEG dims-from-headers, JPEG dHash stability)
    "media_decode_gates" ->
      """SELECT * FROM (VALUES
        |  ('media_decode_count', TRUE),
        |  ('media_decode_dims', TRUE),
        |  ('media_decode_grid_roundtrip', TRUE),
        |  ('media_jpeg_dhash_stable', TRUE),
        |  ('media_jpeg_dims_from_headers', TRUE),
        |  ('media_quarantine_exact', TRUE),
        |  ('media_real_exact_dups_hamming0', TRUE),
        |  ('media_real_near_dups_found', TRUE),
        |  ('media_real_pairs_match_bruteforce', TRUE)) AS t(metric, ok)
        |ORDER BY metric""".stripMargin,
    // literal-TRUE verdict oracle from the same metric list the query
    // emits (the sketch_stream_gates discipline)
    "conformal_coverage_gates" ->
      ("SELECT * FROM (VALUES " +
        graft.engine.Conformal.CoverageGateMetrics.sorted
          .map(m => s"('$m', TRUE)").mkString(", ") +
        ") AS t(metric, ok) ORDER BY metric"),
    // literal-TRUE verdict rows: the IVF index's end-task retrieval
    // metrics (nDCG/MRR/P@k pooled over all queries) each ≥ 0.95 of the
    // exact tier's — the quality complement to ann_recall_gates
    "retrieval_quality_ivf" ->
      """SELECT 'ivf_mrr_ratio' AS metric, CAST(0.95 AS DOUBLE) AS floor, TRUE AS ok
        |UNION ALL SELECT 'ivf_ndcg_ratio', CAST(0.95 AS DOUBLE), TRUE
        |UNION ALL SELECT 'ivf_p_at_k_ratio', CAST(0.95 AS DOUBLE), TRUE
        |ORDER BY metric""".stripMargin,
    // the quantizer's occupancy-balance contract as a driver-hashed
    // verdict row — the drift monitor of the persisted/append-grown
    // index (soak enforces the same ceiling at 20k/100k/1M)
    // ceilings interpolated from the Similarity constants so the
    // report, the acting policy, and this oracle cannot drift apart
    "ivf_index_health" ->
      s"""SELECT 'ivf_appended_frac_of_fit' AS metric, CAST(${Similarity.MaxAppendedFrac} AS DOUBLE) AS ceiling, TRUE AS ok
        |UNION ALL SELECT 'ivf_cell_balance_max_over_mean', CAST(${Similarity.MaxBalanceRatio} AS DOUBLE), TRUE
        |UNION ALL SELECT 'ivf_dead_rows_frac', CAST(${Similarity.MaxDeletedFrac} AS DOUBLE), TRUE
        |UNION ALL SELECT 'ivf_label_stats_drift_incidents', CAST(0.0 AS DOUBLE), TRUE
        |ORDER BY metric""".stripMargin,
    "lsh_index_health" ->
      s"""SELECT 'lsh_dead_rows_frac' AS metric, CAST(${Similarity.MaxDeletedFrac} AS DOUBLE) AS ceiling, TRUE AS ok
        |UNION ALL SELECT 'lsh_salt_group_max_over_cap', CAST(2.0 AS DOUBLE), TRUE
        |UNION ALL SELECT 'lsh_tables_complete', CAST(8.0 AS DOUBLE), TRUE
        |ORDER BY metric""".stripMargin,
    "lex_index_health" ->
      s"""SELECT 'lex_dead_rows_frac' AS metric, CAST(${Similarity.MaxDeletedFrac} AS DOUBLE) AS ceiling, TRUE AS ok
        |UNION ALL SELECT 'lex_layout_current', CAST(2.0 AS DOUBLE), TRUE
        |UNION ALL SELECT 'lex_stats_consistent', CAST(1.0 AS DOUBLE), TRUE
        |ORDER BY metric""".stripMargin,
    // the persisted serving-path stats must equal the corpus's own live
    // label counts (the default generation carries no deletes on the
    // driver corpora) — a stats-maintenance bug hash-mismatches here
    "ann_index_label_stats" ->
      """SELECT label, count(*) AS n_live FROM embeddings
        |WHERE embedding IS NOT NULL AND label IS NOT NULL
        |GROUP BY label ORDER BY label""".stripMargin,
    "ann_serving_batch_gate" ->
      "SELECT 'batch_equals_looped_serving' AS metric, TRUE AS ok",
    // the lang twin: the store attaches lang from documents at build
    // time (vec_id = doc_id), so live counts equal the join's counts
    "ann_index_lang_stats" ->
      """SELECT d.lang AS lang, count(*) AS n_live
        |FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
        |WHERE e.embedding IS NOT NULL AND d.lang IS NOT NULL
        |GROUP BY d.lang ORDER BY lang""".stripMargin,
    // the delete-leg lifecycle verdicts: every row must be TRUE — a
    // deleted vector serving, a compaction changing results, or an
    // append resurrecting a tombstoned id hash-mismatches here
    "ann_index_lifecycle_gates" ->
      """SELECT 'append_cannot_resurrect' AS metric, TRUE AS ok
        |UNION ALL SELECT 'compact_folds_tombstones', TRUE
        |UNION ALL SELECT 'compact_preserves_results', TRUE
        |UNION ALL SELECT 'deleted_never_served', TRUE
        |UNION ALL SELECT 'ivf_append_content_guard', TRUE
        |UNION ALL SELECT 'k_stays_filled', TRUE
        |UNION ALL SELECT 'lsh_append_noop', TRUE
        |UNION ALL SELECT 'lsh_compact_folds_tombstones', TRUE
        |UNION ALL SELECT 'lsh_compact_preserves_live_rows', TRUE
        |UNION ALL SELECT 'lsh_deleted_never_served', TRUE
        |ORDER BY metric""".stripMargin,
    "ann_recall_gates" ->
      """SELECT 'ann_ivf_filtered_recall_at_5' AS metric, CAST(0.9 AS DOUBLE) AS floor, TRUE AS ok
        |UNION ALL SELECT 'ann_ivf_range_recall', CAST(0.9 AS DOUBLE), TRUE
        |UNION ALL SELECT 'ann_ivf_recall_at_5', CAST(0.9 AS DOUBLE), TRUE
        |UNION ALL SELECT 'ann_lsh_recall_at_5', CAST(0.9 AS DOUBLE), TRUE
        |UNION ALL SELECT 'ann_pq_filtered_recall_at_5', CAST(0.9 AS DOUBLE), TRUE
        |UNION ALL SELECT 'ann_pq_recall_at_5', CAST(0.9 AS DOUBLE), TRUE
        |UNION ALL SELECT 'minhash_component_recall', CAST(0.95 AS DOUBLE), TRUE
        |ORDER BY metric""".stripMargin,
    "semantic_dedup" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |pairs AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))) / (a.norm * b.norm), 4) >= 0.40),
        |edges AS (
        |  SELECT va AS src, vb AS dst FROM pairs
        |  UNION ALL SELECT vb, va FROM pairs),
        |reach(vec_id, r) AS (
        |  SELECT vec_id, vec_id FROM embeddings WHERE embedding IS NOT NULL
        |  UNION
        |  SELECT edges.src, reach.r FROM edges JOIN reach ON edges.dst = reach.vec_id),
        |lab AS (SELECT vec_id, min(r) AS cluster_id FROM reach GROUP BY vec_id),
        |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id)
        |SELECT lab.vec_id, lab.cluster_id, sz.cluster_size,
        |  lab.vec_id = lab.cluster_id AS keep
        |FROM lab JOIN sz USING (cluster_id) ORDER BY vec_id""".stripMargin,
    // batch-vs-base increment: a DIRECT cosine edge into the base
    // drops the incoming vector; same pair predicate as semantic_dedup
    "semantic_dedup_increment" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |inc AS (SELECT * FROM e WHERE vec_id % 7 = 0),
        |base AS (SELECT * FROM e WHERE vec_id % 7 <> 0),
        |m AS (
        |  SELECT i.vec_id AS vec_id, min(b.vec_id) AS base_vec_id
        |  FROM inc i JOIN base b
        |    ON round(list_sum(list_transform(list_zip(i.embedding, b.embedding),
        |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))) / (i.norm * b.norm), 4) >= 0.40
        |  GROUP BY i.vec_id)
        |SELECT inc.vec_id,
        |  CASE WHEN m.base_vec_id IS NOT NULL THEN 'drop_semantic' ELSE 'kept' END AS verdict,
        |  m.base_vec_id
        |FROM inc LEFT JOIN m USING (vec_id) ORDER BY vec_id""".stripMargin,
    "semantic_increment_gate" ->
      "SELECT 'semantic_increment_agreement' AS metric, TRUE AS ok",
    // leave-one-out kNN vote over the exact top-5; null-labeled
    // neighbors consume slots but never vote (labels join after topk)
    "label_knn_accuracy" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
        |  FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id, b.vec_id AS other_id,
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))) / (a.norm * b.norm) AS sim_raw
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |topk AS (SELECT vec_id, other_id FROM (
        |  SELECT vec_id, other_id,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY sim_raw DESC, other_id ASC) AS rank
        |  FROM pairs) WHERE rank <= 5),
        |lb AS (SELECT vec_id, CAST(label AS BIGINT) AS label
        |  FROM embeddings WHERE label IS NOT NULL),
        |votes AS (
        |  SELECT t.vec_id, lb.label AS nb_label, count(*) AS v
        |  FROM topk t JOIN lb ON lb.vec_id = t.other_id GROUP BY 1, 2),
        |pred AS (SELECT vec_id, nb_label AS pred FROM (
        |  SELECT vec_id, nb_label,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY v DESC, nb_label ASC) AS rn
        |  FROM votes) WHERE rn = 1)
        |SELECT l.label, count(*) AS n,
        |  CAST(sum(CASE WHEN p.pred = l.label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        |  round(CAST(sum(CASE WHEN p.pred = l.label THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS accuracy
        |FROM pred p JOIN lb l ON l.vec_id = p.vec_id
        |GROUP BY l.label ORDER BY l.label""".stripMargin,
    // RRF fuses the two independently-verified retrieval tiers by rank
    // only — two IEEE terms added in written order, no normalization
    "hybrid_search" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |b AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, ws FROM t),
        |st AS (SELECT count(*) AS n_docs,
        |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM b),
        |tf AS (
        |  SELECT doc_id, dl, w, CAST(count(*) AS DOUBLE) AS tf
        |  FROM (SELECT doc_id, dl, unnest(ws) AS w FROM b)
        |  WHERE w IN ('spark', 'join', 'query')
        |  GROUP BY doc_id, dl, w),
        |dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |c AS (
        |  SELECT tf.doc_id,
        |    CAST(round(
        |      ln(1.0 + (CAST(st.n_docs AS DOUBLE) - CAST(dfq.df AS DOUBLE) + 0.5)
        |        / (CAST(dfq.df AS DOUBLE) + 0.5))
        |      * tf.tf * 2.2
        |      / (tf.tf + 1.2 * (0.25 + 0.75 * CAST(tf.dl AS DOUBLE) / st.avgdl)), 8)
        |      AS DECIMAL(18,8)) AS contrib
        |  FROM tf JOIN dfq USING (w) CROSS JOIN st),
        |lex0 AS (
        |  SELECT doc_id, round(CAST(sum(contrib) AS DOUBLE), 6) AS score
        |  FROM c GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 50),
        |lex AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r_lex
        |  FROM lex0),
        |e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
        |  FROM embeddings),
        |vp AS (
        |  SELECT b2.vec_id AS doc_id,
        |    list_sum(list_transform(list_zip(a.embedding, b2.embedding),
        |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))) / (a.norm * b2.norm) AS sim_raw
        |  FROM e a JOIN e b2 ON a.vec_id = 0 AND b2.vec_id <> 0),
        |vec AS (SELECT doc_id, r_vec FROM (
        |    SELECT doc_id,
        |      row_number() OVER (ORDER BY sim_raw DESC, doc_id ASC) AS r_vec
        |    FROM vp) WHERE r_vec <= 50)
        |SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id, l.r_lex, v.r_vec,
        |  round(COALESCE(1.0 / (60 + l.r_lex), 0.0)
        |      + COALESCE(1.0 / (60 + v.r_vec), 0.0), 6) AS rrf
        |FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
        |ORDER BY rrf DESC, doc_id ASC LIMIT 20""".stripMargin,
    "cosine_topk" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
        |  FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id, b.vec_id AS other_id,
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))) / (a.norm * b.norm) AS sim_raw
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id)
        |SELECT vec_id, CAST(rank AS BIGINT) AS rank, other_id, round(sim_raw, 4) AS sim
        |FROM (
        |  SELECT vec_id, other_id, sim_raw,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY sim_raw DESC, other_id ASC) AS rank
        |  FROM pairs)
        |WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin,
    // radius query: identical pair arithmetic to cosine_topk, the
    // threshold on the UNROUNDED cosine (one IEEE expression both
    // engines evaluate — the hard_negatives membership rule), no rank
    // window at all (a range result is a set)
    "cosine_range_search" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |pairs AS (
        |  SELECT a.vec_id, b.vec_id AS other_id,
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))) / (a.norm * b.norm) AS sim_raw
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id AND a.vec_id % 50 = 0)
        |SELECT vec_id, other_id, round(sim_raw, 4) AS sim
        |FROM pairs WHERE sim_raw >= CAST(0.2 AS DOUBLE)
        |ORDER BY vec_id, other_id""".stripMargin,
    // the filtered exact tier: identical arithmetic to cosine_topk with
    // the pool predicate on the NEIGHBOR side of the pair join (the
    // round-15 filtered-search reference tier)
    "cosine_topk_filtered" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |pairs AS (
        |  SELECT a.vec_id, b.vec_id AS other_id,
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))) / (a.norm * b.norm) AS sim_raw
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id AND b.label = 3)
        |SELECT vec_id, CAST(rank AS BIGINT) AS rank, other_id, round(sim_raw, 4) AS sim
        |FROM (
        |  SELECT vec_id, other_id, sim_raw,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY sim_raw DESC, other_id ASC) AS rank
        |  FROM pairs)
        |WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin,
    // same exact top-5 as cosine_topk, then label-match relevance and
    // the SAME BIGINT weight literals as the Spark plan (generated from
    // Similarity.dcgWeights so they cannot drift); every aggregate is
    // exact integer math, one IEEE division per output number
    "retrieval_quality" -> {
      val w = graft.ops.Similarity.dcgWeights(5)
      val wVals = w.zipWithIndex.map { case (v, i) => s"(${i + 1}, $v)" }.mkString(", ")
      val idcgVals = w.scanLeft(0L)(_ + _).drop(1).zipWithIndex
        .map { case (v, i) => s"(${i + 1}, $v)" }.mkString(", ")
      s"""WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |pairs AS (
        |  SELECT a.vec_id, b.vec_id AS other_id,
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))) / (a.norm * b.norm) AS sim_raw
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |topk AS (
        |  SELECT vec_id, other_id, rank FROM (
        |    SELECT vec_id, other_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY sim_raw DESC, other_id ASC) AS rank
        |    FROM pairs)
        |  WHERE rank <= 5),
        |w(rank, wt) AS (VALUES $wVals),
        |idcg(m, s) AS (VALUES $idcgVals),
        |lab AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings
        |  WHERE label IS NOT NULL AND embedding IS NOT NULL),
        |sizes AS (SELECT label, CAST(count(*) AS BIGINT) AS n_label FROM lab GROUP BY label),
        |rel AS (
        |  SELECT t.vec_id, q.label, t.rank,
        |    CASE WHEN n.label = q.label THEN 1 ELSE 0 END AS relc
        |  FROM topk t JOIN lab q ON t.vec_id = q.vec_id
        |  LEFT JOIN lab n ON t.other_id = n.vec_id),
        |pq AS (
        |  SELECT rel.vec_id, rel.label,
        |    CAST(sum(relc * w.wt) AS BIGINT) AS dcg,
        |    min(CASE WHEN relc = 1 THEN rel.rank END) AS first_rel,
        |    CAST(sum(relc) AS BIGINT) AS hits
        |  FROM rel JOIN w ON rel.rank = w.rank
        |  GROUP BY rel.vec_id, rel.label),
        |pq2 AS (
        |  SELECT pq.*, COALESCE(1000000 // first_rel, 0) AS rr6,
        |    i.s AS idcg_s
        |  FROM pq JOIN sizes USING (label)
        |  JOIN idcg i ON i.m = least(sizes.n_label - 1, 5)
        |  WHERE sizes.n_label > 1)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_queries,
        |  round(CAST(sum(dcg) AS DOUBLE) / CAST(count(*) * max(idcg_s) AS DOUBLE), 6) AS mean_ndcg,
        |  round(CAST(sum(rr6) AS DOUBLE) / CAST(count(*) * 1000000 AS DOUBLE), 6) AS mrr,
        |  round(CAST(sum(hits) AS DOUBLE) / CAST(count(*) * 5 AS DOUBLE), 6) AS p_at_k
        |FROM pq2 GROUP BY label ORDER BY label""".stripMargin
    },
    // same dot/norm arithmetic as cosine_topk; the band predicate runs
    // on the UNROUNDED cosine in both engines
    "hard_negatives" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
        |  FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id, b.vec_id AS other_id,
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))) / (a.norm * b.norm) AS sim_raw
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |banded AS (
        |  SELECT vec_id, other_id, sim_raw FROM pairs
        |  WHERE sim_raw >= CAST(0.15 AS DOUBLE) AND sim_raw < CAST(0.40 AS DOUBLE))
        |SELECT vec_id AS anchor_id, CAST(rank AS BIGINT) AS rank,
        |  other_id AS negative_id, round(sim_raw, 4) AS sim
        |FROM (
        |  SELECT vec_id, other_id, sim_raw,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY sim_raw DESC, other_id ASC) AS rank
        |  FROM banded)
        |WHERE rank <= 5 ORDER BY anchor_id, rank""".stripMargin,
    // additivity identity: the recomposed STL must equal the raw series
    "stl_recompose" ->
      s"WITH $obsCte SELECT element, step, round(value, 4) AS y_rec FROM obs ORDER BY element, step",
    // every sketch bound must hold — the oracle pins the group keys and
    // the all-true verdicts against DuckDB's exact aggregation
    "sketch_bounds" ->
      """SELECT event_type, TRUE AS users_ok, TRUE AS p50_ok, TRUE AS p99_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "embedding_stats" ->
      """SELECT vec_id, CAST(label AS BIGINT) AS label,
        |  CAST(len(embedding) AS BIGINT) AS dim,
        |  round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS norm,
        |  round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))) / len(embedding), 4) AS mean_val
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "embedding_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |s AS (
        |  SELECT vec_id, v,
        |    greatest(list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127.0, 1e-30) AS scale
        |  FROM e),
        |q AS (
        |  SELECT vec_id, v, scale, list_transform(v, x -> round(x / scale)) AS qq FROM s),
        |err AS (
        |  SELECT vec_id, scale, len(v) AS d,
        |    list_transform(list_zip(v, qq), p -> (p[1] - p[2] * scale) * (p[1] - p[2] * scale)) AS ee
        |  FROM q)
        |SELECT vec_id, round(scale, 6) AS scale,
        |  round(list_sum(ee) / d, 8) AS mse,
        |  round(sqrt(list_aggregate(ee, 'max')), 6) AS max_err
        |FROM err ORDER BY vec_id""".stripMargin,
    "media_features" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    CAST(octet_length(encode(COALESCE(text, ''))) AS BIGINT) AS n_bytes
        |  FROM documents)
        |SELECT doc_id, kind, n_bytes,
        |  CASE kind WHEN 'image' THEN 16 + n_bytes % 640
        |            WHEN 'video' THEN 16 + n_bytes % 640 ELSE 1 END AS width,
        |  CASE kind WHEN 'image' THEN 16 + (n_bytes * 7) % 480
        |            WHEN 'video' THEN 16 + (n_bytes * 7) % 480 ELSE 1 END AS height,
        |  CASE kind WHEN 'image' THEN 1
        |            WHEN 'audio' THEN n_bytes % 48000
        |            ELSE 1 + n_bytes % 24 END AS frames
        |FROM m ORDER BY doc_id""".stripMargin,
    "media_resize" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    CAST(octet_length(encode(COALESCE(text, ''))) AS BIGINT) AS n_bytes
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, kind,
        |    CAST(16 + n_bytes % 640 AS BIGINT) AS width,
        |    CAST(16 + (n_bytes * 7) % 480 AS BIGINT) AS height
        |  FROM m WHERE kind <> 'audio'),
        |s AS (
        |  SELECT *, CAST(floor(least(224 * 1000000.0 / width, 224 * 1000000.0 / height)) AS BIGINT) AS s6
        |  FROM f)
        |SELECT doc_id, kind, width, height,
        |  round(s6 / 1000000.0, 6) AS scale,
        |  width * s6 // 1000000 AS out_w,
        |  height * s6 // 1000000 AS out_h,
        |  (224 - width * s6 // 1000000) // 2 AS pad_x,
        |  (224 - height * s6 // 1000000) // 2 AS pad_y
        |FROM s ORDER BY doc_id""".stripMargin,
    // brute-force dHash pair scan — equal to the engine's banded join by
    // the pigeonhole guarantee (radius 7 = bands−1, no bucket splits at
    // oracle scale); 63 comparison bits (1<<63 is checked-overflow here)
    "media_near_dup" ->
      """WITH m AS (
        |  SELECT doc_id, COALESCE(text, '') AS txt, length(COALESCE(text, '')) AS len
        |  FROM documents WHERE CAST(doc_id % 3 AS INT) <> 1),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len = 0 THEN list_transform(generate_series(0, 71), k -> 0)
        |         ELSE list_transform(generate_series(0, 71),
        |           k -> ascii(substr(txt, CAST(1 + (k * len) // 72 AS INT), 1)))
        |    END AS grid
        |  FROM m),
        |h AS (
        |  SELECT doc_id,
        |    list_sum(list_transform(generate_series(0, 62),
        |      j -> CASE WHEN grid[CAST((j // 8) * 9 + (j % 8) + 1 AS INT)] >
        |                     grid[CAST((j // 8) * 9 + (j % 8) + 2 AS INT)]
        |                THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)) AS dhash
        |  FROM g)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.dhash, b.dhash)) <= 7
        |ORDER BY doc_a, doc_b""".stripMargin,
    "media_near_dup_gate" ->
      """WITH seeded AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2199023255552 AS doc_id, text
        |  FROM documents WHERE doc_id % 97 = 3),
        |m AS (
        |  SELECT doc_id, COALESCE(text, '') AS txt, length(COALESCE(text, '')) AS len
        |  FROM seeded WHERE CAST(doc_id % 3 AS INT) <> 1),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len = 0 THEN list_transform(generate_series(0, 71), k -> 0)
        |         ELSE list_transform(generate_series(0, 71),
        |           k -> ascii(substr(txt, CAST(1 + (k * len) // 72 AS INT), 1)))
        |    END AS grid
        |  FROM m),
        |h AS (
        |  SELECT doc_id,
        |    list_sum(list_transform(generate_series(0, 62),
        |      j -> CASE WHEN grid[CAST((j // 8) * 9 + (j % 8) + 1 AS INT)] >
        |                     grid[CAST((j // 8) * 9 + (j % 8) + 2 AS INT)]
        |                THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)) AS dhash
        |  FROM g)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.dhash, b.dhash)) <= 7
        |ORDER BY doc_a, doc_b""".stripMargin,
    // the dhash pair set replayed + closed with a recursive CTE (the
    // dup_clusters idiom over the media universe)
    "media_dup_clusters" ->
      """WITH RECURSIVE m AS (
        |  SELECT doc_id, COALESCE(text, '') AS txt, length(COALESCE(text, '')) AS len
        |  FROM documents WHERE CAST(doc_id % 3 AS INT) <> 1),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len = 0 THEN list_transform(generate_series(0, 71), k -> 0)
        |         ELSE list_transform(generate_series(0, 71),
        |           k -> ascii(substr(txt, CAST(1 + (k * len) // 72 AS INT), 1)))
        |    END AS grid
        |  FROM m),
        |h AS (
        |  SELECT doc_id,
        |    list_sum(list_transform(generate_series(0, 62),
        |      j -> CASE WHEN grid[CAST((j // 8) * 9 + (j % 8) + 1 AS INT)] >
        |                     grid[CAST((j // 8) * 9 + (j % 8) + 2 AS INT)]
        |                THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)) AS dhash
        |  FROM g),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM h a JOIN h b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 7),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(doc_id, r) AS (
        |  SELECT doc_id, doc_id FROM m
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.doc_id),
        |lab AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id),
        |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        |       FROM lab GROUP BY cluster_id)
        |SELECT lab.doc_id, lab.cluster_id, sz.cluster_size
        |FROM lab JOIN sz USING (cluster_id) ORDER BY doc_id""".stripMargin,
    // the same 12dp-rounded DECIMAL moment sums + one IEEE slope
    "latency_trend" ->
      """WITH monthly AS (
        |  SELECT o_orderpriority,
        |    year(o_orderdate) * 12 + month(o_orderdate) AS mi,
        |    CAST(round(
        |      CAST(sum(datediff('day', o_orderdate, l_shipdate)) AS DOUBLE)
        |        / CAST(count(*) AS DOUBLE), 12) AS DECIMAL(18,12)) AS y,
        |    CAST(year(o_orderdate) * 12 + month(o_orderdate)
        |      AS DECIMAL(18,12)) AS x
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_shipdate IS NOT NULL AND o_orderdate IS NOT NULL
        |  GROUP BY o_orderpriority,
        |    year(o_orderdate) * 12 + month(o_orderdate)
        |), s AS (
        |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM monthly GROUP BY o_orderpriority)
        |SELECT o_orderpriority, n AS n_months,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS days_per_month,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) > 0.0 AS slowing
        |FROM s ORDER BY o_orderpriority""".stripMargin,
    // shares are IEEE divisions of exact DECIMAL revenues; squares
    // 12dp-rounded into the DECIMAL HHI sum
    "supplier_hhi" ->
      """WITH by_supp AS (
        |  SELECT p_type, l_suppkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_type, l_suppkey
        |), by_type AS (
        |  SELECT p_type, sum(rev) AS tot,
        |    CAST(count(*) AS BIGINT) AS n_suppliers
        |  FROM by_supp GROUP BY p_type
        |), sq AS (
        |  SELECT s.p_type, t.n_suppliers,
        |    CAST(round((CAST(rev AS DOUBLE) / CAST(tot AS DOUBLE))
        |      * (CAST(rev AS DOUBLE) / CAST(tot AS DOUBLE)), 12)
        |      AS DECIMAL(18,12)) AS sq
        |  FROM by_supp s JOIN by_type t ON s.p_type = t.p_type)
        |SELECT p_type, n_suppliers,
        |  round(CAST(sum(sq) AS DOUBLE), 6) AS hhi,
        |  round(CAST(sum(sq) AS DOUBLE), 6) > 0.25 AS concentrated
        |FROM sq GROUP BY p_type, n_suppliers
        |ORDER BY p_type""".stripMargin,
    "repurchase_intervals" ->
      """WITH g AS (
        |  SELECT o_custkey,
        |    datediff('day', o_orderdate,
        |      lead(o_orderdate) OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate, o_orderkey)) AS gap_days
        |  FROM orders)
        |SELECT CASE WHEN gap_days <= 7 THEN '0-007d'
        |    WHEN gap_days <= 30 THEN '008-030d'
        |    WHEN gap_days <= 90 THEN '031-090d'
        |    ELSE '091d+' END AS gap_bucket,
        |  count(*) AS n_gaps,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
        |FROM g WHERE gap_days IS NOT NULL
        |GROUP BY 1 ORDER BY gap_bucket""".stripMargin,
    // the join_skew_report entropy idiom over each source's lang mix
    "lang_entropy_by_source" ->
      """WITH c AS (
        |  SELECT source, COALESCE(lang, 'unknown') AS lang,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY source, COALESCE(lang, 'unknown')
        |), t AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
        |    CAST(count(*) AS BIGINT) AS n_langs
        |  FROM c GROUP BY source)
        |SELECT c.source, t.n_docs, t.n_langs,
        |  round(0.0 - CAST(sum(CAST(round(
        |    (CAST(c AS DOUBLE) / CAST(n_docs AS DOUBLE))
        |      * ln(CAST(c AS DOUBLE) / CAST(n_docs AS DOUBLE)), 12)
        |    AS DECIMAL(18,12))) AS DOUBLE), 6) AS lang_entropy
        |FROM c JOIN t ON c.source = t.source
        |GROUP BY c.source, t.n_docs, t.n_langs
        |ORDER BY c.source""".stripMargin,
    "media_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id, CAST(octet_length(encode(COALESCE(text, ''))) AS BIGINT) AS n_bytes
        |  FROM documents WHERE CAST(doc_id % 3 AS INT) = 2),
        |f AS (SELECT doc_id, CAST(1 + n_bytes % 24 AS BIGINT) AS frames FROM m),
        |s AS (SELECT doc_id, frames, least(8, frames) AS n_samples FROM f),
        |k AS (
        |  SELECT doc_id, frames, n_samples,
        |    unnest(generate_series(0, CAST(n_samples - 1 AS INT))) AS sample_k
        |  FROM s)
        |SELECT doc_id, frames, CAST(n_samples AS BIGINT) AS n_samples,
        |  CAST(sample_k AS BIGINT) AS sample_k,
        |  CAST(sample_k AS BIGINT) * frames // n_samples AS frame_idx
        |FROM k ORDER BY doc_id, sample_k""".stripMargin,
    "asof_daily_value" ->
      """WITH daily AS (
        |  SELECT event_type, day, value AS day_value FROM (
        |    SELECT event_type, CAST(ts AS DATE) AS day, value,
        |      row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
        |                         ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events) WHERE rn = 1),
        |spine AS (
        |  SELECT event_type, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT event_type, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1)),
        |joined AS (
        |  SELECT s.event_type, s.day, d.day_value FROM spine s
        |  LEFT JOIN daily d ON d.event_type = s.event_type AND d.day = s.day)
        |SELECT event_type, day,
        |  round(last_value(day_value IGNORE NULLS) OVER (
        |    PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS asof_value,
        |  day_value IS NOT NULL AS observed
        |FROM joined ORDER BY event_type, day""".stripMargin,
    "corpus_split" ->
      """SELECT doc_id, lang, source,
        |  CASE WHEN substr(md5(text), 1, 2) < 'e6' THEN 'train'
        |       WHEN substr(md5(text), 1, 2) < 'f3' THEN 'val' ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "split_leakage" ->
      """WITH t AS (
        |  SELECT doc_id, lang, source,
        |    list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS toks
        |  FROM documents),
        |x AS (SELECT doc_id, lang, source, len(toks) AS n, unnest(toks) AS w FROM t),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
        |         count(*) AS inter
        |  FROM x a JOIN x b
        |    ON a.lang = b.lang AND a.source = b.source AND a.w = b.w
        |   AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4),
        |jp AS (
        |  SELECT doc_a, doc_b,
        |    round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) AS jaccard
        |  FROM pairs
        |  WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) >= 0.8),
        |sp AS (
        |  SELECT doc_id,
        |    CASE WHEN substr(md5(text), 1, 2) < 'e6' THEN 'train'
        |         WHEN substr(md5(text), 1, 2) < 'f3' THEN 'val' ELSE 'test' END AS split
        |  FROM documents)
        |SELECT jp.doc_a, jp.doc_b, sa.split AS split_a, sb.split AS split_b, jp.jaccard
        |FROM jp
        |JOIN sp sa ON sa.doc_id = jp.doc_a
        |JOIN sp sb ON sb.doc_id = jp.doc_b
        |WHERE sa.split <> sb.split
        |ORDER BY jp.doc_a, jp.doc_b""".stripMargin,
    "repetition_stats" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents),
        |tri AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 1)),
        |    i -> array_to_string(list_slice(ws, i, i + 2), chr(1)))) AS t
        |  FROM toks),
        |c AS (SELECT doc_id, t, count(*) AS cnt FROM tri GROUP BY doc_id, t)
        |SELECT doc_id,
        |  CAST(sum(cnt) AS BIGINT) AS n_trigrams,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  round(1.0 - CAST(count(*) AS DOUBLE) / sum(cnt), 6) AS dup_frac,
        |  CAST(max(cnt) AS BIGINT) AS max_repeat
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // sqrt (correctly-rounded IEEE, unlike pow) + decimal-quantized
    // normalizing sum => cross-engine hash-exact tempered shares
    "corpus_temperature_mix" ->
      """WITH m AS (
        |  SELECT lang, source,
        |    CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang, source),
        |t AS (SELECT sum(n_tokens) AS tot FROM m),
        |r AS (SELECT lang, source, n_tokens,
        |    round(CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share,
        |    CAST(round(sqrt(CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE)), 9)
        |      AS DECIMAL(18,9)) AS rt
        |  FROM m, t),
        |s AS (SELECT sum(rt) AS srt FROM r)
        |SELECT lang, source, n_tokens, share,
        |  round(CAST(rt AS DOUBLE) / CAST(srt AS DOUBLE), 6) AS tempered_share,
        |  round(CAST(rt AS DOUBLE) / CAST(srt AS DOUBLE)
        |    / nullif(share, 0.0), 6) AS sample_factor
        |FROM r, s ORDER BY lang, source""".stripMargin,
    // same grouped counts + window shares; each share/drift is ONE
    // double division/subtraction in the identical order
    "corpus_drift" ->
      """WITH m AS (
        |  SELECT lang, source,
        |    count(CASE WHEN doc_id % 7 <> 0 THEN 1 END) AS n_base,
        |    count(CASE WHEN doc_id % 7 = 0 THEN 1 END) AS n_batch
        |  FROM documents GROUP BY lang, source),
        |t AS (SELECT sum(n_base) AS tb, sum(n_batch) AS tc FROM m)
        |SELECT lang, source, n_base, n_batch,
        |  round(CAST(n_base AS DOUBLE) / tb, 6) AS share_base,
        |  round(CAST(n_batch AS DOUBLE) / tc, 6) AS share_batch,
        |  round(CAST(n_batch AS DOUBLE) / tc - CAST(n_base AS DOUBLE) / tb, 6) AS drift
        |FROM m, t ORDER BY lang, source""".stripMargin,
    // every violation count CAST to BIGINT (DuckDB's count_if is
    // HUGEINT — an uncast value would schema-mismatch Spark's LONG);
    // budget verdicts cross-multiply integers, never divide
    "dq_checks" ->
      """SELECT * FROM (
        |SELECT 'customer_key_null' AS "check", CAST(count_if(c_custkey IS NULL) AS BIGINT) AS value, count_if(c_custkey IS NULL) = 0 AS ok FROM customer
        |UNION ALL SELECT 'customer_key_dup', CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT), count(*) - count(DISTINCT c_custkey) = 0 FROM customer
        |UNION ALL SELECT 'orders_key_null', CAST(count_if(o_orderkey IS NULL) AS BIGINT), count_if(o_orderkey IS NULL) = 0 FROM orders
        |UNION ALL SELECT 'orders_key_dup', CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT), count(*) - count(DISTINCT o_orderkey) = 0 FROM orders
        |UNION ALL SELECT 'orders_price_nonpos', CAST(count_if(o_totalprice <= 0) AS BIGINT), count_if(o_totalprice <= 0) = 0 FROM orders
        |UNION ALL SELECT 'orders_status_domain', CAST(count_if(o_orderstatus NOT IN ('O','F','P') OR o_orderstatus IS NULL) AS BIGINT), count_if(o_orderstatus NOT IN ('O','F','P') OR o_orderstatus IS NULL) = 0 FROM orders
        |UNION ALL SELECT 'lineitem_discount_range', CAST(count_if(l_discount < 0 OR l_discount > 1) AS BIGINT), count_if(l_discount < 0 OR l_discount > 1) = 0 FROM lineitem
        |UNION ALL SELECT 'lineitem_qty_nonpos', CAST(count_if(l_quantity <= 0) AS BIGINT), count_if(l_quantity <= 0) = 0 FROM lineitem
        |UNION ALL SELECT 'documents_id_null', CAST(count_if(doc_id IS NULL) AS BIGINT), count_if(doc_id IS NULL) = 0 FROM documents
        |UNION ALL SELECT 'documents_id_dup', CAST(count(*) - count(DISTINCT doc_id) AS BIGINT), count(*) - count(DISTINCT doc_id) = 0 FROM documents
        |UNION ALL SELECT 'documents_text_null_budget', CAST(count_if(text IS NULL) AS BIGINT), count_if(text IS NULL) * 20 <= count(*) FROM documents
        |UNION ALL SELECT 'embeddings_id_dup', CAST(count(*) - count(DISTINCT vec_id) AS BIGINT), count(*) - count(DISTINCT vec_id) = 0 FROM embeddings
        |UNION ALL SELECT 'embeddings_dim_consistent', CAST(count(DISTINCT CASE WHEN embedding IS NOT NULL THEN len(embedding) END) AS BIGINT), count(DISTINCT CASE WHEN embedding IS NOT NULL THEN len(embedding) END) <= 1 FROM embeddings
        |UNION ALL SELECT 'events_id_dup', CAST(count(*) - count(DISTINCT event_id) AS BIGINT), count(*) - count(DISTINCT event_id) = 0 FROM events
        |UNION ALL SELECT 'events_ts_null', CAST(count_if(ts IS NULL) AS BIGINT), count_if(ts IS NULL) = 0 FROM events
        |UNION ALL SELECT 'events_user_null_budget', CAST(count_if(user_id IS NULL) AS BIGINT), count_if(user_id IS NULL) * 20 <= count(*) FROM events
        |UNION ALL SELECT 'events_value_null_budget', CAST(count_if(value IS NULL) AS BIGINT), count_if(value IS NULL) * 20 <= count(*) FROM events
        |UNION ALL SELECT 'orders_custkey_ri', CAST(count(*) AS BIGINT), count(*) = 0 FROM orders o
        |  WHERE o.o_custkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |UNION ALL SELECT 'lineitem_orderkey_ri', CAST(count(*) AS BIGINT), count(*) = 0 FROM lineitem l
        |  WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL SELECT 'lineitem_row_dup',
        |  CAST((SELECT count(*) FROM lineitem) - (SELECT count(*) FROM (SELECT DISTINCT * FROM lineitem)) AS BIGINT),
        |  (SELECT count(*) FROM lineitem) = (SELECT count(*) FROM (SELECT DISTINCT * FROM lineitem))
        |) ORDER BY "check"""".stripMargin,
    // the oracle rebuilds each SCD2 cohort directly (m=3 changed, m=5
    // no-op — so it lands in the NOT-IN branch — m=7 tombstone, m=9
    // insert); a comparator bug that opened versions for no-op
    // re-sends would emit extra rows and hash-mismatch
    "scd2_merge" ->
      """WITH mx AS (SELECT max(c_custkey) AS mk FROM customer)
        |SELECT * FROM (
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
        |  CAST(1 AS INT) AS version, CAST(0 AS BIGINT) AS valid_from,
        |  CAST(NULL AS BIGINT) AS valid_to, TRUE AS is_current
        |FROM customer WHERE c_custkey % 20 NOT IN (3, 7)
        |UNION ALL
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
        |  CAST(1 AS INT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), FALSE
        |FROM customer WHERE c_custkey % 20 IN (3, 7)
        |UNION ALL
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0, c_mktsegment,
        |  CAST(2 AS INT), CAST(1 AS BIGINT), CAST(NULL AS BIGINT), TRUE
        |FROM customer WHERE c_custkey % 20 = 3
        |UNION ALL
        |SELECT c_custkey + mk, 'NEW_' || c_name, c_nationkey, c_acctbal, c_mktsegment,
        |  CAST(1 AS INT), CAST(1 AS BIGINT), CAST(NULL AS BIGINT), TRUE
        |FROM customer, mx WHERE c_custkey % 20 = 9
        |) ORDER BY c_custkey, version""".stripMargin,
    // both epochs derived from FIRST PRINCIPLES (raw snapshot + change
    // rules), never from the history table — intervals can't self-verify
    "scd2_asof" ->
      """WITH mx AS (SELECT max(c_custkey) AS mk FROM customer)
        |SELECT * FROM (
        |SELECT CAST(0 AS BIGINT) AS as_of, c_custkey, c_name, c_nationkey,
        |  c_acctbal, c_mktsegment
        |FROM customer
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), c_custkey, c_name, c_nationkey,
        |  c_acctbal + 100.0, c_mktsegment
        |FROM customer WHERE c_custkey % 20 = 3
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), c_custkey, c_name, c_nationkey,
        |  c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey % 20 NOT IN (3, 7)
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), c_custkey + mk, 'NEW_' || c_name, c_nationkey,
        |  c_acctbal, c_mktsegment
        |FROM customer, mx WHERE c_custkey % 20 = 9
        |) ORDER BY as_of, c_custkey""".stripMargin,
    // A-Priori pair mining replayed from scratch: same frequent-item
    // cross-multiplication floor, same >= 2 pair floor, each metric ONE
    // double division over exact BIGINT counts/products
    "part_affinity" ->
      (basketCtes + """
        |SELECT pc.pa AS part_a, pc.pb AS part_b,
        |  ia.n_item AS n_a, ib.n_item AS n_b, pc.n_ab,
        |  CAST(pc.n_ab AS DOUBLE) / CAST(tot.n_orders AS DOUBLE) AS support,
        |  CAST(pc.n_ab AS DOUBLE) / CAST(ia.n_item AS DOUBLE) AS confidence,
        |  CAST(tot.n_orders * pc.n_ab AS DOUBLE) /
        |    CAST(ia.n_item * ib.n_item AS DOUBLE) AS lift
        |FROM pc JOIN ic ia ON ia.pk = pc.pa
        |        JOIN ic ib ON ib.pk = pc.pb
        |        CROSS JOIN tot
        |ORDER BY part_a, part_b""").stripMargin,
    "affinity_rules" ->
      (basketCtes + """,
        |dr AS (SELECT pa AS antecedent, pb AS consequent, n_ab FROM pc
        |       UNION ALL SELECT pb, pa, n_ab FROM pc)
        |SELECT dr.antecedent, dr.consequent, dr.n_ab,
        |  CAST(dr.n_ab AS DOUBLE) / CAST(ia.n_item AS DOUBLE) AS confidence,
        |  CAST(tot.n_orders * dr.n_ab AS DOUBLE) /
        |    CAST(ia.n_item * ic2.n_item AS DOUBLE) AS lift
        |FROM dr JOIN ic ia ON ia.pk = dr.antecedent
        |        JOIN ic ic2 ON ic2.pk = dr.consequent
        |        CROSS JOIN tot
        |WHERE dr.n_ab * 10 >= ia.n_item
        |ORDER BY antecedent, consequent""").stripMargin,
    // the integer PageRank recursion unrolled as chained CTEs — DuckDB
    // replays the exact BIGINT update (// is floor division, DIV
    // truncates toward zero: identical on the non-negative masses
    // here), so ranks are bit-equal at any Spark parallelism
    "part_pagerank" -> pagerankOracleSql,
    // degree-ordered orientation replayed in SQL; ties in the order
    // stats are value-ties, so row_number nondeterminism cannot change
    // which VALUE is selected
    // the recursive CTE replays the frontier BFS; UNION dedup + the
    // hop cap bound the recursion, min(dist) recovers first-reach
    "graph_distances" ->
      (basketCtes.replaceFirst("WITH ", "WITH RECURSIVE ") + """,
        |ud AS (SELECT pa AS u, pb AS v FROM pc),
        |bi AS (SELECT u, v FROM ud UNION ALL SELECT v, u FROM ud),
        |sd AS (SELECT min(u) AS s FROM ud),
        |bfs(node, dist) AS (
        |  SELECT s, CAST(0 AS BIGINT) FROM sd WHERE s IS NOT NULL
        |  UNION
        |  SELECT bi.v, bfs.dist + 1 FROM bfs JOIN bi ON bi.u = bfs.node
        |  WHERE bfs.dist < 6)
        |SELECT node, min(dist) AS dist FROM bfs GROUP BY node ORDER BY node""").stripMargin,
    "graph_kcore" -> kcoreOracleSql,
    "bpe_merges" -> bpeOracleSql,
    "bpe_token_stats" -> bpeTokenStatsOracleSql,
    "sql_supplier_cnt" -> supplierCntSql,
    "transition_stationary" -> stationaryOracleSql,
    // leaf DECIMAL sums, window DECIMAL level totals, double-vs-double
    // divisions (decimal/decimal would derive engine-specific scales)
    "rollup_shares" ->
      """WITH leaf AS (
        |  SELECT r_name, n_name, count(*) AS n_orders,
        |    sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev_dec
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY r_name, n_name)
        |SELECT r_name, n_name, n_orders,
        |  round(CAST(rev_dec AS DOUBLE), 6) AS revenue,
        |  round(CAST(rev_dec AS DOUBLE)
        |    / CAST(sum(rev_dec) OVER (PARTITION BY r_name) AS DOUBLE), 6)
        |    AS share_of_region,
        |  round(CAST(rev_dec AS DOUBLE)
        |    / CAST(sum(rev_dec) OVER () AS DOUBLE), 6) AS share_of_total
        |FROM leaf ORDER BY r_name, n_name""".stripMargin,
    // nearest-rank gap percentiles replayed with the same integer DIV
    // rank formulas; ties ordered by event_id in both engines
    "user_cadence" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tus
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |g AS (
        |  SELECT user_id, event_id,
        |    (lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
        |      - tus) // 60000000 AS gap_min
        |  FROM e),
        |r AS (
        |  SELECT user_id, gap_min,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY gap_min, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS cnt
        |  FROM g WHERE gap_min IS NOT NULL),
        |s AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |    CAST(max(CASE WHEN rn = (cnt + 1) // 2 THEN gap_min END)
        |      AS BIGINT) AS median_gap_min,
        |    CAST(max(CASE WHEN rn = (9 * cnt + 9) // 10 THEN gap_min END)
        |      AS BIGINT) AS p90_gap_min
        |  FROM r GROUP BY user_id),
        |n AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        |  FROM e GROUP BY user_id)
        |SELECT n.user_id, n.n_events, COALESCE(s.n_gaps, 0) AS n_gaps,
        |  s.median_gap_min, s.p90_gap_min
        |FROM n LEFT JOIN s ON n.user_id = s.user_id
        |ORDER BY n.user_id""".stripMargin,
    // age bands over exact day diffs vs the data's own max date
    "order_aging" ->
      """WITH snap AS (SELECT max(o_orderdate) AS snap_date FROM orders)
        |SELECT age_bucket, o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS open_value
        |FROM (
        |  SELECT o_orderstatus, o_totalprice,
        |    CASE WHEN datediff('day', o_orderdate, snap_date) <= 30
        |        THEN '0-030d'
        |      WHEN datediff('day', o_orderdate, snap_date) <= 90
        |        THEN '031-090d'
        |      WHEN datediff('day', o_orderdate, snap_date) <= 365
        |        THEN '091-365d'
        |      ELSE '366d+' END AS age_bucket
        |  FROM orders CROSS JOIN snap)
        |GROUP BY age_bucket, o_orderstatus
        |ORDER BY age_bucket, o_orderstatus""".stripMargin,
    // the parity oracle runs over the PARQUET store: the JSONL tier
    // must reproduce it bit-for-bit
    "events_from_json" ->
      """SELECT event_type, CAST(ts AS DATE) AS day,
        |  count(*) AS n_events,
        |  CAST(sum(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |GROUP BY event_type, CAST(ts AS DATE)
        |ORDER BY event_type, day""".stripMargin,
    "events_from_csv" ->
      """SELECT event_type, CAST(ts AS DATE) AS day,
        |  count(*) AS n_events,
        |  CAST(sum(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |GROUP BY event_type, CAST(ts AS DATE)
        |ORDER BY event_type, day""".stripMargin,
    "events_from_orc" ->
      """SELECT event_type, CAST(ts AS DATE) AS day,
        |  count(*) AS n_events,
        |  CAST(sum(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |GROUP BY event_type, CAST(ts AS DATE)
        |ORDER BY event_type, day""".stripMargin,
    "graph_triangles" ->
      (basketCtes + """,
        |ud AS (SELECT pa AS u, pb AS v FROM pc),
        |dg2 AS (SELECT n, count(*) AS d FROM (
        |  SELECT pa AS n FROM pc UNION ALL SELECT pb AS n FROM pc) t GROUP BY n),
        |ori AS (SELECT
        |  CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND ud.u < ud.v)
        |       THEN ud.u ELSE ud.v END AS s,
        |  CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND ud.u < ud.v)
        |       THEN ud.v ELSE ud.u END AS t
        |  FROM ud JOIN dg2 du ON du.n = ud.u JOIN dg2 dv ON dv.n = ud.v),
        |wg AS (SELECT a.s AS u, a.t AS v, b.t AS w
        |       FROM ori a JOIN ori b ON a.s = b.s AND a.t < b.t),
        |tri AS (SELECT u, v, w FROM wg
        |        WHERE EXISTS (SELECT 1 FROM ori o
        |                      WHERE (o.s = wg.v AND o.t = wg.w)
        |                         OR (o.s = wg.w AND o.t = wg.v)))
        |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
        |  SELECT u AS node FROM tri
        |  UNION ALL SELECT v FROM tri
        |  UNION ALL SELECT w FROM tri) x
        |GROUP BY node ORDER BY node""").stripMargin,
    // triangles + degrees → coefficient; nodes outside any triangle
    // appear with 0, degree-1 nodes are 0 by definition
    "graph_clustering" ->
      (basketCtes + """,
        |ud AS (SELECT pa AS u, pb AS v FROM pc),
        |dg2 AS (SELECT n, count(*) AS d FROM (
        |  SELECT pa AS n FROM pc UNION ALL SELECT pb AS n FROM pc) t GROUP BY n),
        |ori AS (SELECT
        |  CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND ud.u < ud.v)
        |       THEN ud.u ELSE ud.v END AS s,
        |  CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND ud.u < ud.v)
        |       THEN ud.v ELSE ud.u END AS t
        |  FROM ud JOIN dg2 du ON du.n = ud.u JOIN dg2 dv ON dv.n = ud.v),
        |wg AS (SELECT a.s AS u, a.t AS v, b.t AS w
        |       FROM ori a JOIN ori b ON a.s = b.s AND a.t < b.t),
        |tri AS (SELECT u, v, w FROM wg
        |        WHERE EXISTS (SELECT 1 FROM ori o
        |                      WHERE (o.s = wg.v AND o.t = wg.w)
        |                         OR (o.s = wg.w AND o.t = wg.v))),
        |tc AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
        |  SELECT u AS node FROM tri
        |  UNION ALL SELECT v FROM tri
        |  UNION ALL SELECT w FROM tri) x GROUP BY node)
        |SELECT dg2.n AS node, CAST(dg2.d AS BIGINT) AS degree,
        |  CAST(COALESCE(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
        |  CASE WHEN dg2.d < 2 THEN 0.0
        |       ELSE CAST(COALESCE(tc.n_triangles, 0) * 2 AS DOUBLE) /
        |            CAST(dg2.d * (dg2.d - 1) AS DOUBLE) END AS clustering
        |FROM dg2 LEFT JOIN tc ON tc.node = dg2.n
        |ORDER BY node""").stripMargin,
    // level-3 A-Priori replay: triples counted only where all three
    // sub-pairs are frequent, support = one division
    "part_triples" ->
      (basketCtes + """,
        |fi AS (SELECT pa AS pk FROM pc UNION SELECT pb FROM pc),
        |pb3 AS (SELECT pbk.ok, pbk.pk FROM pbk JOIN fi ON fi.pk = pbk.pk),
        |occ3 AS (
        |  SELECT x.pk AS a, y.pk AS b, z.pk AS c
        |  FROM pb3 x JOIN pb3 y ON x.ok = y.ok AND x.pk < y.pk
        |             JOIN pb3 z ON y.ok = z.ok AND z.pk > y.pk
        |  WHERE EXISTS (SELECT 1 FROM pc WHERE pc.pa = x.pk AND pc.pb = y.pk)
        |    AND EXISTS (SELECT 1 FROM pc WHERE pc.pa = y.pk AND pc.pb = z.pk)
        |    AND EXISTS (SELECT 1 FROM pc WHERE pc.pa = x.pk AND pc.pb = z.pk))
        |SELECT a AS part_a, b AS part_b, c AS part_c,
        |  CAST(count(*) AS BIGINT) AS n_abc,
        |  CAST(count(*) AS DOUBLE) / CAST(tot.n_orders AS DOUBLE) AS support
        |FROM occ3 CROSS JOIN tot
        |GROUP BY a, b, c, tot.n_orders
        |HAVING count(*) >= 2
        |ORDER BY part_a, part_b, part_c""").stripMargin,
    // the Croston recursion replayed literally: same densified zero
    // days, same s + 0.1·(obs − s) order, same pre-update interval
    "fc_croston" -> crostonRecursionCte(
      """SELECT element, CAST(s.step AS BIGINT) AS step, round(z / p, 6) AS mean
        |FROM fin CROSS JOIN generate_series(1, 7) AS s(step)
        |ORDER BY element, step""".stripMargin),
    // same recursion, three variants: classic ratio, SBA (1 - a/2),
    // SBJ (1 - a/(2-a)) — constants written as the identical double
    // expressions in both engines
    "fc_croston_sba" -> crostonRecursionCte(
      """SELECT element, v.variant, CAST(s.step AS BIGINT) AS step,
        |  CASE v.variant
        |    WHEN 'CROSTON' THEN round(z / p, 6)
        |    WHEN 'SBA' THEN round((1.0 - CAST(0.1 AS DOUBLE) / 2.0) * (z / p), 6)
        |    ELSE round((1.0 - CAST(0.1 AS DOUBLE) / (2.0 - CAST(0.1 AS DOUBLE)))
        |      * (z / p), 6)
        |  END AS mean
        |FROM fin CROSS JOIN generate_series(1, 7) AS s(step)
        |CROSS JOIN (VALUES ('CROSTON'), ('SBA'), ('SBJ')) AS v(variant)
        |ORDER BY element, variant, step""".stripMargin),
    // TSB: unconditional probability smoothing + demand-day size
    // smoothing, forecast one multiply at 6dp
    "fc_croston_tsb" -> tsbRecursionCte(
      """SELECT element, CAST(s.step AS BIGINT) AS step, round(z * p, 6) AS mean
        |FROM fin CROSS JOIN generate_series(1, 7) AS s(step)
        |ORDER BY element, step""".stripMargin),
    // HUGEINT replay of the exact quadrant cross-multiplications; the
    // adi/cv2 doubles are one division each over the same integers
    "demand_classes" ->
      """WITH daily AS (
        |  SELECT event_type AS element, CAST(ts AS DATE) AS day,
        |    sum(CAST(value AS DECIMAL(18,4))) AS s,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT) AS q
        |  FROM events
        |  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY event_type, CAST(ts AS DATE)),
        |stp AS (
        |  SELECT element, min(day) AS mn,
        |    CAST(date_diff('day', min(day), max(day)) + 1 AS BIGINT) AS np
        |  FROM daily GROUP BY element),
        |st AS (
        |  SELECT d.element, s2.np AS n_periods,
        |    CAST(count(*) FILTER (WHERE d.s > 0) AS BIGINT) AS nd,
        |    CAST(sum(d.q) FILTER (WHERE d.s > 0) AS HUGEINT) AS sq,
        |    CAST(sum(CAST(d.q AS HUGEINT) * d.q) FILTER (WHERE d.s > 0) AS HUGEINT) AS sqq,
        |    CAST(count(*) FILTER (WHERE d.s > 0
        |      AND date_diff('day', s2.mn, d.day) <= (s2.np - 1) // 2) AS BIGINT) AS nd_early,
        |    CAST(count(*) FILTER (WHERE d.s > 0
        |      AND date_diff('day', s2.mn, d.day) > (s2.np - 1) // 2) AS BIGINT) AS nd_late
        |  FROM daily d JOIN stp s2 USING (element)
        |  GROUP BY d.element, s2.np),
        |cls AS (
        |  SELECT element, n_periods, nd, sq, sqq, nd_early, nd_late,
        |    CASE WHEN n_periods * 100 < 132 * nd THEN
        |      CASE WHEN 100 * (nd * sqq - sq * sq) < 49 * (sq * sq)
        |           THEN 'smooth' ELSE 'erratic' END
        |    ELSE
        |      CASE WHEN 100 * (nd * sqq - sq * sq) < 49 * (sq * sq)
        |           THEN 'intermittent' ELSE 'lumpy' END
        |    END AS demand_class
        |  FROM st)
        |SELECT element, n_periods, nd AS n_demands,
        |  round(CAST(n_periods AS DOUBLE) / CAST(nd AS DOUBLE), 6) AS adi,
        |  round(CAST(nd * sqq - sq * sq AS DOUBLE) / CAST(sq * sq AS DOUBLE), 6) AS cv2,
        |  demand_class,
        |  (nd_late * 2 < nd_early) AS obsolescence_risk,
        |  CASE WHEN nd_late * 2 < nd_early THEN 'TSB'
        |       WHEN demand_class = 'intermittent' THEN 'CROSTON'
        |       WHEN demand_class = 'lumpy' THEN 'SBA'
        |       ELSE 'SES' END AS recommended
        |FROM cls ORDER BY element""".stripMargin,
    // plain row_number replay of the deterministic (key, doc_id) total
    // order; the banded pair formation must equal this direct window
    "snm_candidates" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    substring(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), 1, 40) AS key
        |  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
        |r AS (SELECT doc_id, key,
        |        row_number() OVER (ORDER BY key, doc_id) AS rnk FROM d)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(b.rnk - a.rnk AS BIGINT) AS rank_gap,
        |  CAST(levenshtein(a.key, b.key) AS BIGINT) AS key_lev
        |FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk - a.rnk <= 4
        |WHERE levenshtein(a.key, b.key) <= 10
        |ORDER BY doc_a, doc_b""".stripMargin,
    // same quality expression as the quality_score oracle; the hex
    // unit parses via '0x' concat (DuckDB) ≡ conv(,16,10) (Spark)
    "quality_resample" ->
      """WITH f AS (
        |  SELECT doc_id, lang, source, text,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
        |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      x -> list_contains(['the','a','and','of','to','in','is','on','for','with'], x))) AS DOUBLE)
        |      / len(regexp_split_to_array(lower(trim(text)), '\s+')) AS stop_ratio,
        |    CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
        |      / greatest(length(text), 1) AS punct_density
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, lang, source,
        |    round((len_score + stop_ratio + (1.0 - punct_density)) / 3.0, 6) AS quality,
        |    CAST(('0x' || substr(md5(text), 9, 8)) AS BIGINT) AS unit32
        |  FROM f)
        |SELECT doc_id, lang, source, quality, unit32,
        |  COALESCE(CAST(unit32 AS DOUBLE) < quality * 4294967296.0, FALSE) AS keep
        |FROM q ORDER BY doc_id""".stripMargin,
    // same tokenization, same chr(1)-joined 13-grams, same eval-set
    // derivation (three lowest-id long-enough docs)
    "eval_contamination" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents WHERE text IS NOT NULL),
        |tl AS (SELECT doc_id, ws FROM t WHERE len(ws) >= 13),
        |ev AS (SELECT doc_id AS eval_id,
        |         array_to_string(list_slice(ws, 1, 13), chr(1)) AS gram
        |       FROM tl ORDER BY doc_id LIMIT 3),
        |g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 12),
        |        i -> array_to_string(list_slice(ws, i, i + 12), chr(1)))) AS gram
        |      FROM tl)
        |SELECT ev.eval_id, g.doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |FROM g JOIN ev USING (gram)
        |GROUP BY ev.eval_id, g.doc_id
        |ORDER BY eval_id, doc_id""".stripMargin,
    // gram identity replayed on token STRINGS (chr(1)-joined 8-grams;
    // short docs contribute their whole sequence) — set semantics, so
    // the engine's hash composites and these strings agree
    "ngram_novelty" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
        |  FROM documents WHERE text IS NOT NULL),
        |g0 AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ws) < 8
        |      THEN [array_to_string(ws, chr(1))]
        |      ELSE list_transform(generate_series(1, len(ws) - 7),
        |        i -> array_to_string(list_slice(ws, i, i + 7), chr(1)))
        |    END AS gs
        |  FROM t),
        |grams AS (SELECT DISTINCT doc_id, unnest(gs) AS g FROM g0),
        |fo AS (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g),
        |agg AS (
        |  SELECT grams.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN fo.first_doc = grams.doc_id THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_novel
        |  FROM grams JOIN fo USING (g) GROUP BY grams.doc_id)
        |SELECT d.doc_id, COALESCE(agg.n_grams, 0) AS n_grams,
        |  COALESCE(agg.n_novel, 0) AS n_novel,
        |  CASE WHEN COALESCE(agg.n_grams, 0) > 0
        |    THEN round(CAST(agg.n_novel AS DOUBLE) / CAST(agg.n_grams AS DOUBLE), 6)
        |  END AS novelty
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // line-level dedup family: lines = '\n'-split raw text (0-based
    // pos), identity = whitespace-normalized lowercase form, corpus-
    // global (CCNet count>1); reconstruction re-joins kept RAW lines
    // in original order
    "boilerplate_lines" ->
      """WITH l AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(lower(u.line), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS norm
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
        |        FROM documents WHERE text IS NOT NULL) t,
        |    unnest(ls) AS u(line))
        |SELECT norm AS line,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM l GROUP BY norm
        |HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY line""".stripMargin,
    "boilerplate_lines_gate" ->
      """WITH seeded AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2199023255552 AS doc_id, text
        |  FROM documents WHERE doc_id % 97 = 3),
        |l AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(lower(u.line), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS norm
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
        |        FROM seeded WHERE text IS NOT NULL) t,
        |    unnest(ls) AS u(line))
        |SELECT norm AS line,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM l GROUP BY norm
        |HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY line""".stripMargin,
    "line_dedup_clean" ->
      """WITH l AS (
        |  SELECT doc_id, u.i - 1 AS pos, ls[u.i] AS line,
        |    trim(regexp_replace(lower(ls[u.i]), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS norm
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
        |        FROM documents WHERE text IS NOT NULL) t,
        |    unnest(range(1, len(ls) + 1)) AS u(i)),
        |f AS (SELECT norm, count(DISTINCT doc_id) AS n_docs
        |      FROM l GROUP BY norm),
        |agg AS (
        |  SELECT l.doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        |    CAST(sum(CASE WHEN f.n_docs < 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_kept,
        |    COALESCE(string_agg(CASE WHEN f.n_docs < 2 THEN l.line END,
        |      chr(10) ORDER BY l.pos), '') AS clean_text
        |  FROM l JOIN f USING (norm) GROUP BY l.doc_id)
        |SELECT d.doc_id, COALESCE(agg.n_lines, 0) AS n_lines,
        |  COALESCE(agg.n_kept, 0) AS n_kept, agg.clean_text
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // same three RE2-safe patterns as pii_scan; replacement order is
    // the contract: emails, then urls, then long digit runs
    "pii_redact" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, 'https?://[^ \t\n]+')) AS BIGINT) AS n_urls,
        |  CAST(len(regexp_extract_all(text, '[0-9]{9,}')) AS BIGINT) AS n_longnums,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
        |      'https?://[^ \t\n]+', '<URL>', 'g'),
        |    '[0-9]{9,}', '<NUM>', 'g') AS redacted
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    // the seeded CTE replays Curation.gopherFixtureText via the same
    // repeat() literal; flag comparisons use the UNROUNDED ratios
    // (single IEEE divisions of exact integer counts) exactly like
    // the Spark plan, so the booleans cannot flip between engines
    "gopher_quality_flags" ->
      """WITH f AS (
        |  SELECT doc_id, lang, source, text,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0B\f\r]+'),
        |      x -> x <> '') AS ws
        |  FROM documents WHERE text IS NOT NULL),
        |fw AS (SELECT * FROM f WHERE len(ws) > 0),
        |s AS (
        |  SELECT doc_id, lang, source,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(length(regexp_replace(text, '[ \t\n\x0B\f\r]+', '', 'g')) AS DOUBLE)
        |      / len(ws) AS mean_word_len,
        |    CAST((length(text) - length(replace(text, '#', '')))
        |      + CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT)
        |      AS DOUBLE) / len(ws) AS symbol_ratio,
        |    CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
        |      / len(ws) AS alpha_frac,
        |    CAST(len(list_intersect(list_distinct(ws),
        |      ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stop_hits
        |  FROM fw)
        |SELECT doc_id, lang, source, n_words,
        |  round(mean_word_len, 6) AS mean_word_len,
        |  round(symbol_ratio, 6) AS symbol_ratio,
        |  round(alpha_frac, 6) AS alpha_frac,
        |  n_stop_hits,
        |  (n_words BETWEEN 50 AND 100000 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |   AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8 AND n_stop_hits >= 2) AS gopher_keep
        |FROM s ORDER BY doc_id""".stripMargin,
    "gopher_quality_flags_gate" ->
      """WITH seeded AS (
        |  SELECT doc_id, text, lang, source FROM documents
        |  UNION ALL
        |  SELECT 2199023255653 AS doc_id,
        |    repeat('the quick brown fox jumps over the lazy dog and runs to the edge of the field with great joy ', 3) AS text,
        |    'en' AS lang, 'planted_fixture' AS source),
        |f AS (
        |  SELECT doc_id, lang, source, text,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0B\f\r]+'),
        |      x -> x <> '') AS ws
        |  FROM seeded WHERE text IS NOT NULL),
        |fw AS (SELECT * FROM f WHERE len(ws) > 0),
        |s AS (
        |  SELECT doc_id, lang, source,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(length(regexp_replace(text, '[ \t\n\x0B\f\r]+', '', 'g')) AS DOUBLE)
        |      / len(ws) AS mean_word_len,
        |    CAST((length(text) - length(replace(text, '#', '')))
        |      + CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT)
        |      AS DOUBLE) / len(ws) AS symbol_ratio,
        |    CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
        |      / len(ws) AS alpha_frac,
        |    CAST(len(list_intersect(list_distinct(ws),
        |      ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stop_hits
        |  FROM fw)
        |SELECT doc_id, lang, source, n_words,
        |  round(mean_word_len, 6) AS mean_word_len,
        |  round(symbol_ratio, 6) AS symbol_ratio,
        |  round(alpha_frac, 6) AS alpha_frac,
        |  n_stop_hits,
        |  (n_words BETWEEN 50 AND 100000 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |   AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8 AND n_stop_hits >= 2) AS gopher_keep
        |FROM s ORDER BY doc_id""".stripMargin,
    // every ratio is one IEEE division of exact BIGINTs; thresholds
    // CAST to DOUBLE so no DECIMAL comparison path diverges; the gram
    // tiers take max(cnt * gram_word_chars) directly — no arg-max
    "gopher_repetition_flags" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        |b AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0B\f\r]+'),
        |      x -> x <> '') AS ws,
        |    CAST(length(regexp_replace(text, '[ \t\n\x0B\f\r]+', '', 'g')) AS BIGINT)
        |      AS word_chars
        |  FROM d),
        |bw AS (SELECT * FROM b WHERE len(ws) > 0),
        |lc AS (
        |  SELECT doc_id, line, count(*) AS cnt, CAST(length(line) AS BIGINT) AS len
        |  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM d)
        |  GROUP BY doc_id, line),
        |la AS (
        |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_lines,
        |    CAST(count(*) AS BIGINT) AS n_distinct_lines,
        |    CAST(sum(cnt * len) AS BIGINT) AS line_chars,
        |    CAST(sum(CASE WHEN cnt > 1 THEN cnt * len ELSE 0 END) AS BIGINT)
        |      AS dup_line_chars
        |  FROM lc GROUP BY doc_id),
        |g2 AS (
        |  SELECT doc_id, max(cnt * glen) AS cover2 FROM (
        |    SELECT doc_id, g, count(*) AS cnt,
        |      CAST(length(g) - 1 AS BIGINT) AS glen FROM (
        |      SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
        |        i -> array_to_string(list_slice(ws, i, i + 1), chr(1)))) AS g
        |      FROM bw WHERE len(ws) >= 2)
        |    GROUP BY doc_id, g) GROUP BY doc_id),
        |g3 AS (
        |  SELECT doc_id, max(cnt * glen) AS cover3 FROM (
        |    SELECT doc_id, g, count(*) AS cnt,
        |      CAST(length(g) - 2 AS BIGINT) AS glen FROM (
        |      SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 2),
        |        i -> array_to_string(list_slice(ws, i, i + 2), chr(1)))) AS g
        |      FROM bw WHERE len(ws) >= 3)
        |    GROUP BY doc_id, g) GROUP BY doc_id),
        |g4 AS (
        |  SELECT doc_id, max(cnt * glen) AS cover4 FROM (
        |    SELECT doc_id, g, count(*) AS cnt,
        |      CAST(length(g) - 3 AS BIGINT) AS glen FROM (
        |      SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 3),
        |        i -> array_to_string(list_slice(ws, i, i + 3), chr(1)))) AS g
        |      FROM bw WHERE len(ws) >= 4)
        |    GROUP BY doc_id, g) GROUP BY doc_id),
        |j AS (
        |  SELECT bw.doc_id, bw.word_chars, la.n_lines, la.n_distinct_lines,
        |    la.line_chars, la.dup_line_chars, g2.cover2, g3.cover3, g4.cover4
        |  FROM bw LEFT JOIN la USING (doc_id) LEFT JOIN g2 USING (doc_id)
        |    LEFT JOIN g3 USING (doc_id) LEFT JOIN g4 USING (doc_id)),
        |f AS (
        |  SELECT doc_id, n_lines,
        |    CAST(1 AS DOUBLE) - CAST(n_distinct_lines AS DOUBLE) / n_lines AS dup_line_frac,
        |    CASE WHEN line_chars > 0
        |      THEN CAST(COALESCE(dup_line_chars, 0) AS DOUBLE) / line_chars
        |      ELSE CAST(0 AS DOUBLE) END AS dup_line_char_frac,
        |    CAST(COALESCE(cover2, 0) AS DOUBLE) / word_chars AS t2,
        |    CAST(COALESCE(cover3, 0) AS DOUBLE) / word_chars AS t3,
        |    CAST(COALESCE(cover4, 0) AS DOUBLE) / word_chars AS t4
        |  FROM j)
        |SELECT doc_id, n_lines,
        |  round(dup_line_frac, 6) AS dup_line_frac,
        |  round(dup_line_char_frac, 6) AS dup_line_char_frac,
        |  round(t2, 6) AS top2gram_char_frac,
        |  round(t3, 6) AS top3gram_char_frac,
        |  round(t4, 6) AS top4gram_char_frac,
        |  (dup_line_frac <= CAST(0.30 AS DOUBLE) AND dup_line_char_frac <= CAST(0.20 AS DOUBLE)
        |   AND t2 <= CAST(0.20 AS DOUBLE) AND t3 <= CAST(0.18 AS DOUBLE)
        |   AND t4 <= CAST(0.16 AS DOUBLE)) AS repetition_keep
        |FROM f ORDER BY doc_id""".stripMargin,
    // the planted VALUES list replays Curation.c4FixtureLines verbatim;
    // rule precedence (badword > brace > short > no_punct) mirrors the
    // Spark CASE order, last char via the engine-portable
    // substr(t, length(t), 1) form
    "c4_line_filters" ->
      """WITH corpus_lines AS (
        |  SELECT doc_id, unnest(string_split(text, chr(10))) AS line
        |  FROM documents WHERE text IS NOT NULL),
        |planted(doc_id, line) AS (VALUES
        |  (2199023255553, 'This is a perfectly fine sentence with enough words.'),
        |  (2199023255553, 'Short line.'),
        |  (2199023255553, 'Click here to read our cookie policy now.'),
        |  (2199023255553, 'function() { return 42; }'),
        |  (2199023255553, 'A line without terminal punctuation here indeed'),
        |  (2199023255553, 'Another good sentence that carries more than five words.'),
        |  (2199023255554, 'The first of three complete sentences sits here.'),
        |  (2199023255554, 'Is this a question with enough words here?'),
        |  (2199023255554, 'What a wonderful surprise this truly is!'),
        |  (2199023255555, 'Lorem ipsum dolor sit amet, consectetur adipiscing elit.'),
        |  (2199023255555, 'Enable javascript to continue browsing this site today.'),
        |  (2199023255555, 'Read the terms of use before you proceed further.'),
        |  (2199023255556, 'He said "the last character is a double quote."')),
        |lines AS (
        |  SELECT * FROM corpus_lines
        |  UNION ALL SELECT CAST(doc_id AS BIGINT), line FROM planted),
        |cls AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN lower(line) LIKE '%lorem ipsum%' OR lower(line) LIKE '%javascript%'
        |        OR lower(line) LIKE '%cookie policy%' OR lower(line) LIKE '%terms of use%'
        |        THEN 'badword'
        |      WHEN line LIKE '%{%' THEN 'brace'
        |      WHEN len(list_filter(regexp_split_to_array(trim(line), '[ \t\n\x0B\f\r]+'),
        |        x -> x <> '')) < 5 THEN 'short'
        |      WHEN substr(trim(line), length(trim(line)), 1) NOT IN ('.', '!', '?', '"')
        |        THEN 'no_punct'
        |      ELSE 'kept' END AS cls
        |  FROM lines)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN cls = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN cls = 'short' THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
        |  CAST(sum(CASE WHEN cls = 'no_punct' THEN 1 ELSE 0 END) AS BIGINT) AS n_no_punct,
        |  CAST(sum(CASE WHEN cls = 'brace' THEN 1 ELSE 0 END) AS BIGINT) AS n_brace,
        |  CAST(sum(CASE WHEN cls = 'badword' THEN 1 ELSE 0 END) AS BIGINT) AS n_badword,
        |  (sum(CASE WHEN cls = 'kept' THEN 1 ELSE 0 END) >= 3) AS c4_keep
        |FROM cls GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "user_streaks" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts) // 1000 // 86400000000 AS epoch_day
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |i AS (
        |  SELECT user_id,
        |    epoch_day - row_number() OVER (
        |      PARTITION BY user_id ORDER BY epoch_day) AS grp
        |  FROM d),
        |s AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
        |      FROM i GROUP BY user_id, grp)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
        |  max(len) AS longest_streak, CAST(count(*) AS BIGINT) AS n_streaks
        |FROM s GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    // direct ±window range join + the same (absΔ, click_us, click_id)
    // argmin order; unmatched purchases survive with NULLs
    "nearest_click_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tus, event_type
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |p AS (SELECT event_id AS purchase_id, user_id, tus AS purchase_us
        |      FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id, tus AS click_us
        |      FROM e WHERE event_type = 'click'),
        |cand AS (
        |  SELECT p.purchase_id, c.click_id, c.click_us,
        |    abs(c.click_us - p.purchase_us) AS ad
        |  FROM p JOIN c ON p.user_id = c.user_id
        |    AND abs(c.click_us - p.purchase_us) <= 3600000000),
        |best AS (
        |  SELECT purchase_id, click_id, click_us, ad,
        |    row_number() OVER (PARTITION BY purchase_id
        |      ORDER BY ad, click_us, click_id) AS rn
        |  FROM cand)
        |SELECT pp.purchase_id, pp.user_id, pp.purchase_us,
        |  b.click_id, b.click_us,
        |  b.click_us - pp.purchase_us AS delta_us, b.ad AS abs_delta_us
        |FROM p pp LEFT JOIN best b
        |  ON b.purchase_id = pp.purchase_id AND b.rn = 1
        |ORDER BY pp.purchase_id""".stripMargin,
    "user_churn" ->
      """WITH w AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts) // 1000 // 604800000000 AS wk
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |mx AS (SELECT max(wk) AS max_wk FROM w),
        |ch AS (SELECT a.wk, CAST(count(*) AS BIGINT) AS n_churned
        |       FROM w a
        |       WHERE NOT EXISTS (SELECT 1 FROM w b
        |                         WHERE b.user_id = a.user_id AND b.wk = a.wk + 1)
        |       GROUP BY a.wk),
        |act AS (SELECT wk, CAST(count(*) AS BIGINT) AS n_active FROM w GROUP BY wk)
        |SELECT act.wk, act.n_active,
        |  CAST(COALESCE(ch.n_churned, 0) AS BIGINT) AS n_churned,
        |  CAST(COALESCE(ch.n_churned, 0) AS DOUBLE) / CAST(act.n_active AS DOUBLE) AS churn_rate
        |FROM act LEFT JOIN ch ON ch.wk = act.wk CROSS JOIN mx
        |WHERE act.wk < mx.max_wk
        |ORDER BY act.wk""".stripMargin,
    // integer-exact equi-width binning: cents via floor(x·100+0.5)
    // (CAST double→int truncates in Spark but rounds in DuckDB), bin
    // and bounds pure integer arithmetic
    "value_histogram" ->
      """WITH c AS (
        |  SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |b AS (SELECT min(c) AS lo, max(c) AS hi FROM c)
        |SELECT (c.c - b.lo) * 20 // (b.hi - b.lo + 1) AS bin,
        |  b.lo + ((c.c - b.lo) * 20 // (b.hi - b.lo + 1)) * (b.hi - b.lo + 1) // 20 AS bin_lo_cents,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM c CROSS JOIN b
        |GROUP BY bin, bin_lo_cents
        |ORDER BY bin""".stripMargin,
    "event_transitions" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tus, event_type
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |s AS (SELECT event_type AS cur,
        |        lead(event_type, 1) OVER (
        |          PARTITION BY user_id ORDER BY tus, event_id) AS nxt
        |      FROM e),
        |c AS (SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n_pair
        |      FROM s WHERE nxt IS NOT NULL GROUP BY cur, nxt),
        |t AS (SELECT cur, CAST(sum(n_pair) AS BIGINT) AS n_cur FROM c GROUP BY cur)
        |SELECT c.cur, c.nxt, c.n_pair, t.n_cur,
        |  CAST(c.n_pair AS DOUBLE) / CAST(t.n_cur AS DOUBLE) AS p
        |FROM c JOIN t USING (cur)
        |ORDER BY cur, nxt""".stripMargin,
    // the offset-shifted integer centroid replayed: (Σq + n·1e9)//n −
    // 1e9 floors identically to Spark's truncating DIV once shifted
    // non-negative; dot/norms exact BIGINT sums over integer centroids
    "label_centroid_sim" ->
      """WITH e AS (SELECT label, embedding FROM embeddings
        |           WHERE embedding IS NOT NULL AND label IS NOT NULL),
        |u AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
        |        CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS q
        |      FROM e),
        |m AS (SELECT label, dim,
        |        (CAST(sum(q) AS BIGINT) + count(*) * 1000000000) // count(*)
        |          - 1000000000 AS m
        |      FROM u GROUP BY label, dim),
        |nrm AS (SELECT label, CAST(sum(m * m) AS BIGINT) AS nn FROM m GROUP BY label),
        |d AS (SELECT a.label AS label_a, b.label AS label_b,
        |        CAST(sum(a.m * b.m) AS BIGINT) AS dot
        |      FROM m a JOIN m b ON a.dim = b.dim AND a.label < b.label
        |      GROUP BY a.label, b.label)
        |SELECT label_a, label_b,
        |  round(CAST(dot AS DOUBLE) /
        |    (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))), 6) AS cosine
        |FROM d JOIN nrm na ON na.label = d.label_a
        |       JOIN nrm nb ON nb.label = d.label_b
        |ORDER BY label_a, label_b""".stripMargin,
    "daily_value_percentiles" ->
      """WITH e AS (
        |  SELECT event_type AS element, CAST(ts AS DATE) AS day, value
        |  FROM events
        |  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
        |r AS (SELECT element, day, value,
        |        row_number() OVER (PARTITION BY element, day ORDER BY value) AS rn,
        |        count(*) OVER (PARTITION BY element, day) AS cnt
        |      FROM e)
        |SELECT element, day, CAST(count(*) AS BIGINT) AS n,
        |  max(CASE WHEN rn = (cnt + 1) // 2 THEN value END) AS p50,
        |  max(CASE WHEN rn = (19 * cnt + 19) // 20 THEN value END) AS p95
        |FROM r GROUP BY element, day
        |ORDER BY element, day""".stripMargin,
    // nearest-rank selection replayed: the rank-k VALUE is unique even
    // when row_number tie order is not
    "value_winsorize" ->
      """WITH e AS (
        |  SELECT event_id, event_type AS element, value
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
        |r AS (SELECT element, value,
        |        row_number() OVER (PARTITION BY element ORDER BY value) AS rn
        |      FROM e),
        |n AS (SELECT element, count(*) AS n,
        |        (count(*) + 19) // 20 AS lo_rank,
        |        (19 * count(*) + 19) // 20 AS hi_rank
        |      FROM e GROUP BY 1),
        |p AS (SELECT r.element,
        |        max(CASE WHEN rn = n.lo_rank THEN value END) AS p05,
        |        max(CASE WHEN rn = n.hi_rank THEN value END) AS p95
        |      FROM r JOIN n USING (element) GROUP BY 1)
        |SELECT e.event_id, e.element, e.value, p.p05, p.p95,
        |  CASE WHEN e.value < p.p05 THEN p.p05
        |       WHEN e.value > p.p95 THEN p.p95
        |       ELSE e.value END AS value_winsorized,
        |  (e.value < p.p05 OR e.value > p.p95) AS clipped
        |FROM e JOIN p USING (element)
        |ORDER BY event_id""".stripMargin,
    // the doubled-median integer recursion replayed literally; every
    // aggregate recast to BIGINT so HUGEINT widening stays internal
    "mad_anomalies" ->
      """WITH daily AS (
        |  SELECT event_type AS element, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT) * 100
        |      // count(*) AS m
        |  FROM events
        |  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |counts AS (SELECT element, (count(*) + 1) // 2 AS lo,
        |                  (count(*) + 2) // 2 AS hi
        |           FROM daily GROUP BY 1),
        |ranked AS (SELECT element, m,
        |             row_number() OVER (PARTITION BY element ORDER BY m) AS rn
        |           FROM daily),
        |med2 AS (SELECT r.element,
        |           CAST(sum(CASE WHEN rn = c.lo THEN m END) +
        |                sum(CASE WHEN rn = c.hi THEN m END) AS BIGINT) AS med2
        |         FROM ranked r JOIN counts c USING (element) GROUP BY 1),
        |wd AS (SELECT d.element, d.day, d.m,
        |         CAST(abs(d.m * 2 - m2.med2) AS BIGINT) AS dev
        |       FROM daily d JOIN med2 m2 USING (element)),
        |rd AS (SELECT element, dev,
        |         row_number() OVER (PARTITION BY element ORDER BY dev) AS rn
        |       FROM wd),
        |mad2 AS (SELECT rd.element,
        |           CAST(sum(CASE WHEN rn = c.lo THEN dev END) +
        |                sum(CASE WHEN rn = c.hi THEN dev END) AS BIGINT) AS mad2
        |         FROM rd JOIN counts c USING (element) GROUP BY 1)
        |SELECT w.element, w.day,
        |  CAST(w.m AS DOUBLE) / 1000000.0 AS daily_mean,
        |  w.m AS mean_micro, m2.med2, w.dev, md.mad2,
        |  (w.dev > 0 AND w.dev * 2 > md.mad2 * 7) AS is_anomaly
        |FROM wd w JOIN med2 m2 USING (element) JOIN mad2 md USING (element)
        |ORDER BY element, day""".stripMargin,
    // quality re-derived through the shared expression text, quantized
    // to 1e-6 BIGINTs before the sum so the mean is order-independent
    "source_quality_summary" ->
      """WITH f AS (
        |  SELECT lang, source,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
        |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      x -> list_contains(['the','a','and','of','to','in','is','on','for','with'], x))) AS DOUBLE)
        |      / len(regexp_split_to_array(lower(trim(text)), '\s+')) AS stop_ratio,
        |    CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
        |      / greatest(length(text), 1) AS punct_density,
        |    CASE WHEN len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+'))
        |           + len(regexp_extract_all(text, 'https?://[^ \t\n]+'))
        |           + len(regexp_extract_all(text, '[0-9]{9,}')) > 0
        |         THEN 1 ELSE 0 END AS pii,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
        |  FROM documents WHERE text IS NOT NULL),
        |q AS (
        |  SELECT lang, source, pii, n_tok,
        |    CAST(floor(round((len_score + stop_ratio + (1.0 - punct_density)) / 3.0, 6)
        |      * 1000000.0 + 0.5) AS BIGINT) AS q6
        |  FROM f)
        |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(CAST(sum(q6) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0, 6) AS mean_quality,
        |  round(CAST(sum(pii) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS pii_rate,
        |  round(CAST(sum(n_tok) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_tokens
        |FROM q GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,
    "doc_length_histogram" ->
      """WITH d AS (
        |  SELECT source, n_chars FROM documents
        |  WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        |b AS (SELECT source, min(n_chars) AS lo, max(n_chars) AS hi
        |      FROM d GROUP BY source)
        |SELECT d.source,
        |  (d.n_chars - b.lo) * 10 // (b.hi - b.lo + 1) AS bin,
        |  b.lo + ((d.n_chars - b.lo) * 10 // (b.hi - b.lo + 1)) * (b.hi - b.lo + 1) // 10 AS bin_lo_chars,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM d JOIN b USING (source)
        |GROUP BY d.source, bin, bin_lo_chars
        |ORDER BY source, bin""".stripMargin,
    "k_anonymity" ->
      """SELECT lang, source, n_chars // 500 AS len_bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  count(*) < 5 AS at_risk
        |FROM documents
        |GROUP BY lang, source, len_bucket
        |ORDER BY lang, source, len_bucket""".stripMargin,
    // the maintained partial store must be indistinguishable from this
    // full recompute over raw history — maintenance drift hash-fails
    "incr_daily_agg" ->
      """SELECT event_type, CAST(ts AS DATE) AS day,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 6) AS total
        |FROM events WHERE ts IS NOT NULL
        |GROUP BY event_type, CAST(ts AS DATE)
        |ORDER BY event_type, day""".stripMargin,
    // numerics print through DECIMAL(18,4) so both engines render
    // identical min/max text; distinct counts are exact
    // per-column skew profile; entropy terms 12dp-quantized before the
    // DECIMAL sum, p99 the shared type-7 percentile family
    "join_skew_report" ->
      ("SELECT * FROM (" + Seq("l_orderkey", "l_partkey", "l_suppkey").map { c =>
        s"""SELECT '$c' AS key_col, n_rows, n_keys, max_freq, p99_freq,
           |  round(CAST(max_freq AS DOUBLE)
           |    / (CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE)), 6) AS skew_ratio,
           |  entropy,
           |  round(CAST(max_freq AS DOUBLE)
           |    / (CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE)), 6) > 16.0 AS skewed
           |FROM (
           |  SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
           |    CAST(count(*) AS BIGINT) AS n_keys,
           |    CAST(max(cnt) AS BIGINT) AS max_freq,
           |    round(quantile_cont(cnt, 0.99), 6) AS p99_freq,
           |    round(0.0 - CAST(sum(ent) AS DOUBLE), 6) AS entropy
           |  FROM (
           |    SELECT cnt,
           |      CAST(round(CAST(cnt AS DOUBLE) / CAST(nr AS DOUBLE)
           |        * ln(CAST(cnt AS DOUBLE) / CAST(nr AS DOUBLE)), 12)
           |        AS DECIMAL(18,12)) AS ent
           |    FROM (
           |      SELECT cnt, CAST(sum(cnt) OVER () AS BIGINT) AS nr FROM (
           |        SELECT count(*) AS cnt FROM lineitem
           |        WHERE $c IS NOT NULL GROUP BY $c) f0) f1) f2)""".stripMargin
      }.mkString("\nUNION ALL\n") + ") ORDER BY key_col"),
    // the bloom-pruned plan must equal the plain join bit for bit
    // (false positives are removed by the exact re-join)
    "bloom_prune_join" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // the salted join is multiset-identical to this unsalted join
    "salted_skew_join" ->
      """SELECT c_mktsegment, count(*) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(CAST("value" AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // CDC diff classes derived from the same snapshot + mutation rules
    "snapshot_diff" ->
      """WITH old_snap AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS old_status,
        |    o_totalprice AS old_price
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'
        |), new_snap AS (
        |  SELECT o_orderkey AS k2,
        |    CASE WHEN o_orderkey % 17 = 2 THEN 'X' ELSE o_orderstatus END
        |      AS new_status,
        |    CASE WHEN o_orderkey % 17 = 3 THEN o_totalprice + 10.0
        |      ELSE o_totalprice END AS new_price
        |  FROM orders
        |  WHERE o_orderdate < TIMESTAMP '2000-01-01' AND o_orderkey % 23 <> 5
        |)
        |SELECT change_type, count(*) AS n_rows,
        |  CAST(sum(CAST(np - op AS DECIMAL(18,4))) AS DOUBLE)
        |    AS net_price_delta
        |FROM (
        |  SELECT CASE
        |      WHEN k IS NULL THEN 'added'
        |      WHEN k2 IS NULL THEN 'removed'
        |      WHEN old_status IS NOT DISTINCT FROM new_status
        |        AND old_price IS NOT DISTINCT FROM new_price THEN 'unchanged'
        |      ELSE 'changed' END AS change_type,
        |    COALESCE(new_price, 0.0) AS np, COALESCE(old_price, 0.0) AS op
        |  FROM old_snap FULL OUTER JOIN new_snap ON k = k2
        |)
        |GROUP BY change_type ORDER BY change_type""".stripMargin,
    // char-unnest entropy formulation; 1e-6 quantization absorbs the
    // sum-order and log-implementation ulps between engines
    "char_entropy" ->
      """WITH base AS (
        |  SELECT doc_id, lang, source, COALESCE(text, '') AS t FROM documents
        |), chars AS (
        |  SELECT doc_id, unicode(u.c) AS cp
        |  FROM base, unnest(string_split(t, '')) AS u(c)
        |  WHERE u.c <> ''
        |), freq AS (
        |  SELECT doc_id, cp, count(*) AS c FROM chars GROUP BY doc_id, cp
        |), ent AS (
        |  SELECT doc_id,
        |    log2(CAST(sum(c) AS DOUBLE))
        |      - sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))
        |        / CAST(sum(c) AS DOUBLE) AS h
        |  FROM freq GROUP BY doc_id
        |)
        |SELECT doc_id, lang, source, entropy_q,
        |  (entropy_q < 2000000) AS low_entropy
        |FROM (
        |  SELECT b.doc_id, b.lang, b.source,
        |    CAST(floor(COALESCE(e.h, 0.0) * 1000000 + 0.5) AS BIGINT)
        |      AS entropy_q
        |  FROM base b LEFT JOIN ent e ON b.doc_id = e.doc_id)
        |ORDER BY doc_id""".stripMargin,
    // the cascaded bloom plan must equal the plain 3-table join
    "bloom_cascade_revenue" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
        |    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // DuckDB replays the adjacency scan with 1-based list indexing
    // (pos emitted 0-based on both sides)
    "phrase_search" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    regexp_extract_all(lower(COALESCE(text, '')), '[a-z0-9]+') AS ts
        |  FROM documents
        |), hits AS (
        |  SELECT doc_id, i - 1 AS pos
        |  FROM toks, unnest(range(1, greatest(len(ts), 1))) AS u(i)
        |  WHERE ts[i] = 'table' AND ts[i + 1] = 'hash'
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
        |  CAST(min(pos) AS BIGINT) AS first_pos
        |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the SQL-surface kernel drive: entropy/phrase replayed with the
    // char_entropy/phrase_search oracle idioms, cosine with the
    // cosine_topk explicit-double formulation, winnow literal-TRUE
    // (null-safe-compared against the Column API inside the query)
    "sql_text_kernels" ->
      """WITH base AS (
        |  SELECT doc_id, COALESCE(text, '') AS t FROM documents
        |), chars AS (
        |  SELECT doc_id, unicode(u.c) AS cp
        |  FROM base, unnest(string_split(t, '')) AS u(c)
        |  WHERE u.c <> ''
        |), freq AS (
        |  SELECT doc_id, cp, count(*) AS c FROM chars GROUP BY doc_id, cp
        |), ent AS (
        |  SELECT doc_id,
        |    log2(CAST(sum(c) AS DOUBLE))
        |      - sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))
        |        / CAST(sum(c) AS DOUBLE) AS h
        |  FROM freq GROUP BY doc_id
        |), toks AS (
        |  SELECT doc_id,
        |    regexp_extract_all(lower(COALESCE(text, '')), '[a-z0-9]+') AS ts
        |  FROM documents
        |), ph AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n
        |  FROM toks, unnest(range(1, greatest(len(ts), 1))) AS u(i)
        |  WHERE ts[i] = 'table' AND ts[i + 1] = 'hash'
        |  GROUP BY doc_id
        |), emb AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
        |  FROM embeddings WHERE embedding IS NOT NULL
        |)
        |SELECT b.doc_id,
        |  CAST(floor(COALESCE(ent.h, 0.0) * 1000000 + 0.5) AS BIGINT) AS entropy_q,
        |  COALESCE(ph.n, CAST(0 AS BIGINT)) AS n_phrase,
        |  round(list_sum(list_transform(list_zip(e1.embedding, e2.embedding),
        |    s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))) / (e1.norm * e2.norm), 4)
        |    AS cos_next,
        |  TRUE AS winnow_ok
        |FROM base b
        |LEFT JOIN ent ON ent.doc_id = b.doc_id
        |LEFT JOIN ph ON ph.doc_id = b.doc_id
        |LEFT JOIN emb e1 ON e1.vec_id = b.doc_id
        |LEFT JOIN emb e2 ON e2.vec_id = b.doc_id + 1
        |ORDER BY b.doc_id""".stripMargin,
    // exact integer counts; only the final ln is IEEE, 1e-6-quantized
    "token_pmi" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    regexp_extract_all(lower(COALESCE(text, '')), '[a-z0-9]+') AS ts
        |  FROM documents
        |), uni AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS c_w
        |  FROM toks, unnest(ts) AS t(w) GROUP BY w
        |), bi AS (
        |  SELECT ts[i] AS w1, ts[i + 1] AS w2, CAST(count(*) AS BIGINT) AS c_ab
        |  FROM toks, unnest(range(1, greatest(len(ts), 1))) AS u(i)
        |  GROUP BY ts[i], ts[i + 1]
        |), tot AS (SELECT CAST(sum(c_w) AS BIGINT) AS n_tokens FROM uni),
        |m AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n_bigrams FROM bi)
        |SELECT w1, w2, c_ab, a.c_w AS c_a, b.c_w AS c_b,
        |  CAST(floor(ln(
        |    (CAST(c_ab AS DOUBLE) / CAST(n_bigrams AS DOUBLE)) /
        |      ((CAST(a.c_w AS DOUBLE) / CAST(n_tokens AS DOUBLE))
        |        * (CAST(b.c_w AS DOUBLE) / CAST(n_tokens AS DOUBLE))))
        |    * 1000000 + 0.5) AS BIGINT) AS pmi_q
        |FROM bi JOIN uni a ON w1 = a.w JOIN uni b ON w2 = b.w, tot, m
        |WHERE c_ab >= 5
        |ORDER BY w1, w2""".stripMargin,
    // fixed-point value x exact-microsecond durations; DECIMAL sums;
    // lead tie-broken on the unique event_id in both engines
    "twap_daily" ->
      """WITH ev AS (
        |  SELECT event_id, event_type, "value",
        |    epoch_us(ts) AS tus,
        |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_num
        |  FROM events
        |  WHERE ts IS NOT NULL AND "value" IS NOT NULL
        |    AND event_type IS NOT NULL AND event_id IS NOT NULL
        |), d AS (
        |  SELECT event_type, day_num,
        |    CAST(floor("value" * 10000 + 0.5) AS BIGINT) AS v_q,
        |    COALESCE(lead(tus) OVER (PARTITION BY event_type, day_num
        |        ORDER BY tus, event_id),
        |      (day_num + 1) * 86400000000) - tus AS dur_us
        |  FROM ev
        |)
        |SELECT event_type,
        |  CAST(DATE '1970-01-01' + to_days(CAST(day_num AS INT)) AS DATE)
        |    AS day,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(v_q * dur_us AS DECIMAL(38,0))) AS DOUBLE)
        |    / CAST(sum(CAST(dur_us AS DECIMAL(38,0))) AS DOUBLE)
        |    / 10000.0 AS twap
        |FROM d GROUP BY event_type, day_num
        |ORDER BY event_type, day""".stripMargin,
    // the Spark side runs the IDENTICAL text through its own parser —
    // the check is that Catalyst's decorrelation preserves semantics
    "sql_min_cost_supplier" -> minCostSupplierSql,
    // cascade audit re-derived via plain IN-subquery counts
    "deletion_audit" ->
      """WITH tomb AS (
        |  SELECT c_custkey AS del_key FROM customer WHERE c_custkey % 97 = 13
        |), del_orders AS (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_custkey IN (SELECT del_key FROM tomb)
        |)
        |SELECT * FROM (
        |  SELECT 'customer' AS table_name,
        |    (SELECT count(*) FROM customer) AS n_before,
        |    (SELECT count(*) FROM tomb) AS n_deleted,
        |    (SELECT count(*) FROM customer)
        |      - (SELECT count(*) FROM tomb) AS n_after
        |  UNION ALL
        |  SELECT 'orders',
        |    (SELECT count(*) FROM orders),
        |    (SELECT count(*) FROM del_orders),
        |    (SELECT count(*) FROM orders) - (SELECT count(*) FROM del_orders)
        |  UNION ALL
        |  SELECT 'lineitem',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem
        |     WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders)),
        |    (SELECT count(*) FROM lineitem)
        |      - (SELECT count(*) FROM lineitem
        |         WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders))
        |  UNION ALL
        |  SELECT 'events',
        |    (SELECT count(*) FROM events),
        |    (SELECT count(*) FROM events
        |     WHERE user_id IN (SELECT del_key FROM tomb)),
        |    (SELECT count(*) FROM events)
        |      - (SELECT count(*) FROM events
        |         WHERE user_id IN (SELECT del_key FROM tomb))
        |) ORDER BY table_name""".stripMargin,
    // per-FD distinct-rhs fan-out; the holding FDs are the regression
    // surface (n_violating = 0 hash-checks like any literal)
    "fd_violations" ->
      ("SELECT * FROM (" + Seq(
        ("nation", "n_nationkey", "n_regionkey"),
        ("customer", "c_nationkey", "c_mktsegment"),
        ("orders", "o_orderkey", "o_orderpriority"),
        ("lineitem", "l_orderkey", "l_shipdate"),
        ("documents", "source", "lang")).map { case (t, l, r) =>
        s"""SELECT '$t.$l->$r' AS fd,
           |  CAST(count(*) AS BIGINT) AS n_lhs,
           |  CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_violating,
           |  CAST(max(n_rhs) AS BIGINT) AS max_fanout,
           |  sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) = 0 AS holds
           |FROM (
           |  SELECT $l, count(DISTINCT $r) AS n_rhs FROM $t
           |  WHERE $l IS NOT NULL GROUP BY $l)""".stripMargin
      }.mkString("\nUNION ALL\n") + ") ORDER BY fd"),
    // CUBE with GROUPING disambiguation (grouping_id = gr*2 + gp)
    "revenue_cube" ->
      """SELECT
        |  CASE WHEN GROUPING(r_name) = 1 THEN 'ALL' ELSE r_name END AS r_name,
        |  CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL'
        |    ELSE o_orderpriority END AS o_orderpriority,
        |  CAST(GROUPING(r_name) * 2 + GROUPING(o_orderpriority) AS BIGINT)
        |    AS grouping_id,
        |  count(*) AS n_orders,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 6)
        |    AS total_price
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY CUBE (r_name, o_orderpriority)
        |ORDER BY 1, 2""".stripMargin,
    // langId's argmax scores, aggregated to confusion cells
    "lang_confusion" ->
      """WITH s AS (
        |  SELECT doc_id, lang AS lang_given,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, lang_given,
        |    CAST(len(list_filter(w, x -> list_contains(['the','and','of'], x))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(w, x -> list_contains(['der','und','die'], x))) AS BIGINT) AS s_de,
        |    CAST(len(list_filter(w, x -> list_contains(['el','que','los'], x))) AS BIGINT) AS s_es,
        |    CAST(len(list_filter(w, x -> list_contains(['le','et','les'], x))) AS BIGINT) AS s_fr,
        |    CAST(len(list_filter(w, x -> list_contains(['de','shi','le'], x))) AS BIGINT) AS s_zh
        |  FROM s),
        |pred AS (
        |  SELECT COALESCE(lang_given, 'unknown') AS lang_given,
        |    list_sort([
        |      {'negscore': -s_en, 'lang': 'en'},
        |      {'negscore': -s_de, 'lang': 'de'},
        |      {'negscore': -s_es, 'lang': 'es'},
        |      {'negscore': -s_fr, 'lang': 'fr'},
        |      {'negscore': -s_zh, 'lang': 'zh'}])[1].lang AS pred_lang
        |  FROM sc)
        |SELECT lang_given, pred_lang, count(*) AS n_docs
        |FROM pred GROUP BY lang_given, pred_lang
        |ORDER BY lang_given, pred_lang""".stripMargin,
    // exact-integer between-phase sum of squares, DECIMAL-ranked argmax
    "dominant_period" ->
      """WITH daily AS (
        |  SELECT event_type AS element,
        |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_num,
        |    CAST(count(*) AS BIGINT) AS n_d
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2
        |), tot AS (
        |  SELECT element, CAST(sum(n_d) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM daily GROUP BY element
        |), ph AS (
        |  SELECT d.element, pp.p, d.day_num % pp.p AS phase,
        |    CAST(sum(n_d) AS BIGINT) AS s_ph, CAST(count(*) AS BIGINT) AS c_ph
        |  FROM daily d, (SELECT unnest(range(2, 11)) AS p) pp
        |  GROUP BY 1, 2, 3
        |), sc AS (
        |  SELECT ph.element, p,
        |    sum(CAST(round(
        |      CAST(CAST(s_ph * c - s * c_ph AS HUGEINT)
        |           * CAST(s_ph * c - s * c_ph AS HUGEINT) AS DOUBLE)
        |        / CAST(c_ph AS DOUBLE), 12) AS DECIMAL(30,12))) AS score
        |  FROM ph JOIN tot ON ph.element = tot.element
        |  GROUP BY 1, 2
        |), best AS (
        |  SELECT element, p, score,
        |    row_number() OVER (PARTITION BY element
        |      ORDER BY score DESC, p ASC) AS rn
        |  FROM sc
        |)
        |SELECT element, CAST(p AS BIGINT) AS best_period,
        |  round(CAST(score AS DOUBLE), 6) AS score, (p = 7) AS is_weekly
        |FROM best WHERE rn = 1 ORDER BY element""".stripMargin,
    // trigram tf-idf cosine: 12dp-rounded products into DECIMAL sums,
    // single IEEE sqrt/divide at the end
    "tfidf_cosine_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(lower(trim(COALESCE(text, ''))), '\s+') AS ws
        |  FROM documents
        |), sized AS (
        |  SELECT doc_id, ws, len(ws) AS dl FROM toks WHERE len(ws) >= 3
        |), nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM sized),
        |grams AS (
        |  SELECT doc_id, dl,
        |    ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS g
        |  FROM sized, unnest(range(1, greatest(len(ws) - 1, 1))) AS u(i)
        |), tf AS (
        |  SELECT doc_id, dl, g, CAST(count(*) AS BIGINT) AS tf
        |  FROM grams GROUP BY doc_id, dl, g
        |), df AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY g
        |  HAVING count(*) <= 50
        |), wgt AS (
        |  SELECT doc_id, tf.g,
        |    CAST(tf AS DOUBLE) / CAST(dl AS DOUBLE)
        |      * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS wgt
        |  FROM tf JOIN df ON tf.g = df.g, nd
        |  WHERE df < n_docs
        |), norms AS (
        |  SELECT doc_id,
        |    sqrt(CAST(sum(CAST(round(wgt * wgt, 12) AS DECIMAL(30,12)))
        |      AS DOUBLE)) AS nrm
        |  FROM wgt GROUP BY doc_id
        |), dots AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    sum(CAST(round(a.wgt * b.wgt, 12) AS DECIMAL(30,12))) AS dot
        |  FROM wgt a JOIN wgt b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |)
        |SELECT doc_a, doc_b,
        |  round(CAST(dot AS DOUBLE) / (na.nrm * nb.nrm), 6) AS cos
        |FROM dots
        |JOIN norms na ON doc_a = na.doc_id
        |JOIN norms nb ON doc_b = nb.doc_id
        |WHERE round(CAST(dot AS DOUBLE) / (na.nrm * nb.nrm), 6) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    "table_profile" ->
      ("""SELECT * FROM (""" +
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map(c =>
          s"""SELECT '$c' AS "column", count(*) AS n_rows,
             |  count(*) - count($c) AS n_null,
             |  count(DISTINCT $c) AS n_distinct,
             |  CAST(CAST(min($c) AS DECIMAL(18,4)) AS VARCHAR) AS min_s,
             |  CAST(CAST(max($c) AS DECIMAL(18,4)) AS VARCHAR) AS max_s
             |FROM lineitem""".stripMargin).mkString(" UNION ALL ") +
        " UNION ALL " +
        Seq("l_returnflag", "l_linestatus", "l_shipdate").map(c =>
          s"""SELECT '$c', count(*), count(*) - count($c),
             |  count(DISTINCT $c),
             |  CAST(min($c) AS VARCHAR), CAST(max($c) AS VARCHAR)
             |FROM lineitem""".stripMargin).mkString(" UNION ALL ") +
        """) ORDER BY "column""""),
    // naive global per-stratum rank — the engine's salted two-phase
    // top-n must be bit-identical to this at any partitioning
    "stratified_sample" ->
      """SELECT lang, source, sample_rank, doc_id FROM (
        |  SELECT lang, source, doc_id,
        |    row_number() OVER (PARTITION BY lang, source
        |      ORDER BY md5(COALESCE(text, '') || '|' || CAST(doc_id AS VARCHAR)),
        |        doc_id) AS sample_rank
        |  FROM documents)
        |WHERE sample_rank <= 10
        |ORDER BY lang, source, sample_rank""".stripMargin,
    "corpus_mixture" ->
      """WITH m AS (
        |  SELECT lang, source, count(*) AS n_docs,
        |    CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang, source),
        |t AS (SELECT sum(n_docs) AS td, sum(n_tokens) AS tt FROM m)
        |SELECT lang, source, n_docs, n_tokens,
        |  round(CAST(n_docs AS DOUBLE) / td, 6) AS share_docs,
        |  round(CAST(n_tokens AS DOUBLE) / tt, 6) AS share_tokens
        |FROM m CROSS JOIN t ORDER BY lang, source""".stripMargin,
    // hash-sharded loader manifest: train split only, exact token totals
    "corpus_shard_plan" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN substr(md5(text), 1, 2) < 'e6' THEN 'train'
        |         WHEN substr(md5(text), 1, 2) < 'f3' THEN 'val' ELSE 'test' END AS split,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tok
        |  FROM documents),
        |s AS (
        |  SELECT CAST(CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT) % 16 AS BIGINT) AS shard,
        |    doc_id, n_tok
        |  FROM t WHERE split = 'train')
        |SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
        |  round(CAST(sum(n_tok) AS DOUBLE) / CAST(sum(sum(n_tok)) OVER () AS DOUBLE), 6) AS token_share
        |FROM s GROUP BY shard ORDER BY shard""".stripMargin,
    "corpus_resample" ->
      """WITH t AS (
        |  SELECT doc_id, lang, source,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |s AS (SELECT lang, source, sum(n_tok) AS stratum_tokens FROM t GROUP BY lang, source),
        |r AS (SELECT lang, source,
        |    least(1.0, quantile_cont(stratum_tokens, 0.5) OVER () / stratum_tokens) AS rate
        |  FROM s)
        |SELECT t.doc_id, t.lang, t.source, t.n_tok, round(r.rate, 6) AS rate
        |FROM t JOIN r USING (lang, source)
        |WHERE CAST(('0x' || substr(md5('resample:' || CAST(t.doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
        |  / 4294967296.0 < r.rate
        |ORDER BY t.doc_id""".stripMargin,
    "pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, lang, source,
        |    CASE WHEN substr(md5(text), 1, 2) < 'e6' THEN 'train'
        |         WHEN substr(md5(text), 1, 2) < 'f3' THEN 'val' ELSE 'test' END AS split,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tok
        |  FROM documents)
        |SELECT split, lang, source, doc_id, n_tok,
        |  CAST(COALESCE(sum(n_tok) OVER (PARTITION BY split, lang, source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off,
        |  CAST(floor(COALESCE(sum(n_tok) OVER (PARTITION BY split, lang, source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048.0) AS BIGINT) AS bin
        |FROM t ORDER BY split, lang, source, doc_id""".stripMargin,
    "pack_efficiency" ->
      """WITH t AS (
        |  SELECT doc_id, lang, source,
        |    CASE WHEN substr(md5(text), 1, 2) < 'e6' THEN 'train'
        |         WHEN substr(md5(text), 1, 2) < 'f3' THEN 'val' ELSE 'test' END AS split,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tok
        |  FROM documents),
        |p AS (
        |  SELECT split, lang, source, n_tok,
        |    CAST(floor(COALESCE(sum(n_tok) OVER (PARTITION BY split, lang, source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048.0) AS BIGINT) AS bin
        |  FROM t)
        |SELECT split,
        |  count(DISTINCT (lang, source)) AS n_shards,
        |  count(DISTINCT (lang, source, bin)) AS n_bins,
        |  count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_tok) AS DOUBLE) / CAST(count(DISTINCT (lang, source, bin)) * 2048 AS DOUBLE) AS fill_ratio
        |FROM p GROUP BY split ORDER BY split""".stripMargin,
    "dedup_fingerprint_keepset" ->
      """SELECT min(doc_id) AS doc_id FROM documents
        |GROUP BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
        |ORDER BY doc_id""".stripMargin,
    // the naive pair-join formulation — same counts as the engine's
    // per-fingerprint combination math, tractable at oracle scale
    "source_overlap" ->
      """WITH g AS (
        |  SELECT doc_id, source,
        |    regexp_replace(lower(trim(text)), '[ \t\n\x0B\f\r]+', ' ', 'g') AS norm
        |  FROM documents)
        |SELECT least(a.source, b.source) AS source_a,
        |  greatest(a.source, b.source) AS source_b,
        |  count(*) AS n_dup_pairs
        |FROM g a JOIN g b ON a.norm = b.norm AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "source_overlap_gate" ->
      """WITH seeded AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2199023255552 AS doc_id, text,
        |    'planted_mirror' AS source
        |  FROM documents WHERE doc_id % 97 = 3),
        |g AS (
        |  SELECT doc_id, source,
        |    regexp_replace(lower(trim(text)), '[ \t\n\x0B\f\r]+', ' ', 'g') AS norm
        |  FROM seeded)
        |SELECT least(a.source, b.source) AS source_a,
        |  greatest(a.source, b.source) AS source_b,
        |  count(*) AS n_dup_pairs
        |FROM g a JOIN g b ON a.norm = b.norm AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the curate_corpus recursive CTE reused up through the keep-set,
    // aggregated per stage; CASE (not FILTER) mirrors Spark's
    // when/otherwise so an empty stage reads 0, never NULL
    "curation_funnel" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, lang, source,
        |    list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS toks
        |  FROM documents),
        |x AS (SELECT doc_id, lang, source, len(toks) AS n, unnest(toks) AS w FROM t),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM x a JOIN x b
        |    ON a.lang = b.lang AND a.source = b.source AND a.w = b.w
        |   AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id, a.n, b.n
        |  HAVING round(CAST(count(*) AS DOUBLE) / (a.n + b.n - count(*)), 4) >= 0.95),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach(doc_id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.doc_id),
        |lab AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id),
        |qf AS (
        |  SELECT doc_id,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
        |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      y -> list_contains(['the','a','and','of','to','in','is','on','for','with'], y))) AS DOUBLE)
        |      / len(regexp_split_to_array(lower(trim(text)), '\s+')) AS stop_ratio,
        |    CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
        |      / greatest(length(text), 1) AS punct_density
        |  FROM documents),
        |qual AS (
        |  SELECT doc_id,
        |    round((len_score + stop_ratio + (1.0 - punct_density)) / 3.0, 6) AS quality
        |  FROM qf),
        |pii AS (
        |  SELECT doc_id,
        |    (len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+'))
        |     + len(regexp_extract_all(text, 'https?://[^ \t\n]+'))
        |     + len(regexp_extract_all(text, '[0-9]{9,}'))) > 0 AS flagged
        |  FROM documents),
        |f AS (
        |  SELECT d.doc_id,
        |    CAST(len(regexp_extract_all(d.text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tok,
        |    qual.quality >= 0.5 AS q_ok,
        |    (qual.quality >= 0.5 AND NOT pii.flagged) AS p_ok,
        |    lab.cluster_id
        |  FROM documents d JOIN qual ON d.doc_id = qual.doc_id
        |  JOIN pii ON d.doc_id = pii.doc_id JOIN lab ON d.doc_id = lab.doc_id),
        |rep AS (SELECT cluster_id, min(doc_id) AS rep_id FROM f WHERE p_ok GROUP BY cluster_id),
        |g AS (
        |  SELECT f.*, (f.p_ok AND f.doc_id = rep.rep_id) AS d_ok
        |  FROM f LEFT JOIN rep ON f.cluster_id = rep.cluster_id),
        |funnel AS (
        |  SELECT CAST(1 AS BIGINT) AS stage, 'raw' AS stage_name,
        |    count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM g
        |  UNION ALL SELECT 2, 'quality',
        |    CAST(sum(CASE WHEN q_ok THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN q_ok THEN n_tok ELSE 0 END) AS BIGINT) FROM g
        |  UNION ALL SELECT 3, 'pii_clean',
        |    CAST(sum(CASE WHEN p_ok THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN p_ok THEN n_tok ELSE 0 END) AS BIGINT) FROM g
        |  UNION ALL SELECT 4, 'dedup_rep',
        |    CAST(sum(CASE WHEN d_ok THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN d_ok THEN n_tok ELSE 0 END) AS BIGINT) FROM g)
        |SELECT stage, stage_name, n_docs, n_tokens FROM funnel ORDER BY stage""".stripMargin,
    "vocab_coverage" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS token
        |  FROM documents),
        |c AS (SELECT token, count(*) AS n FROM toks GROUP BY token),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total_tokens FROM c),
        |r AS (
        |  SELECT token, n,
        |    row_number() OVER (ORDER BY n DESC, token ASC) AS rank,
        |    CAST(sum(n) OVER (ORDER BY n DESC, token ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM c)
        |SELECT CAST(rank AS BIGINT) AS rank, token, n,
        |  CAST(n AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS share,
        |  CAST(cum AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS cum_share
        |FROM r, tot WHERE rank <= 100 ORDER BY rank""".stripMargin,
    // exactness contract: quantize each float at 1e-6 via floor(x*1e6+0.5)
    // (floor has no tie semantics, unlike round), aggregate exact BIGINTs,
    // and apply the SAME final IEEE formula in both engines -> doubles
    // are bit-identical with no rounding anywhere
    "embedding_dim_stats" ->
      """WITH e AS (SELECT embedding FROM embeddings WHERE embedding IS NOT NULL),
        |u AS (
        |  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS q
        |  FROM e),
        |a AS (
        |  SELECT dim, count(*) AS n, CAST(sum(q) AS BIGINT) AS s,
        |    CAST(sum(q * q) AS BIGINT) AS ssq, min(q) AS qmin, max(q) AS qmax
        |  FROM u GROUP BY dim)
        |SELECT CAST(dim AS BIGINT) AS dim, n,
        |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS mean,
        |  sqrt(greatest(CAST(ssq AS DOUBLE) / CAST(n AS DOUBLE)
        |    - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)),
        |    0.0)) / 1000000.0 AS std,
        |  CAST(qmin AS DOUBLE) / 1000000.0 AS min_val,
        |  CAST(qmax AS DOUBLE) / 1000000.0 AS max_val
        |FROM a ORDER BY dim""".stripMargin,
    // gaps-and-islands on the SAME integer microseconds Spark windows
    // on; break at diff > gap (an event exactly gap after the previous
    // one MERGES — session ends are inclusive, fixture-pinned)
    "user_sessions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS tus, value
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |o AS (
        |  SELECT user_id, tus, value,
        |    CASE WHEN lag(tus) OVER (PARTITION BY user_id ORDER BY tus) IS NULL
        |           OR tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus) > 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e),
        |s AS (
        |  SELECT user_id, tus, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY tus
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM o)
        |SELECT user_id, min(tus) AS session_start_us,
        |  max(tus) + 1800000000 AS session_end_us,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start_us""".stripMargin,
    // same gaps-and-islands sessions, then the same difference array:
    // +1 at the start hour, -1 after the end hour, prefix-summed
    "session_concurrency" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS tus
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |o AS (
        |  SELECT user_id, tus,
        |    CASE WHEN lag(tus) OVER (PARTITION BY user_id ORDER BY tus) IS NULL
        |           OR tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus) > 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e),
        |s AS (
        |  SELECT user_id, tus,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY tus
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM o),
        |sess AS (
        |  SELECT min(tus) AS s, max(tus) + 1800000000 AS e
        |  FROM s GROUP BY user_id, sid),
        |d AS (
        |  SELECT h, CAST(sum(d) AS BIGINT) AS net FROM (
        |    SELECT s // 3600000000 AS h, 1 AS d FROM sess
        |    UNION ALL
        |    SELECT (e - 1) // 3600000000 + 1 AS h, -1 AS d FROM sess) u
        |  GROUP BY h HAVING sum(d) <> 0)
        |SELECT CAST(h * 3600000000 AS BIGINT) AS hour_us, net,
        |  CAST(sum(net) OVER (ORDER BY h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_active
        |FROM d ORDER BY hour_us""".stripMargin,
    // last click = row_number over (tus DESC, id DESC) — the same
    // winner as Spark's max(struct(click_us, click_id)); unattributed
    // purchases survive the LEFT JOIN with NULL click columns
    // same candidate semantics as last-touch; credit = one division
    "linear_attribution" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tus, event_type
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |p AS (SELECT event_id, user_id, tus FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT event_id, user_id, tus FROM e WHERE event_type = 'click'),
        |t AS (
        |  SELECT p.event_id AS purchase_id, CAST(count(*) AS BIGINT) AS n_touches,
        |    min(c.tus) AS first_click_us, max(c.tus) AS last_click_us
        |  FROM p JOIN c ON p.user_id = c.user_id
        |    AND c.tus <= p.tus AND p.tus - c.tus < 3600000000
        |  GROUP BY p.event_id)
        |SELECT p.event_id AS purchase_id, p.user_id, p.tus AS purchase_us,
        |  CAST(COALESCE(t.n_touches, 0) AS BIGINT) AS n_touches,
        |  round(1.0 / CAST(t.n_touches AS DOUBLE), 6) AS credit_each,
        |  t.first_click_us, t.last_click_us
        |FROM p LEFT JOIN t ON t.purchase_id = p.event_id
        |ORDER BY purchase_id""".stripMargin,
    // ISO weekday profile: Spark weekday()+1 ≡ DuckDB isodow
    "weekday_profile" ->
      """SELECT event_type AS element, isodow(CAST(ts AS DATE)) AS dow,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS mean_value
        |FROM events
        |WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
        |GROUP BY 1, 2 ORDER BY element, dow""".stripMargin,
    "click_attribution" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tus, event_type
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |p AS (SELECT event_id, user_id, tus FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT event_id, user_id, tus FROM e WHERE event_type = 'click'),
        |j AS (
        |  SELECT p.event_id AS purchase_id, c.event_id AS click_id, c.tus AS click_us,
        |    row_number() OVER (PARTITION BY p.event_id
        |                       ORDER BY c.tus DESC, c.event_id DESC) AS rn
        |  FROM p JOIN c ON p.user_id = c.user_id
        |    AND c.tus <= p.tus AND p.tus - c.tus < 3600000000)
        |SELECT p.event_id AS purchase_id, p.user_id, p.tus AS purchase_us,
        |  j.click_id, j.click_us, p.tus - j.click_us AS delta_us
        |FROM p LEFT JOIN (SELECT * FROM j WHERE rn = 1) j ON p.event_id = j.purchase_id
        |ORDER BY purchase_id""".stripMargin,
    // append-mode release predicate: window.end <= watermark, watermark
    // = max event time - 1 day at Spark's millisecond granularity —
    // mirrored below as exact integer ms arithmetic; decimal sums make
    // the values order-independent on both sides
    "stream_daily_agg" ->
      """WITH mx AS (SELECT max(ts) AS m FROM events),
        |agg AS (
        |  SELECT event_type AS element, CAST(ts AS DATE) AS day, count(*) AS n_obs,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1, 2)
        |SELECT element, day, n_obs, sum_value,
        |  sum_value / CAST(n_obs AS DOUBLE) AS avg_value
        |FROM agg, mx
        |WHERE (datediff('day', DATE '1970-01-01', day) + 1) * 86400000
        |      <= epoch_ns(m) // 1000000 - 86400000
        |ORDER BY element, day""".stripMargin,
    // decimal-exact revenue: the multiply stays DECIMAL before the sum
    // (scale 8 products of scale-4 inputs are exact), cast to double
    // only at the end — ties in the top-k broken by (date, orderkey)
    "shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |    (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_shipdate > TIMESTAMP '1998-03-15'
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND c_mktsegment = 'BUILDING'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
        |LIMIT 10""".stripMargin,
    "local_supplier_volume" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |    (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND r_name = 'ASIA'
        |GROUP BY 1 ORDER BY revenue DESC, n_name ASC""".stripMargin,
    // pivot ≡ conditional aggregation (the relational meaning of pivot)
    "revenue_year_pivot" ->
      ("""SELECT n_name, """ +
        (1995 to 2001).map(y =>
          s"CAST(sum(CASE WHEN year(o_orderdate) = $y THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE) AS y$y")
          .mkString(", ") +
        """ FROM orders
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |GROUP BY n_name ORDER BY n_name""".stripMargin),
    // 6dp-rounded type-7 quintile thresholds make the strict > scoring
    // compares identical in both engines; recency inverted (recent = 5)
    "rfm_segments" ->
      """WITH pc AS (
        |  SELECT o_custkey AS c_custkey, max(CAST(o_orderdate AS DATE)) AS last_order,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    sum(CAST(o_totalprice AS DECIMAL(18,4))) AS spend
        |  FROM orders GROUP BY 1),
        |rd AS (SELECT max(last_order) AS ref FROM pc),
        |base AS (
        |  SELECT c_custkey, CAST(ref - last_order AS BIGINT) AS recency_days,
        |    frequency, round(CAST(spend AS DOUBLE), 6) AS monetary
        |  FROM pc CROSS JOIN rd),
        |qs AS (SELECT
        |    list_transform(quantile_cont(recency_days, [0.2,0.4,0.6,0.8]), e -> round(e, 6)) AS rq,
        |    list_transform(quantile_cont(frequency, [0.2,0.4,0.6,0.8]), e -> round(e, 6)) AS fq,
        |    list_transform(quantile_cont(monetary, [0.2,0.4,0.6,0.8]), e -> round(e, 6)) AS mq
        |  FROM base)
        |SELECT c_custkey, recency_days, frequency, monetary,
        |  CAST(5 - len(list_filter(rq, t -> recency_days > t)) AS BIGINT) AS r_score,
        |  CAST(len(list_filter(fq, t -> frequency > t)) + 1 AS BIGINT) AS f_score,
        |  CAST(len(list_filter(mq, t -> monetary > t)) + 1 AS BIGINT) AS m_score,
        |  concat(5 - len(list_filter(rq, t -> recency_days > t)),
        |    len(list_filter(fq, t -> frequency > t)) + 1,
        |    len(list_filter(mq, t -> monetary > t)) + 1) AS segment
        |FROM base CROSS JOIN qs ORDER BY c_custkey""".stripMargin,
    // ±1 sweep deltas + dense-day prefix sum ≡ per-day interval count
    "open_orders_daily" ->
      """WITH iv AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d0,
        |    max(CAST(l_shipdate AS DATE)) AS d1
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  GROUP BY o_orderkey, o_orderdate),
        |delta AS (
        |  SELECT day, sum(c) AS dc FROM (
        |    SELECT d0 AS day, CAST(1 AS BIGINT) AS c FROM iv
        |    UNION ALL SELECT d1 + 1, CAST(-1 AS BIGINT) FROM iv) u
        |  GROUP BY day),
        |days AS (
        |  SELECT CAST(unnest(generate_series(
        |    (SELECT min(day) FROM delta), (SELECT max(day) FROM delta),
        |    INTERVAL 1 DAY)) AS DATE) AS day)
        |SELECT days.day,
        |  CAST(sum(COALESCE(delta.dc, 0)) OVER (ORDER BY days.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_open
        |FROM days LEFT JOIN delta ON delta.day = days.day
        |ORDER BY days.day""".stripMargin,
    // stack-melt of the pivot ≡ the plain tall aggregate
    "revenue_unpivot" ->
      """SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE year(o_orderdate) BETWEEN 1995 AND 2001
        |GROUP BY n_name, yr
        |ORDER BY n_name, yr""".stripMargin,
    "top_orders_per_segment" ->
      """SELECT c_mktsegment, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |WHERE rnk <= 3
        |ORDER BY c_mktsegment, rnk""".stripMargin,
    // the engine's distributed rank must reproduce ntile(10) exactly
    "order_value_deciles" ->
      """WITH r AS (
        |  SELECT o_orderkey, o_totalprice,
        |    ntile(10) OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS decile
        |  FROM orders)
        |SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM r GROUP BY decile ORDER BY decile""".stripMargin,
    // bucketed mirror holds the same rows as the raw table, so the
    // oracle reads the raw parquet; ties broken by orderkey
    "bucketed_join_revenue" ->
      """SELECT l_orderkey, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |    (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin,
    // per-element EWMA recursion, step by step: row for step k carries
    // the state AFTER k points; z/anomaly are computed from the state
    // after k-1 (z before update, warm-up guard n >= 10). Literals are
    // CAST to DOUBLE (DuckDB decimal literals would perturb the
    // arithmetic) and (1.0 - 0.1) mirrors Scala's (1.0 - alpha) —
    // NOT a 0.9 literal, which is a different double
    "ewma_anomalies" ->
      """WITH RECURSIVE obs AS (
        |  SELECT event_type AS element, epoch_ns(ts) // 1000 AS tus,
        |         CAST(value AS DOUBLE) AS x,
        |         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS step
        |  FROM events
        |  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
        |rec AS (
        |  SELECT element, step, tus, x,
        |         x AS mean, CAST(0.0 AS DOUBLE) AS var, 1 AS n,
        |         CAST(0.0 AS DOUBLE) AS z, FALSE AS anom
        |  FROM obs WHERE step = 1
        |  UNION ALL
        |  SELECT o.element, o.step, o.tus, o.x,
        |         r.mean + CAST(0.1 AS DOUBLE) * (o.x - r.mean),
        |         (CAST(1.0 AS DOUBLE) - CAST(0.1 AS DOUBLE)) *
        |           (r.var + CAST(0.1 AS DOUBLE) * (o.x - r.mean) * (o.x - r.mean)),
        |         r.n + 1,
        |         CASE WHEN r.n < 2 OR sqrt(r.var) < CAST(1e-12 AS DOUBLE)
        |              THEN CAST(0.0 AS DOUBLE)
        |              ELSE (o.x - r.mean) / sqrt(r.var) END,
        |         r.n >= 10 AND
        |           abs(CASE WHEN r.n < 2 OR sqrt(r.var) < CAST(1e-12 AS DOUBLE)
        |                    THEN CAST(0.0 AS DOUBLE)
        |                    ELSE (o.x - r.mean) / sqrt(r.var) END) > CAST(3.0 AS DOUBLE)
        |  FROM rec r JOIN obs o ON o.element = r.element AND o.step = r.step + 1)
        |SELECT element, tus, x AS value, round(mean, 6) AS ewma,
        |       round(z, 6) AS zscore, anom AS is_anomaly
        |FROM rec ORDER BY element, tus""".stripMargin,
    // the CTE mirrors cusumShifts' exact arithmetic: decimal daily
    // sums, one division per mean, quantized-square variance, and the
    // literal recursion order sp + (z − 0.5) — see the scaladoc
    // reference-half decile edges, add-one-smoothed shares, 12dp-rounded
    // DECIMAL-summed PSI terms — order-free and ulp-identical
    // chi-square homogeneity across span halves; contributions mirror the
    // Spark arithmetic term-for-term ((o−e)², e = rowtot·coltot/N, ref
    // cell then cur cell), 12dp-quantized before the DECIMAL total;
    // verdict compares 6dp-rounded stat vs 6dp-rounded Wilson–Hilferty cube
    // tie-corrected MWU: average ranks from cumulative counts (2R1 and
    // the tie spectrum are exact DECIMAL sums), one shared IEEE sequence
    // for sigma and z, NULL z on a fully tied corpus
    "rank_drift" ->
      """WITH base AS (
        |  SELECT event_type AS element, CAST(ts AS DATE) AS day, value
        |  FROM events
        |  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
        |piv AS (SELECT min(day) + CAST((max(day) - min(day)) // 2 AS INT) AS mid
        |  FROM base),
        |pts AS (
        |  SELECT element, value,
        |    CAST(count(*) FILTER (WHERE day < mid) AS BIGINT) AS c1,
        |    CAST(count(*) FILTER (WHERE day >= mid) AS BIGINT) AS c2
        |  FROM base CROSS JOIN piv GROUP BY element, value),
        |cum AS (
        |  SELECT element, c1, c2, c1 + c2 AS t,
        |    sum(c1 + c2) OVER (PARTITION BY element ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (c1 + c2) AS cbelow
        |  FROM pts),
        |terms AS (
        |  SELECT element, c1, c2,
        |    CAST(c1 AS DECIMAL(19,0)) * CAST(2 * cbelow + t + 1 AS DECIMAL(19,0)) AS r1_term,
        |    CAST(t AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0))
        |      - CAST(t AS DECIMAL(19,0)) AS tie_term
        |  FROM cum),
        |agg AS (
        |  SELECT element, CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
        |    sum(r1_term) AS r1x2, sum(tie_term) AS ties
        |  FROM terms GROUP BY element
        |  HAVING sum(c1) > 0 AND sum(c2) > 0),
        |zt AS (
        |  SELECT element, n1, n2,
        |    sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0 *
        |      ((CAST(n1 + n2 AS DOUBLE) + 1.0)
        |        - CAST(ties AS DOUBLE)
        |          / (CAST(n1 + n2 AS DOUBLE) * (CAST(n1 + n2 AS DOUBLE) - 1.0)))) AS sigma,
        |    CAST(r1x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(n1 + 1 AS DOUBLE)
        |      - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) AS num
        |  FROM agg)
        |SELECT element, n1 AS n_ref, n2 AS n_cur,
        |  CASE WHEN sigma > 0 THEN round(num / (2.0 * sigma), 6) END AS z,
        |  COALESCE(abs(CASE WHEN sigma > 0 THEN round(num / (2.0 * sigma), 6) END)
        |    > 1.959963984540054, FALSE) AS shifted
        |FROM zt ORDER BY element""".stripMargin,
    // exact KS: duplicates collapse before the cumulative window; every
    // ECDF step is one division of exact counts; D is an order-free max;
    // verdict compares 6dp-rounded sides, c(0.05) a shared literal
    "ks_drift" ->
      """WITH base AS (
        |  SELECT event_type AS element, CAST(ts AS DATE) AS day, value
        |  FROM events
        |  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
        |piv AS (SELECT min(day) + CAST((max(day) - min(day)) // 2 AS INT) AS mid
        |  FROM base),
        |pts AS (
        |  SELECT element, value,
        |    CAST(count(*) FILTER (WHERE day < mid) AS BIGINT) AS c1,
        |    CAST(count(*) FILTER (WHERE day >= mid) AS BIGINT) AS c2
        |  FROM base CROSS JOIN piv GROUP BY element, value),
        |cum AS (
        |  SELECT element,
        |    sum(c1) OVER (PARTITION BY element ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
        |    sum(c2) OVER (PARTITION BY element ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2,
        |    sum(c1) OVER (PARTITION BY element) AS n1,
        |    sum(c2) OVER (PARTITION BY element) AS n2
        |  FROM pts),
        |agg AS (
        |  SELECT element,
        |    max(abs(CAST(cum1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |      - CAST(cum2 AS DOUBLE) / CAST(n2 AS DOUBLE))) AS d_raw,
        |    CAST(max(n1) AS BIGINT) AS n_ref, CAST(max(n2) AS BIGINT) AS n_cur
        |  FROM cum WHERE n1 > 0 AND n2 > 0 GROUP BY element)
        |SELECT element, n_ref, n_cur, round(d_raw, 6) AS d,
        |  round(1.3581015157406195 * sqrt(CAST(n_ref + n_cur AS DOUBLE)
        |    / CAST(n_ref * n_cur AS DOUBLE)), 6) AS critical_05,
        |  round(d_raw, 6) > round(1.3581015157406195 * sqrt(CAST(n_ref + n_cur AS DOUBLE)
        |    / CAST(n_ref * n_cur AS DOUBLE)), 6) AS drifted
        |FROM agg ORDER BY element""".stripMargin,
    "chi2_drift" ->
      """WITH base AS (
        |  SELECT event_type AS element, CAST(ts AS DATE) AS day
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
        |piv AS (SELECT min(day) + CAST((max(day) - min(day)) // 2 AS INT) AS mid
        |  FROM base),
        |counts AS (
        |  SELECT element,
        |    CAST(count(*) FILTER (WHERE day < mid) AS BIGINT) AS n_ref,
        |    CAST(count(*) FILTER (WHERE day >= mid) AS BIGINT) AS n_cur
        |  FROM base CROSS JOIN piv GROUP BY element),
        |tot AS (SELECT element, n_ref, n_cur,
        |    CAST(sum(n_ref) OVER () AS BIGINT) AS tot_ref,
        |    CAST(sum(n_cur) OVER () AS BIGINT) AS tot_cur,
        |    CAST(count(*) OVER () AS BIGINT) AS k
        |  FROM counts),
        |terms AS (
        |  SELECT element, n_ref, n_cur, k,
        |    CAST(round(
        |      (CAST(n_ref AS DOUBLE) - CAST(n_ref + n_cur AS DOUBLE) * CAST(tot_ref AS DOUBLE) / CAST(tot_ref + tot_cur AS DOUBLE))
        |      * (CAST(n_ref AS DOUBLE) - CAST(n_ref + n_cur AS DOUBLE) * CAST(tot_ref AS DOUBLE) / CAST(tot_ref + tot_cur AS DOUBLE))
        |      / (CAST(n_ref + n_cur AS DOUBLE) * CAST(tot_ref AS DOUBLE) / CAST(tot_ref + tot_cur AS DOUBLE))
        |      + (CAST(n_cur AS DOUBLE) - CAST(n_ref + n_cur AS DOUBLE) * CAST(tot_cur AS DOUBLE) / CAST(tot_ref + tot_cur AS DOUBLE))
        |      * (CAST(n_cur AS DOUBLE) - CAST(n_ref + n_cur AS DOUBLE) * CAST(tot_cur AS DOUBLE) / CAST(tot_ref + tot_cur AS DOUBLE))
        |      / (CAST(n_ref + n_cur AS DOUBLE) * CAST(tot_cur AS DOUBLE) / CAST(tot_ref + tot_cur AS DOUBLE)), 12)
        |      AS DECIMAL(18,12)) AS contrib_q
        |  FROM tot WHERE tot_ref > 0 AND tot_cur > 0),
        |scored AS (
        |  SELECT element, n_ref, n_cur, contrib_q, k,
        |    round(CAST(sum(contrib_q) OVER () AS DOUBLE), 6) AS chi2,
        |    1.0 - 2.0 / (9.0 * CAST(k - 1 AS DOUBLE))
        |      + 1.6448536269514722 * sqrt(2.0 / (9.0 * CAST(k - 1 AS DOUBLE))) AS wh
        |  FROM terms)
        |SELECT element, n_ref, n_cur,
        |  round(CAST(contrib_q AS DOUBLE), 6) AS contrib, chi2,
        |  k - 1 AS df,
        |  round(CAST(k - 1 AS DOUBLE) * wh * wh * wh, 6) AS critical_05,
        |  chi2 > round(CAST(k - 1 AS DOUBLE) * wh * wh * wh, 6) AS drifted
        |FROM scored ORDER BY element""".stripMargin,
    "value_psi" ->
      """WITH base AS (
        |  SELECT event_type AS element, CAST(ts AS DATE) AS day, value
        |  FROM events
        |  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
        |piv AS (SELECT min(day) + CAST((max(day) - min(day)) // 2 AS INT) AS mid FROM base),
        |halves AS (
        |  SELECT element, value,
        |    CASE WHEN day < mid THEN 'ref' ELSE 'cur' END AS half
        |  FROM base CROSS JOIN piv),
        |edges AS (
        |  SELECT element, list_transform(
        |    quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
        |    e -> round(e, 6)) AS eg
        |  FROM halves WHERE half = 'ref' GROUP BY element),
        |binned AS (
        |  SELECT element, half, bin, CAST(count(*) AS BIGINT) AS n FROM (
        |    SELECT h.element, h.half, len(list_filter(e.eg, b -> h.value > b)) AS bin
        |    FROM halves h JOIN edges e USING (element)) t
        |  GROUP BY element, half, bin),
        |tot AS (SELECT element, half, CAST(sum(n) AS BIGINT) AS n_half
        |  FROM binned GROUP BY 1, 2),
        |ab AS (SELECT el.element, t.half, r.range AS bin, t.n_half
        |  FROM (SELECT DISTINCT element FROM binned) el
        |  CROSS JOIN range(10) r JOIN tot t ON t.element = el.element),
        |shares AS (SELECT ab.element, ab.half, ab.bin,
        |    CAST(COALESCE(b.n, 0) + 1 AS DOUBLE) / CAST(ab.n_half + 10 AS DOUBLE) AS p
        |  FROM ab LEFT JOIN binned b
        |    ON b.element = ab.element AND b.half = ab.half AND b.bin = ab.bin),
        |wide AS (SELECT element, bin,
        |    max(CASE WHEN half = 'ref' THEN p END) AS p1,
        |    max(CASE WHEN half = 'cur' THEN p END) AS p2
        |  FROM shares GROUP BY 1, 2),
        |terms AS (SELECT element,
        |    CAST(round((p2 - p1) * ln(p2 / p1), 12) AS DECIMAL(18,12)) AS term
        |  FROM wide)
        |SELECT element, round(CAST(sum(term) AS DOUBLE), 6) AS psi
        |FROM terms GROUP BY element ORDER BY element""".stripMargin,
    "cusum_shifts" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type AS element, CAST(ts AS DATE) AS day,
        |    sum(CAST(value AS DECIMAL(18,4))) AS s, CAST(count(*) AS BIGINT) AS n
        |  FROM events
        |  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY event_type, CAST(ts AS DATE)),
        |obs AS (
        |  SELECT element, day, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m, s, n,
        |    CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS q,
        |    row_number() OVER (PARTITION BY element ORDER BY day) AS idx
        |  FROM daily),
        |tot AS (SELECT element, (CAST(count(*) AS BIGINT) * 2) // 5 AS p
        |  FROM obs GROUP BY element),
        |pref AS (
        |  SELECT o.element,
        |    CAST(sum(o.s) AS DOUBLE) / CAST(sum(o.n) AS DOUBLE) AS mu0,
        |    sqrt(CAST(sum(CAST(o.q AS DECIMAL(19,0)) * CAST(o.q AS DECIMAL(19,0))) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |         - (CAST(sum(CAST(o.q AS DECIMAL(38,0))) AS DOUBLE) / CAST(count(*) AS DOUBLE))
        |           * (CAST(sum(CAST(o.q AS DECIMAL(38,0))) AS DOUBLE) / CAST(count(*) AS DOUBLE)))
        |      / 1000000.0 AS sigma0
        |  FROM obs o JOIN tot t ON o.element = t.element
        |  WHERE o.idx <= t.p GROUP BY o.element),
        |scored AS (
        |  SELECT o.element, o.day, o.m,
        |    CASE WHEN pf.sigma0 < 1e-9 THEN 0.0
        |         ELSE (o.m - pf.mu0) / pf.sigma0 END AS z,
        |    o.idx - t.p AS step
        |  FROM obs o JOIN tot t ON o.element = t.element
        |    JOIN pref pf ON o.element = pf.element
        |  WHERE o.idx > t.p),
        |rec AS (
        |  SELECT element, step, day, m, z,
        |    greatest(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE) + (z - 0.5)) AS sp,
        |    greatest(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE) + (-z - 0.5)) AS sn
        |  FROM scored WHERE step = 1
        |  UNION ALL
        |  SELECT o.element, o.step, o.day, o.m, o.z,
        |    greatest(CAST(0.0 AS DOUBLE), r.sp + (o.z - 0.5)),
        |    greatest(CAST(0.0 AS DOUBLE), r.sn + (-o.z - 0.5))
        |  FROM rec r JOIN scored o ON o.element = r.element AND o.step = r.step + 1)
        |SELECT element, day, round(m, 6) AS daily_mean, round(sp, 6) AS cusum_pos,
        |  round(sn, 6) AS cusum_neg, (sp > 5.0 OR sn > 5.0) AS is_shift
        |FROM rec ORDER BY element, day""".stripMargin,
    // cohort = first-active day; (cohort, offset, user) rows are unique
    // per user, so count(*) = distinct actives; retention divides exact
    // BIGINTs (offset 0 = cohort size by construction)
    "user_retention" ->
      """WITH e AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1),
        |a AS (
        |  SELECT f.cohort_day, datediff('day', f.cohort_day, e.day) AS day_offset,
        |    count(*) AS n_active
        |  FROM e JOIN f USING (user_id) GROUP BY 1, 2)
        |SELECT cohort_day, day_offset, n_active,
        |  CAST(n_active AS DOUBLE) /
        |    CAST(first_value(n_active) OVER (PARTITION BY cohort_day ORDER BY day_offset) AS DOUBLE)
        |    AS retention
        |FROM a ORDER BY cohort_day, day_offset""".stripMargin,
    // ordered funnel: step k completes at the first event of its type AT
    // OR AFTER step k-1's completion (ties on the exact microsecond
    // count); conversion = n_k / n_1, NULL when nobody entered
    "event_funnel" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS tus, event_type
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IN ('view', 'click', 'purchase')),
        |w1 AS (SELECT user_id, tus, event_type,
        |  min(CASE WHEN event_type = 'view' THEN tus END) OVER (PARTITION BY user_id) AS t1 FROM e),
        |w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND tus >= t1 THEN tus END)
        |  OVER (PARTITION BY user_id) AS t2 FROM w1),
        |w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND tus >= t2 THEN tus END)
        |  OVER (PARTITION BY user_id) AS t3 FROM w2),
        |u AS (SELECT DISTINCT user_id, t1, t2, t3 FROM w3),
        |a AS (SELECT
        |  count(CASE WHEN t1 IS NOT NULL THEN 1 END) AS n1,
        |  count(CASE WHEN t2 IS NOT NULL THEN 1 END) AS n2,
        |  count(CASE WHEN t3 IS NOT NULL THEN 1 END) AS n3 FROM u)
        |SELECT 1 AS step, 'view' AS event_type, n1 AS n_users,
        |  CAST(n1 AS DOUBLE) / nullif(n1, 0) AS conversion FROM a
        |UNION ALL SELECT 2, 'click', n2, CAST(n2 AS DOUBLE) / nullif(n1, 0) FROM a
        |UNION ALL SELECT 3, 'purchase', n3, CAST(n3 AS DOUBLE) / nullif(n1, 0) FROM a
        |ORDER BY step""".stripMargin,
    // layout-independent slice semantics: the oracle scans the RAW
    // table — the sorted mirror may only change the I/O, never the rows
    "events_day_slice" ->
      """SELECT event_type, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // layout-independent one-user slice (the z-order mirror may only
    // change the I/O, never the rows)
    "events_user_slice" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events WHERE user_id = 7
        |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    // contribution expansion: each distinct (user, day) is visible from
    // the next 7 window endpoints; partial future windows not reported
    "rolling_active_users" ->
      """WITH e AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |mx AS (SELECT max(day) AS max_day FROM e),
        |c AS (
        |  SELECT user_id, CAST(day + r.range * INTERVAL 1 DAY AS DATE) AS day
        |  FROM e, range(7) r)
        |SELECT c.day, count(DISTINCT c.user_id) AS active_7d
        |FROM c, mx WHERE c.day <= mx.max_day
        |GROUP BY c.day ORDER BY c.day""".stripMargin,
    // the user_sessions gaps-and-islands sessions, filtered to the
    // watermark-CLOSED set: wm = (max event-time ms) - 1 day, a session
    // is released iff end_us <= wm_ms * 1000 (Spark tracks watermarks in
    // milliseconds; boundary + ms-truncation pinned by fixture test)
    "stream_sessions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS tus, value
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |mx AS (SELECT max(tus) AS mus FROM e),
        |o AS (
        |  SELECT user_id, tus, value,
        |    CASE WHEN lag(tus) OVER (PARTITION BY user_id ORDER BY tus) IS NULL
        |           OR tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus) > 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e),
        |s AS (
        |  SELECT user_id, tus, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY tus
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM o)
        |SELECT user_id, min(tus) AS session_start_us,
        |  max(tus) + 1800000000 AS session_end_us,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM s, mx
        |GROUP BY user_id, sid, mus
        |HAVING max(tus) + 1800000000 <= (mus // 1000 - 86400000) * 1000
        |ORDER BY user_id, session_start_us""".stripMargin,
    // every (purchase, same-user click within the preceding hour) pair —
    // the stream-stream join's complete emission set; strict lower bound
    // expressed as `purchase_us - click_us < window`, matching the
    // streaming predicate `c_ts > p_ts - 1h` exactly on integer micros
    "stream_attribution" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS tus
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |p AS (SELECT event_id AS purchase_id, user_id, tus AS purchase_us
        |      FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id, tus AS click_us
        |      FROM e WHERE event_type = 'click')
        |SELECT p.purchase_id, p.user_id, p.purchase_us, c.click_id, c.click_us
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.click_us <= p.purchase_us
        |  AND p.purchase_us - c.click_us < 3600000000
        |ORDER BY purchase_id, click_id""".stripMargin,
    // dedup_fingerprint / doc_fingerprints / simhash_signatures: xxhash64
    // is not reproducible in DuckDB (but the fingerprint KEEP-SET is —
    // see dedup_fingerprint_keepset); minhash_candidates / ann_lsh_topk:
    // LSH bucketing is seed-dependent — intentionally omitted (driver
    // records rows-only checks).
  )
}
