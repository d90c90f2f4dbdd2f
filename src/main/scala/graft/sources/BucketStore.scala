package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Hash-bucketed mirrors of the two FACT tables, co-bucketed on the join
  * key — the storage-layout move that deletes the orders⋈lineitem shuffle
  * entirely.
  *
  * The reference engine joins its stores single-node, where co-location
  * is free; on a cluster the equivalent guarantee must be laid out at
  * INGEST time: `bucketBy(n, orderkey)` + `sortBy(orderkey)` writes each
  * table as n files whose rows are hash-routed by key, and Spark's
  * bucketed-scan rule then reports `HashPartitioning(orderkey, n)` to the
  * planner, so a SortMergeJoin of the two mirrors needs NO Exchange on
  * either side — and any aggregation keyed on (a superset of) the same
  * key reuses the distribution too. At 100 TB this converts the
  * pipeline's biggest repeated cost (re-shuffling the fact tables for
  * every fact-fact query) into a once-per-ingest write; local bucket
  * count is [[Buckets]], a cluster deployment scales it with the data
  * (the plan shape is bucket-count-independent).
  *
  * Each table's mirror is a [[DerivedLayout]] generation keyed on its
  * source file's identity. A bucketed write must go through the session
  * catalog (`saveAsTable` — plain `.parquet()` cannot record bucket
  * metadata), so the build saves a staging EXTERNAL table into the
  * generation's hidden directory and drops the staging entry (the files
  * stay); each session then registers the published generation under a
  * name of its own with `CREATE TABLE … CLUSTERED BY … LOCATION`.
  */
object BucketStore {

  /** Local bucket count: enough to spread local[32] without generating
    * thousands of tiny files at test SFs. */
  val Buckets = 8

  private val JoinKeys = Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey")

  /** Write (or reuse) the co-bucketed orders + lineitem mirrors for one
    * corpus and register them in the session. */
  def ensureBucketed(spark: SparkSession, sfDir: String): Unit =
    JoinKeys.foreach { case (table, _) => registered(spark, sfDir, table) }

  /** The session table over the generation of `table`'s mirror that
    * serves its source as it is now. */
  private def registered(spark: SparkSession, sfDir: String, table: String): String = {
    val key = JoinKeys.toMap.apply(table)
    val gen = DerivedLayout.ensure(spark, DerivedLayout.dir(sfDir, s"${table}_bucketed"),
        s"$sfDir/$table.parquet") { out =>
      val staging = "graft_staging_" + java.util.UUID.randomUUID().toString.replace('-', '_')
      Tables.table(spark, sfDir, table)
        .write.format("parquet")
        .bucketBy(Buckets, key).sortBy(key)
        .option("path", out)
        .saveAsTable(staging)
      spark.sql(s"DROP TABLE $staging")
    }
    val name = s"graft_${table}_" + new java.io.File(gen).getName.replaceAll("[^A-Za-z0-9]", "_")
    if (!spark.catalog.tableExists(name))
      spark.sql(s"CREATE TABLE $name (${spark.read.parquet(gen).schema.toDDL}) USING parquet " +
        s"CLUSTERED BY ($key) SORTED BY ($key) INTO $Buckets BUCKETS LOCATION '$gen'")
    name
  }

  /** The bucketed mirror of one fact table (builds it on first use). */
  def bucketed(spark: SparkSession, sfDir: String, table: String): DataFrame =
    spark.table(registered(spark, sfDir, table))
}
