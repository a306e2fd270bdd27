package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class TextRetrievalSpec extends SparkTestBase {
  import spark.implicits._

  /** Save `docs` as a stored index under `dir` with its full stats. */
  private def saveIndex(dir: String, docs: org.apache.spark.sql.DataFrame): Unit = {
    val (st, pn, ptot) = TextRetrieval.corpusStatsFull(docs, "text")
    TextRetrieval.indexSave(dir,
      TextRetrieval.indexBuild(docs, "doc_id", "text"), st, pn, ptot)
  }

  // Hand-checkable corpus: N=4, dl = 3,3,4,3 → avgdl = 3.25.
  private def corpus = Seq(
    (1L, "spark fast spark"),
    (2L, "slow table scan"),
    (3L, "spark table join table"),
    (4L, "the quick fox")).toDF("doc_id", "text")

  test("bm25: hand-computed Okapi scores, order, and non-match exclusion") {
    val got = TextRetrieval.bm25(corpus, "doc_id", "text",
      Seq("spark", "table"), k = 10).collect()
    // idf(spark) = idf(table) = ln((4-2+0.5)/(2+0.5)+1) = ln 2; k1=1.2 b=0.75
    val ln2 = math.log(2.0)
    def norm(dl: Int) = 1.2 * (0.25 + 0.75 * dl / 3.25)
    val d1 = ln2 * 2 * 2.2 / (2 + norm(3))
    val d2 = ln2 * 1 * 2.2 / (1 + norm(3))
    val d3 = ln2 * 1 * 2.2 / (1 + norm(4)) + ln2 * 2 * 2.2 / (2 + norm(4))
    assert(got.map(_.getLong(0)).toSeq == Seq(3L, 1L, 2L)) // d4 matches nothing
    val want = Seq(d3, d1, d2)
    got.zip(want).foreach { case (r, w) =>
      assert(math.abs(r.getDouble(1) - w) < 1e-12, s"row $r expected $w")
    }
  }

  test("bm25: query terms are lowercased and deduplicated; k truncates") {
    val got = TextRetrieval.bm25(corpus, "doc_id", "text",
      Seq("SPARK", "spark", "Table", "table"), k = 2).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(3L, 1L))
  }

  test("bm25: empty corpus → empty result; bad args rejected loudly") {
    val empty = corpus.limit(0)
    assert(TextRetrieval.bm25(empty, "doc_id", "text", Seq("x"), 5).count() == 0)
    intercept[IllegalArgumentException](
      TextRetrieval.bm25(corpus, "doc_id", "text", Seq("x"), 0))
    intercept[IllegalArgumentException](
      TextRetrieval.bm25(corpus, "doc_id", "text", Nil, 5))
  }

  test("bm25 plan: zero wide shuffles — scan → codegen project → bounded top-k") {
    // a parquet-backed corpus: a literal one folds to LocalTableScan at
    // optimization time and hides the plan under test
    val dir = java.nio.file.Files.createTempDirectory("bm25plan").toString
    corpus.write.mode("overwrite").parquet(dir)
    val plan = TextRetrieval.bm25(spark.read.parquet(dir), "doc_id", "text",
      Seq("spark", "table"), 10).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange"), s"unexpected shuffle in bm25 plan:\n$plan")
    // the tokenizer chain is interpreted (HOF lambdas are outside codegen,
    // no subexpression elimination) — the plan must tokenize each doc ONCE,
    // not once per tf/dl use (the filter-pushdown + CollapseProject trap)
    val tokenizations = "split\\(lower".r.findAllIn(plan).length
    assert(tokenizations == 1,
      s"text tokenized $tokenizations times per row, want 1:\n$plan")
  }

  test("bm25Multi == bm25 on each query of a batch (the two paths must agree)") {
    val queries = Seq((10L, "spark table"), (11L, "scan"), (12L, "fox the"))
      .toDF("query_id", "qtext")
    val multi = TextRetrieval.bm25Multi(corpus, "doc_id", "text",
      queries, "query_id", "qtext", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for ((qid, qtext) <- Seq((10L, "spark table"), (11L, "scan"), (12L, "fox the"))) {
      val single = TextRetrieval.bm25(corpus, "doc_id", "text",
        qtext.split(' ').toSeq, k = 10).collect()
      val m = multi.filter(_._1._1 == qid)
      assert(m.size == single.length, s"query $qid row count")
      single.foreach { r =>
        val got = m((qid, r.getLong(0)))
        assert(math.abs(got - r.getDouble(1)) < 1e-12,
          s"query $qid doc ${r.getLong(0)}: multi $got vs single ${r.getDouble(1)}")
      }
    }
  }

  test("bm25Multi plan: broadcast vocabulary join + WindowGroupLimit top-k") {
    val queries = Seq((10L, "spark table")).toDF("query_id", "qtext")
    val plan = TextRetrieval.bm25Multi(corpus, "doc_id", "text",
      queries, "query_id", "qtext", k = 5).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("bm25Multi: k bounds rows per query, every score positive") {
    val queries = Seq((1L, "spark table scan join fast slow")).toDF("q", "t")
    val got = TextRetrieval.bm25Multi(corpus, "doc_id", "text",
      queries, "q", "t", k = 2).collect()
    assert(got.length == 2)
    assert(got.forall(_.getDouble(2) > 0))
  }

  test("query-vocabulary bound: oversized batches fail loudly on both batch paths") {
    // the batch paths broadcast/collect the query vocabulary — a corpus
    // mis-passed as `queries` must fail naming the fix, not OOM (the
    // MaxCentroids enforced-contract convention, VERDICT r9 #2)
    val queries = Seq((10L, "one two three four five six")).toDF("q", "t")
    val e = intercept[IllegalArgumentException] {
      TextRetrieval.bm25Multi(corpus, "doc_id", "text",
        queries, "q", "t", k = 5, maxQueryTerms = 4)
    }
    assert(e.getMessage.contains("distinct terms") &&
      e.getMessage.contains("split the batch"), e.getMessage)
    val dir = java.nio.file.Files.createTempDirectory("lexcap").toString
    saveIndex(dir, corpus)
    val idx = TextRetrieval.indexLoad(spark, dir)
    val e2 = intercept[IllegalArgumentException] {
      TextRetrieval.bm25Indexed(idx, "doc_id", queries, "q", "t", k = 5,
        maxQueryTerms = 4)
    }
    assert(e2.getMessage.contains("distinct terms"), e2.getMessage)
    // within the bound both paths serve normally
    assert(TextRetrieval.bm25Multi(corpus, "doc_id", "text",
      queries, "q", "t", k = 5, maxQueryTerms = 6).count() >= 0)
    assert(TextRetrieval.bm25Indexed(idx, "doc_id", queries, "q", "t",
      k = 5, maxQueryTerms = 6).count() >= 0)
  }

  test("rankByScore + rrfFuse: hand-computed fusion, missing docs get one term") {
    val a = Seq((1L, 0.9), (2L, 0.8), (3L, 0.7)).toDF("doc_id", "score")
    val b = Seq((2L, 10.0), (3L, 9.0), (4L, 8.0)).toDF("doc_id", "score")
    val fused = TextRetrieval.rrfFuse(
      Seq(TextRetrieval.rankByScore(a, "doc_id"),
        TextRetrieval.rankByScore(b, "doc_id")),
      "doc_id", k = 10).collect()
    val want = Seq(
      2L -> (1.0 / 62 + 1.0 / 61),
      3L -> (1.0 / 63 + 1.0 / 62),
      1L -> 1.0 / 61,
      4L -> 1.0 / 63)
    assert(fused.map(_.getLong(0)).toSeq == want.map(_._1))
    fused.zip(want).foreach { case (r, (_, w)) =>
      assert(math.abs(r.getDouble(1) - w) < 1e-15, s"row $r expected $w")
    }
  }

  test("rankByScore: lower-is-better ordering and deterministic tie-break") {
    val d = Seq((5L, 1.0), (3L, 1.0), (1L, 2.0)).toDF("doc_id", "score")
    val ranks = TextRetrieval.rankByScore(d, "doc_id", higherIsBetter = false)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(ranks == Map(3L -> 1, 5L -> 2, 1L -> 3))
  }

  test("stored index: build→save→load serves exactly bm25Multi's rows, swap serves the newest version") {
    val dir = java.nio.file.Files.createTempDirectory("lexidx").toString
    val cs = TextRetrieval.corpusStats(corpus, "text")
    saveIndex(dir, corpus)
    val idx = TextRetrieval.indexLoad(spark, dir)
    assert(idx.stats == cs)
    // the stored df summary must equal the per-term document frequencies
    val dfs = idx.dfByTerm.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dfs("spark") == 2L && dfs("table") == 2L && dfs("the") == 1L, dfs.toString)
    val queries = Seq((10L, "spark table"), (11L, "scan fox"), (12L, "absentterm"))
      .toDF("query_id", "qtext")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), math.rint(r.getDouble(2) * 1e9))).toSet
    val viaIndex = rows(TextRetrieval.bm25Indexed(idx, "doc_id",
      queries, "query_id", "qtext", k = 10))
    val viaCorpus = rows(TextRetrieval.bm25Multi(corpus, "doc_id", "text",
      queries, "query_id", "qtext", k = 10))
    assert(viaIndex == viaCorpus, s"index path diverged: $viaIndex vs $viaCorpus")
    // versioned swap: a rebuild on a changed corpus replaces postings, df
    // and stats atomically; the reload must see the new version
    val corpus2 = corpus.filter(col("doc_id") =!= 4L)
    saveIndex(dir, corpus2)
    val stats2 = TextRetrieval.indexLoad(spark, dir).stats
    assert(stats2.n == 3L && stats2 != idx.stats)
  }

  test("indexAppend: appended docs serve immediately, stats and df merge exactly") {
    val dir = java.nio.file.Files.createTempDirectory("lexapp").toString
    saveIndex(dir, corpus)
    // includes a ZERO-TOKEN doc: it has no postings but must still count
    // toward N/avgdl (the raw path's corpusStats counts it)
    val extra = Seq((5L, "spark stream"), (6L, "")).toDF("doc_id", "text")
    val returned = TextRetrieval.indexAppend(spark, dir, extra, "doc_id", "text")
    val union = corpus.unionByName(extra)
    val want = TextRetrieval.corpusStats(union, "text")
    assert(returned == want, s"append returned $returned, want $want")
    val idx = TextRetrieval.indexLoad(spark, dir)
    assert(idx.stats == want)
    // df delta log merges on load: "spark" now in d1, d3 and d5
    val dfs = idx.dfByTerm.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dfs("spark") == 3L && dfs("stream") == 1L, dfs.toString)
    val queries = Seq((1L, "spark stream"), (2L, "table fox")).toDF("query_id", "qtext")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), math.rint(r.getDouble(2) * 1e9))).toSet
    assert(rows(TextRetrieval.bm25Indexed(idx, "doc_id", queries, "query_id", "qtext", k = 10)) ==
      rows(TextRetrieval.bm25Multi(union, "doc_id", "text", queries, "query_id", "qtext", k = 10)))
  }

  test("indexCompact: purge through the swap, appended survivors kept, delta log collapsed") {
    val dir = java.nio.file.Files.createTempDirectory("lexcomp").toString
    saveIndex(dir, corpus)
    val extra = Seq((5L, "spark stream")).toDF("doc_id", "text")
    TextRetrieval.indexAppend(spark, dir, extra, "doc_id", "text")
    val union = corpus.unionByName(extra)
    val keep = union.filter(col("doc_id") =!= 1L).select("doc_id")
    val idx2 = TextRetrieval.indexCompact(spark, dir, keep, "doc_id")
    val purged = union.filter(col("doc_id") =!= 1L)
    assert(idx2.stats == TextRetrieval.corpusStats(purged, "text"))
    // purged doc unreachable, appended survivor still served
    val queries = Seq((1L, "spark stream")).toDF("query_id", "qtext")
    val got = TextRetrieval.bm25Indexed(idx2, "doc_id", queries,
      "query_id", "qtext", k = 10).collect().map(_.getLong(1)).toSet
    assert(got == Set(3L, 5L), got.toString) // d1 purged; d3 + appended d5 match "spark"
    // the compacted df reflects the purge: "spark" lost d1, kept d3+d5
    val dfs = idx2.dfByTerm.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dfs("spark") == 2L && dfs("the") == 1L, dfs.toString)
  }

  test("indexRemove == indexCompact with the complement; update = remove+append") {
    val dir = java.nio.file.Files.createTempDirectory("lexrm").toString
    saveIndex(dir, corpus)
    val idx2 = TextRetrieval.indexRemove(spark, dir,
      Seq(1L).toDF("doc_id"), "doc_id")
    val left = corpus.filter(col("doc_id") =!= 1L)
    assert(idx2.stats == TextRetrieval.corpusStats(left, "text"))
    val queries = Seq((1L, "spark stream")).toDF("query_id", "qtext")
    assert(TextRetrieval.bm25Indexed(idx2, "doc_id", queries,
        "query_id", "qtext", k = 10)
      .collect().map(_.getLong(1)).toSet == Set(3L))
    // changed-doc update: remove then append the new text, re-served
    TextRetrieval.indexRemove(spark, dir, Seq(3L).toDF("doc_id"), "doc_id")
    TextRetrieval.indexAppend(spark, dir,
      Seq((3L, "rewritten stream body")).toDF("doc_id", "text"),
      "doc_id", "text")
    val idx3 = TextRetrieval.indexLoad(spark, dir)
    val got = TextRetrieval.bm25Indexed(idx3, "doc_id",
        Seq((1L, "rewritten"), (2L, "spark")).toDF("query_id", "qtext"),
        "query_id", "qtext", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 3L)) && !got.exists(_._1 == 2L), got.toString)
  }

  test("indexRemove incremental path == recompute path (stats, df, scores), zero-token doc included") {
    // r13: past RemoveIncrementalBytes the remove path subtracts the
    // removed docs' contributions from the 5-field sidecar instead of
    // re-aggregating the kept corpus. Force BOTH paths over the same
    // input — including a zero-token doc (no postings; both paths must
    // drop it from postings-derived stats identically) — and pin exact
    // equality of stats, the df summary, and served scores.
    val docs = corpus.unionByName(Seq((9L, "")).toDF("doc_id", "text"))
    val (st, pn, ptot) = TextRetrieval.corpusStatsFull(docs, "text")
    assert(pn == 4L && st.n == 5L, s"pn=$pn n=${st.n}") // 9L has zero tokens
    def build(tag: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"lexrm_$tag").toString
      TextRetrieval.indexSave(dir,
        TextRetrieval.indexBuild(docs, "doc_id", "text"), st, pn, ptot)
      dir
    }
    val dirA = build("recompute")
    val dirB = build("incremental")
    val rm = Seq(1L, 9L).toDF("doc_id") // one real doc + the zero-token doc
    val a = TextRetrieval.indexRemove(spark, dirA, rm, "doc_id",
      incrementalBytes = Long.MaxValue) // force recompute
    val b = TextRetrieval.indexRemove(spark, dirB, rm, "doc_id",
      incrementalBytes = 0L) // force incremental
    assert(a.stats == b.stats, s"stats diverged: ${a.stats} vs ${b.stats}")
    def dfs(i: TextRetrieval.LexIndex) = i.dfByTerm.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dfs(a) == dfs(b), s"df diverged: ${dfs(a)} vs ${dfs(b)}")
    val q = Seq((1L, "spark table the")).toDF("query_id", "qtext")
    def served(i: TextRetrieval.LexIndex) = TextRetrieval
      .bm25Indexed(i, "doc_id", q, "query_id", "qtext", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served(a) == served(b))
    // and a subsequent remove on the incremental dir stays exact (the
    // rewritten 5-field sidecar must carry the post-remove totals)
    val a2 = TextRetrieval.indexRemove(spark, dirA, Seq(2L).toDF("doc_id"),
      "doc_id", incrementalBytes = Long.MaxValue)
    val b2 = TextRetrieval.indexRemove(spark, dirB, Seq(2L).toDF("doc_id"),
      "doc_id", incrementalBytes = 0L)
    assert(a2.stats == b2.stats && dfs(a2) == dfs(b2))
  }

  test("a 3-field stats sidecar (no postings totals) fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("lexold").toString
    saveIndex(dir, corpus)
    val lines = graft.model.VersionedDir.readSidecar(
      spark, dir, TextRetrieval.IndexSidecar)
    graft.model.VersionedDir.writeSidecar(spark, dir, TextRetrieval.IndexSidecar,
      Seq(lines.head, lines(1).split(",").take(3).mkString(",")))
    val e = intercept[IllegalArgumentException](TextRetrieval.indexLoad(spark, dir))
    assert(e.getMessage.contains(s"$dir/${TextRetrieval.IndexSidecar}") &&
      e.getMessage.contains("rebuild"), e.getMessage)
  }

  test("maxDfRatio cap drops hot terms BEFORE their postings are read") {
    val dir = java.nio.file.Files.createTempDirectory("lexidx3").toString
    saveIndex(dir, corpus)
    val idx = TextRetrieval.indexLoad(spark, dir)
    // df: spark=2, table=2, the=1; N=4. ratio 0.4 → cap 1.6: spark and
    // table are cut, "the" survives → the query scores ONLY d4
    val q = Seq((1L, "spark the")).toDF("query_id", "qtext")
    val capped = TextRetrieval.bm25Indexed(idx, "doc_id", q,
      "query_id", "qtext", k = 10, maxDfRatio = 0.4).collect()
    assert(capped.map(_.getLong(1)).toSeq == Seq(4L), capped.mkString(","))
    val onlyThe = TextRetrieval.bm25(corpus, "doc_id", "text", Seq("the"), 10).collect()
    assert(math.abs(capped.head.getDouble(2) - onlyThe.head.getDouble(1)) < 1e-12)
    // every query term over the cap → loud empty, not an error
    val allHot = TextRetrieval.bm25Indexed(idx, "doc_id",
      Seq((1L, "spark table")).toDF("query_id", "qtext"),
      "query_id", "qtext", k = 10, maxDfRatio = 0.4)
    assert(allHot.count() == 0)
    intercept[IllegalArgumentException](TextRetrieval.bm25Indexed(idx,
      "doc_id", q, "query_id", "qtext", k = 10, maxDfRatio = 0.0))
  }

  test("stored index plan: the batch vocabulary is pushed into the postings scan") {
    val dir = java.nio.file.Files.createTempDirectory("lexidx2").toString
    saveIndex(dir, corpus)
    val idx = TextRetrieval.indexLoad(spark, dir)
    val queries = Seq((1L, "spark table")).toDF("query_id", "qtext")
    val plan = TextRetrieval.bm25Indexed(idx, "doc_id",
      queries, "query_id", "qtext", k = 5).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(term"),
      s"term vocabulary not pushed into the postings scan:\n$plan")
    // exactly ONE parquet read — the pruned postings scan. df comes from
    // the driver-resolved summary (a literal relation here), and the
    // corpus (a literal DF in this spec) is never scanned
    val parquetScans = "Scan parquet".r.findAllIn(plan).length
    val prunedScans = "In\\(term".r.findAllIn(plan).length
    assert(parquetScans == 1 && prunedScans == 1,
      s"want exactly 1 pruned postings scan, got $parquetScans/$prunedScans:\n$plan")
  }

  test("snippet: ±window tokens around the FIRST case-folded match, original casing kept") {
    val d = Seq(
      (1L, "one two three Spark five six seven"),
      (2L, "SPARK at the very head"),
      (3L, "tail ends with spark"),
      (4L, "no match at all")).toDF("doc_id", "text")
    val got = d.select(col("doc_id"),
      TextRetrieval.snippet(col("text"), Seq("Spark"), window = 2).as("s"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got(1L).contains("two three Spark five six"))
    assert(got(2L).contains("SPARK at the very head")) // head clamp extends right
    assert(got(3L).contains("ends with spark"))        // tail clamp
    assert(got(4L).isEmpty)
    // window 0 = just the matched token; first match wins on repeats
    val w0 = d.filter(col("doc_id") === 1L).select(
      TextRetrieval.snippet(col("text"), Seq("spark", "two"), window = 0))
      .head.getString(0)
    assert(w0 == "two")
    intercept[IllegalArgumentException](TextRetrieval.snippet(col("text"), Nil))
    intercept[IllegalArgumentException](
      TextRetrieval.snippet(col("text"), Seq("x"), window = -1))
  }

  test("corpusStats: exact integer-sum mean; reuse skips the stats scan's df recompute") {
    val cs = TextRetrieval.corpusStats(corpus, "text")
    assert(cs.n == 4L && math.abs(cs.avgdl - 3.25) < 1e-15)
    // precomputed stats must yield identical scores
    val fresh = TextRetrieval.bm25(corpus, "doc_id", "text", Seq("spark"), 5).collect()
    val reused = TextRetrieval.bm25(corpus, "doc_id", "text", Seq("spark"), 5,
      precomputed = Some(cs)).collect()
    assert(fresh.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      reused.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }
}
