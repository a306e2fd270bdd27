package graft.operators

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkTestBase

/** ScalaCheck properties for the BM25 stack over generated random corpora
  * (seeded — reproducible), checked against an independent in-memory Okapi
  * reference. Exercises the shapes the oracle corpus cannot: zero-token
  * docs, single-doc corpora, repeated query terms, query terms absent from
  * the corpus, df = N terms, and doc-length extremes — and checks ALL
  * THREE physical paths (single-query column plan, inverted-index batch,
  * stored-index serve) agree with the reference on every corpus. */
class TextRetrievalPropertySpec extends SparkTestBase {

  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  // small shared vocabulary (forces df collisions and ties) + rare tokens;
  // ~10% of docs are empty; lengths 0-25
  private val vocab = Vector("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta", "iota", "kappa")
  private val corpusGen: Gen[Seq[(Long, String)]] = for {
    n <- Gen.choose(1, 60)
    docs <- Gen.sequence[Seq[String], String]((0 until n).map { i =>
      for {
        empty <- Gen.frequency(1 -> true, 9 -> false)
        len <- Gen.choose(1, 25)
        toks <- Gen.listOfN(len,
          Gen.frequency(8 -> Gen.oneOf(vocab), 1 -> Gen.const(s"rare$i")))
      } yield if (empty) "" else toks.mkString(" ")
    })
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  private val queryGen: Gen[Seq[String]] = for {
    nTerms <- Gen.choose(1, 4)
    terms <- Gen.listOfN(nTerms, Gen.frequency(
      6 -> Gen.oneOf(vocab),
      1 -> Gen.const("absentterm"),
      1 -> Gen.oneOf(vocab).map(_.toUpperCase))) // case-folding path
  } yield terms

  /** Independent reference: plain-Scala Okapi BM25, same tokenizer
    * semantics (lowercase, whitespace split, empties dropped). */
  private def reference(corpus: Seq[(Long, String)], query: Seq[String],
      k: Int): Seq[(Long, Double)] = {
    val toks = corpus.map { case (id, t) =>
      id -> t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq }.toMap
    val n = corpus.size
    val avgdl = if (n == 0) 0.0 else toks.values.map(_.size).sum.toDouble / n
    val terms = query.map(_.toLowerCase).distinct
    val dfs = terms.map(t => t -> toks.values.count(_.contains(t))).toMap
    val scored = corpus.flatMap { case (id, _) =>
      val dl = toks(id).size.toDouble
      val s = terms.map { t =>
        val tf = toks(id).count(_ == t).toDouble
        val idf = math.log((n - dfs(t) + 0.5) / (dfs(t) + 0.5) + 1.0)
        idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
      }.sum
      if (s > 0) Some(id -> s) else None
    }
    scored.sortBy { case (id, s) => (-s, id) }.take(k)
  }

  test("bm25 == plain-Scala reference on 30 random corpora (ids, scores, order)") {
    for (seed <- 1 to 30) {
      val corpus = sample(corpusGen, seed)
      val query = sample(queryGen, seed * 7919L)
      val df = corpus.toDF("doc_id", "text")
      val want = reference(corpus, query, k = 8)
      val got = TextRetrieval.bm25(df, "doc_id", "text", query, k = 8)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got.map(_._1) == want.map(_._1),
        s"seed=$seed query=$query ids ${got.map(_._1)} vs ${want.map(_._1)}")
      got.zip(want).foreach { case ((id, s), (_, w)) =>
        assert(math.abs(s - w) < 1e-9, s"seed=$seed doc=$id score $s vs $w")
      }
    }
  }

  test("batch and stored-index paths agree with the reference per query") {
    for (seed <- 31 to 40) {
      val corpus = sample(corpusGen, seed)
      val queries = (0 until 3).map(q =>
        (q.toLong, sample(queryGen, seed * 31L + q).mkString(" ")))
      val df = corpus.toDF("doc_id", "text")
      val qdf = queries.toDF("query_id", "qtext")
      // k unbounded: every matching doc, no rank boundary inside FP noise
      val multi = TextRetrieval.bm25Multi(df, "doc_id", "text",
          qdf, "query_id", "qtext", k = Int.MaxValue)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val dir = java.nio.file.Files.createTempDirectory(s"lexprop$seed").toString
      val (st, pn, ptot) = TextRetrieval.corpusStatsFull(df, "text")
      TextRetrieval.indexSave(dir,
        TextRetrieval.indexBuild(df, "doc_id", "text"), st, pn, ptot)
      val idx = TextRetrieval.indexLoad(spark, dir)
      val viaIdx = TextRetrieval.bm25Indexed(idx, "doc_id",
          qdf, "query_id", "qtext", k = Int.MaxValue)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      for ((qid, qtext) <- queries) {
        val want = reference(corpus, qtext.split(' ').toSeq, k = Int.MaxValue)
        val m = multi.filter(_._1._1 == qid)
        assert(m.size == want.size, s"seed=$seed q=$qid rows ${m.size} vs ${want.size}")
        want.foreach { case (id, w) =>
          assert(math.abs(m((qid, id)) - w) < 1e-9, s"seed=$seed q=$qid doc=$id")
          assert(math.abs(viaIdx((qid, id)) - w) < 1e-9, s"seed=$seed idx q=$qid doc=$id")
        }
      }
    }
  }
}
