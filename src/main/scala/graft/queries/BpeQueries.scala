package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextHash
import graft.operators.Bpe

/** BPE tokenizer family ([[graft.operators.Bpe]]) as driver-verifiable
  * queries. The training oracle UNROLLS the merge loop in SQL — each
  * iteration is three generated CTEs (position-weighted pair counts over
  * the current segmentation, the arg-best pair under the engine's exact
  * tie order, the non-overlapping replace-apply) — the same unrolling
  * trick the Lloyd oracle uses for k-means passes. Everything is integer
  * counts and literal string surgery: no FP anywhere, so both engines
  * must agree bit-for-bit.
  *
  * The pair tie order is `ORDER BY count DESC, w1 || chr(1) || w2` —
  * identical to the engine's `(-count, a + PairSep + b)` because the
  * separator byte sorts below every symbol byte on both engines. */
object BpeQueries {

  private val MaxTypes = 100
  private val NumMerges = 8
  private val MinPair = 2

  /** Fixed literal merges for the APPLY-path query, decoupled from
    * training so the two paths pin independently (train → apply
    * composition is BpeSpec's property test). */
  private val ApplyMerges = Seq(("t", "a"), ("ta", "b"), ("l", "e"),
    ("v", "a"), ("va", "l"), ("u", "e"))

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  private def trained(s: SparkSession, dir: String)
      : (Seq[(String, Long)], Seq[(String, String)]) =
    Artifacts.memo(s, Artifacts.key("bpe", dir, "documents")) {
      val freq = Bpe.wordFreq(
        docs(s, dir).filter(col("lang") === "en"), "text", MaxTypes)
      (freq, Bpe.trainMerges(freq, NumMerges, MinPair))
    }

  private def merges(s: SparkSession, dir: String): Seq[(String, String)] =
    trained(s, dir)._2

  private def trainQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    merges(s, dir).zipWithIndex
      .map { case ((a, b), i) => (i + 1, a, b) }
      .toDF("rank", "w1", "w2")
  }

  private def countQ(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      Bpe.bpeTokenCount(col("text"), ApplyMerges).as("n_bpe"))

  /** The induced symbol table ([[Bpe.vocabulary]]) — base characters at
    * ord 0 plus one merged symbol per training rank. */
  private def vocabQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (freq, ms) = trained(s, dir)
    Bpe.vocabulary(freq, ms).toDF("sym", "ord")
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bpe_train_merges" -> (trainQ _),
    "bpe_segment_count" -> (countQ _),
    "bpe_vocab" -> (vocabQ _))

  // ----------------------------------------------------------- oracle SQL

  /** chr() spellings of the sentinels (control bytes cannot ride in the
    * SQL text itself). */
  private val O = "chr(2)"
  private val C = "chr(3)"
  private val P = "chr(1)"

  private def sanitized(src: String) =
    s"replace(replace(replace($src, $P, ''), $O, ''), $C, '')"

  private def tokCol(src: String) =
    s"list_filter(string_split_regex(lower(${sanitized(src)}), '${TextHash.WsRegex}'), x -> x <> '')"

  /** Every char of `t` wrapped as `chr(2) || c || chr(3)`. */
  private def wrapped(t: String) =
    s"regexp_replace($t, '(.)', $O || '\\1' || $C, 'g')"

  /** One literal-merge application (the engine's `replace` spelling). */
  private def applyMerge(seg: String, a: String, b: String) =
    s"replace($seg, $O || '$a' || $C || $O || '$b' || $C, $O || '$a' || '$b' || $C)"

  /** The nested replace chain for a fixed merge list over one token. */
  private def applyChain(t: String, ms: Seq[(String, String)]): String =
    ms.foldLeft(wrapped(t)) { case (e, (a, b)) => applyMerge(e, a, b) }

  /** The unrolled training body: s0 = wrapped word-freq dict, then per
    * iteration (pair counts → best pair → apply), generated like the
    * engine's loop runs. An iteration whose candidate set is empty
    * yields zero rows from its `b` CTE, leaves the segmentation
    * unchanged (LEFT JOIN ON TRUE), and contributes no output row —
    * exactly the engine's early stop. */
  private def trainBody: String = {
    val sb = new StringBuilder
    sb ++=
      s"""tt AS (SELECT ${tokCol("text")} AS tk FROM documents WHERE lang = 'en'),
         |wf AS (SELECT word, count(*)::BIGINT AS cnt
         |       FROM (SELECT unnest(tk) AS word FROM tt)
         |       GROUP BY word ORDER BY cnt DESC, word LIMIT $MaxTypes),
         |s0 AS (SELECT ${wrapped("word")} AS seg, cnt FROM wf)""".stripMargin
    (1 to NumMerges).foreach { k =>
      sb ++= s""",
         |p$k AS (SELECT pr, sum(cnt) AS c FROM (
         |         SELECT unnest(list_transform(generate_series(1, len(sym) - 1),
         |                       i -> sym[i] || $P || sym[i + 1])) AS pr, cnt
         |         FROM (SELECT regexp_extract_all(seg,
         |                        $O || '([^' || $C || ']*)' || $C, 1) AS sym, cnt
         |               FROM s${k - 1}))
         |        GROUP BY pr HAVING sum(cnt) >= $MinPair),
         |b$k AS (SELECT split_part(pr, $P, 1) AS a, split_part(pr, $P, 2) AS b
         |        FROM p$k ORDER BY c DESC, pr LIMIT 1),
         |s$k AS (SELECT CASE WHEN b.a IS NULL THEN s.seg
         |               ELSE replace(s.seg, $O || b.a || $C || $O || b.b || $C,
         |                            $O || b.a || b.b || $C) END AS seg, s.cnt
         |        FROM s${k - 1} s LEFT JOIN b$k b ON true)""".stripMargin
    }
    sb.result()
  }

  def oracle: Map[String, String] = Map(
    "bpe_train_merges" ->
      s"""WITH $trainBody
         |${(1 to NumMerges).map(k =>
             s"SELECT $k AS rank, a AS w1, b AS w2 FROM b$k")
           .mkString("\nUNION ALL\n")}""".stripMargin,
    "bpe_vocab" ->
      s"""WITH $trainBody
         |SELECT sym, ord FROM (
         |  SELECT DISTINCT unnest(string_split(word, '')) AS sym, 0 AS ord
         |  FROM wf
         |  UNION ALL
         |${(1 to NumMerges).map(k =>
             s"  SELECT a || b AS sym, $k AS ord FROM b$k")
           .mkString("\n  UNION ALL\n")})""".stripMargin,
    "bpe_segment_count" ->
      s"""SELECT doc_id,
         |  list_reduce(list_prepend(0::BIGINT,
         |    list_transform(${tokCol("text")},
         |      t -> len(${applyChain("t", ApplyMerges)})
         |           - len(replace(${applyChain("t", ApplyMerges)}, $O, '')))),
         |    (a, b) -> a + b) AS n_bpe
         |FROM documents""".stripMargin)
}
