package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextHash
import graft.operators.Spm

/** Unigram-LM (SentencePiece) tokenizer family ([[graft.operators.Spm]])
  * as driver-verifiable queries.
  *
  * The TRAINING oracle replays the whole fit relationally: the capped
  * word dictionary and candidate table are exact integers under total
  * orders; each EM iteration's forward–backward runs as an UNROLLED
  * alpha/beta CTE chain (one `AS MATERIALIZED` CTE per word position —
  * without materialization DuckDB inlines the recursion and the plan
  * goes exponential) in probability space — only +,×,÷, no
  * transcendentals — so cross-engine drift is summation-order ULPs,
  * far inside the 6-decimal rounding (prototype measured 0 mismatches
  * at 1e-12 across all 228 pieces).
  *
  * The APPLY oracle replays per-token Viterbi as a `list_reduce` DP
  * whose accumulator is the best-state list (position = `len(acc)` —
  * DuckDB 1.0 cannot thread list fields through struct accumulators),
  * under a FIXED literal model with DYADIC log-probs, so score sums are
  * bit-exact and the (score desc, −pieces desc, split desc) struct sort
  * is the kernel's exact tie order. */
object SpmQueries {

  private val MaxWords = 60
  private val MaxWordLen = 10
  private val MaxPieceLen = 4
  private val CandCap = 300
  private val EmIters = 2

  /** Fixed dyadic apply model (decoupled from training — the
    * [[BpeQueries]] ApplyMerges discipline; train → apply composition is
    * SpmSpec's property). */
  private val ApplyPieces: Seq[(String, Double)] = Seq(
    "a" -> -3.0, "b" -> -4.0, "c" -> -3.5, "e" -> -3.5, "l" -> -4.0,
    "n" -> -3.0, "s" -> -3.0, "t" -> -3.5, "u" -> -4.0, "v" -> -4.5,
    "ta" -> -2.0, "ble" -> -2.5, "val" -> -2.0, "ue" -> -2.5)
  private val ApplyMaxLen = 3

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  private def model(s: SparkSession, dir: String): Spm.SpmModel =
    Artifacts.memo(s, Artifacts.key("spm", dir, "documents"))(Spm.train(
      docs(s, dir).filter(col("lang") === "en"), "text",
      MaxWords, MaxWordLen, MaxPieceLen, CandCap, EmIters))

  private def trainQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    model(s, dir).pieces.map { case (p, pr) =>
      (p, BigDecimal(pr).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("piece", "prob")
  }

  private def countQ(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      Spm.spmTokenCount(col("text"), ApplyPieces, ApplyMaxLen).as("n_pieces"))

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "spm_train_probs" -> (trainQ _),
    "spm_segment_count" -> (countQ _))

  // ----------------------------------------------------------- oracle SQL

  private def tokCol(src: String) =
    s"list_filter(string_split_regex(lower($src), '${TextHash.WsRegex}'), x -> x <> '')"

  private def alphaChain(it: Int): String = {
    val first = s"af${it}_0 AS MATERIALIZED (" +
      "SELECT word, wlen, 0 AS pos, CAST(1 AS DOUBLE) AS val FROM spw)"
    val rest = (1 to MaxWordLen).map { i =>
      s"""af${it}_$i AS MATERIALIZED (SELECT * FROM af${it}_${i - 1}
         |  UNION ALL
         |  SELECT e.word, a.wlen, $i AS pos, sum(e.prob * a.val) AS val
         |  FROM ed$it e JOIN af${it}_${i - 1} a
         |    ON a.word = e.word AND a.pos = e.j - 1
         |  WHERE e.jend = $i GROUP BY e.word, a.wlen)""".stripMargin
    }
    (first +: rest).mkString(",\n")
  }

  private def betaChain(it: Int): String = {
    val first = s"bt${it}_0 AS MATERIALIZED (" +
      "SELECT word, wlen, wlen + 1 AS pos, CAST(1 AS DOUBLE) AS val FROM spw)"
    val rest = (1 to MaxWordLen).map { k =>
      s"""bt${it}_$k AS MATERIALIZED (SELECT * FROM bt${it}_${k - 1}
         |  UNION ALL
         |  SELECT e.word, b.wlen, e.j AS pos, sum(e.prob * b.val) AS val
         |  FROM ed$it e JOIN bt${it}_${k - 1} b
         |    ON b.word = e.word AND b.pos = e.jend + 1
         |  WHERE e.j = b.wlen + 1 - $k GROUP BY e.word, b.wlen, e.j)""".stripMargin
    }
    (first +: rest).mkString(",\n")
  }

  private def emIter(it: Int): String =
    s"""ed$it AS MATERIALIZED (SELECT o.word, o.cnt, o.wlen, o.j, o.jend, p.prob
       |  FROM spoc o JOIN spp$it p USING (piece)),
       |${alphaChain(it)},
       |${betaChain(it)},
       |z$it AS MATERIALIZED (SELECT word, val AS z FROM af${it}_$MaxWordLen WHERE pos = wlen),
       |ex$it AS MATERIALIZED (SELECT o.piece, sum(o.cnt * a.val * p.prob * b.val / z.z) AS e
       |  FROM spoc o
       |  JOIN spp$it p USING (piece)
       |  JOIN af${it}_$MaxWordLen a ON a.word = o.word AND a.pos = o.j - 1
       |  JOIN bt${it}_$MaxWordLen b ON b.word = o.word AND b.pos = o.jend + 1
       |  JOIN z$it z ON z.word = o.word
       |  GROUP BY o.piece),
       |spp${it + 1} AS MATERIALIZED (
       |  SELECT piece, e / (SELECT sum(e) FROM ex$it) AS prob FROM ex$it)""".stripMargin

  private val trainOracle = {
    val head =
      s"""WITH spwf AS MATERIALIZED (
         |  SELECT word, count(*)::BIGINT AS cnt FROM (
         |    SELECT unnest(${tokCol("text")}) AS word
         |    FROM documents WHERE lang = 'en') GROUP BY word
         |  ORDER BY cnt DESC, word LIMIT $MaxWords),
         |spw AS MATERIALIZED (SELECT word, cnt, len(word) AS wlen
         |  FROM spwf WHERE len(word) <= $MaxWordLen),
         |spo AS MATERIALIZED (SELECT w.word, w.cnt, w.wlen, t.j,
         |         t.j + t.n - 1 AS jend, substring(w.word, t.j, t.n) AS piece
         |  FROM spw w,
         |       (SELECT unnest(generate_series(1, $MaxWordLen)) AS j) tj,
         |       (SELECT unnest(generate_series(1, $MaxPieceLen)) AS n) tn,
         |       LATERAL (SELECT tj.j AS j, tn.n AS n) t
         |  WHERE t.j + t.n - 1 <= w.wlen),
         |spcc AS MATERIALIZED (SELECT piece, sum(cnt)::BIGINT AS pcnt
         |  FROM spo GROUP BY piece),
         |spcap AS MATERIALIZED (SELECT piece, pcnt FROM (
         |    SELECT piece, pcnt, row_number() OVER (ORDER BY pcnt DESC, piece) AS rn
         |    FROM spcc) WHERE rn <= $CandCap OR len(piece) = 1),
         |spoc AS MATERIALIZED (SELECT o.* FROM spo o JOIN spcap c USING (piece)),
         |spp0 AS MATERIALIZED (SELECT piece,
         |  CAST(pcnt AS DOUBLE) / (SELECT sum(pcnt) FROM spcap) AS prob
         |  FROM spcap)""".stripMargin
    val iters = (0 until EmIters).map(emIter).mkString(",\n")
    s"""$head,
       |$iters
       |SELECT piece, round(prob, 6) AS prob FROM spp$EmIters""".stripMargin
  }

  /** The literal model list for the apply-oracle lambdas. */
  private val applyModelSql = ApplyPieces
    .map { case (p, lp) => s"{'p': '$p', 'lp': CAST($lp AS DOUBLE)}" }
    .mkString("[", ", ", "]")

  private val segmentOracle =
    s"""WITH t AS (SELECT doc_id, ${tokCol("text")} AS tks FROM documents)
       |SELECT doc_id,
       |  coalesce(list_sum(list_transform(tks, tok ->
       |    -(list_reduce(
       |        list_prepend([{'s': CAST(0 AS DOUBLE), 'g': 0, 'j': 0}],
       |          list_transform(generate_series(1, len(tok)),
       |            i -> CAST([] AS STRUCT(s DOUBLE, g INTEGER, j INTEGER)[]))),
       |        (acc, e) -> list_append(acc,
       |          list_sort(list_filter(list_transform(
       |              generate_series(greatest(1, len(acc) - $ApplyMaxLen + 1),
       |                              len(acc)),
       |              j -> {'s': acc[j].s + coalesce(
       |                      list_filter($applyModelSql,
       |                        m -> m.p = substring(tok, j, len(acc) - j + 1))[1].lp,
       |                      CASE WHEN len(acc) - j + 1 = 1
       |                           THEN CAST(${Spm.UnkLogProb} AS DOUBLE)
       |                           ELSE CAST(-1e18 AS DOUBLE) END),
       |                    'g': acc[j].g - 1, 'j': j}),
       |            c -> c.s > CAST(-1e17 AS DOUBLE)), 'DESC')[1])
       |      )[-1].g))), 0)::BIGINT AS n_pieces
       |FROM t""".stripMargin

  def oracle: Map[String, String] = Map(
    "spm_train_probs" -> trainOracle,
    "spm_segment_count" -> segmentOracle)
}
