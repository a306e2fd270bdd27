package graft.queries

import graft.SparkTestBase
import graft.operators.Search

/** `annVerified`'s precondition — (q, vec_id) unique on each side — is
  * checked inside its one aggregate: a repeated key fails the query
  * loudly instead of fanning out the full-outer join. */
class AnnVerifiedSpec extends SparkTestBase {
  import spark.implicits._

  private def side(rows: (Long, Long, Double)*) =
    rows.toDF(Search.QueryIdCol, "vec_id", Search.ScoreCol)

  private val clean = side((1L, 1L, 0.0), (1L, 2L, 0.5), (2L, 2L, 0.0))

  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq

  test("unique sides verify") {
    val r = AnnQueries.annVerified(clean, clean, Some(0.5)).head()
    assert(r.getAs[Long]("n_queries") == 2L && r.getAs[Long]("n_rows") == 3L)
    assert(r.getAs[Boolean]("self_top1_all") && r.getAs[Boolean]("recall_floor_ok"))
  }

  test("a duplicated (q, vec_id) row on either side fails loudly") {
    val dup = side((1L, 1L, 0.0), (1L, 2L, 0.5), (1L, 2L, 0.5), (2L, 2L, 0.0))
    for ((approx, exact) <- Seq((dup, clean), (clean, dup))) {
      val e = intercept[Exception](
        AnnQueries.annVerified(approx, exact, Some(0.5)).collect())
      assert(messages(e).exists(m => m != null && m.contains("(q, vec_id) repeats")),
        messages(e).mkString(" | "))
    }
  }
}
