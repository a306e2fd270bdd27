package graft.queries

import org.apache.spark.sql.functions._

/** Dev-only calibration probe for the `pipeline_curate_lang` query
  * (r12): prints the avg_logprob distribution of each LID-predicted
  * language slice of documents(doc_id < 150) under ITS OWN
  * slice-trained bigram LM, so the gate threshold can be pinned with
  * measured margins, like the audit gates in LmQueries.
  * sbt "Test/runMain graft.queries.LangRouteProbe /root/testdata/sf0.01"
  */
object LangRouteProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.GraftSession.local()
    import spark.implicits._
    val lid = graft.operators.LangId.train(
      graft.operators.LangIdFixture.Train.toDF("lang", "text"),
      "lang", "text", 5, 20000)
    val m = graft.functions.LidKernel.model(lid)
    val batch = Tables(spark, dir, "documents")
      .filter(col("doc_id") < 150).select("doc_id", "text")
      .withColumn("__p", graft.functions.LidScoreExpr(col("text"), m)
        .getField("lang_pred"))
      .localCheckpoint(true)
    for (lg <- Seq("en", "de")) {
      val slice = batch.filter(col("__p") === lg)
      val lm = graft.operators.LanguageModel.trainBigram(
        slice, "text", vocabCap = 1000, bigramMinCount = 2)
      val scores = graft.operators.LanguageModel
        .scoreDocs(slice, "doc_id", "text", lm)
        .select(col("avg_logprob")).as[Double].collect().sorted
      def q(p: Double) = scores(math.min(scores.length - 1,
        (p * scores.length).toInt))
      println(f"[probe] $lg n=${scores.length} min=${scores.head}%.3f " +
        f"p10=${q(0.1)}%.3f p25=${q(0.25)}%.3f p50=${q(0.5)}%.3f " +
        f"p90=${q(0.9)}%.3f max=${scores.last}%.3f")
    }
    spark.stop()
  }
}
