package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.operators.Dedup

/** [[Bloom]] build/probe and the Bloom-gated decontamination path:
  * no false negatives ever, a measured false-positive rate near the sizing
  * math, empty/degenerate inputs, the loud size bound, and
  * [[Dedup.ngramContaminationBloom]] row-identical to the broadcast plan
  * with the map-side probe placed BELOW the exchange. */
class BloomSpec extends SparkTestBase {

  import spark.implicits._

  test("no false negatives; fp rate near sizing math") {
    val members = (0L until 5000L).map(_ * 7919L)
    val df = members.toDF("k")
    val bloom = Bloom.build(df, col("k"), members.size.toLong,
      8L * members.size)
    // every member must probe true
    val misses = df.filter(!Bloom.mightContain(bloom, col("k"))).count()
    assert(misses === 0, "bloom false negative")
    // non-members: fp rate at 8 bits/item is ~2%; allow generous slack
    val nonMembers = (0L until 20000L).map(i => i * 7919L + 3L).toDF("k")
    val fp = nonMembers.filter(Bloom.mightContain(bloom, col("k"))).count()
    assert(fp.toDouble / 20000 < 0.08, s"fp rate ${fp / 20000.0} too high")
    assert(fp > 0, "0 fp at 8 bits/item over 20k probes is implausible — " +
      "probe may be matching everything or the test keys overlap members")
  }

  test("empty build input matches nothing; bounds are loud") {
    val empty = spark.emptyDataFrame.withColumn("k", lit(1L)).filter(lit(false))
    val bloom = Bloom.build(empty.select("k"), col("k"), 10L, 80L)
    assert(bloom.isEmpty)
    val probe = Seq(1L, 2L).toDF("k")
      .filter(Bloom.mightContain(bloom, col("k"))).count()
    assert(probe === 0)
    val tooBig = intercept[IllegalArgumentException] {
      Bloom.build(Seq(1L).toDF("k"), col("k"), 1L, Bloom.MaxNumBits + 1)
    }
    assert(tooBig.getMessage.contains("numBits"))
  }

  test("bloom-gated contamination == broadcast plan, pairs identical") {
    val dir = "/root/testdata/sf0.001"
    val train = graft.queries.Tables(spark, dir, "documents")
      .select("doc_id", "text")
    val eval = train.filter(col("doc_id") < 15)
      .select((col("doc_id") + 50000000L).as("doc_id"),
        concat(col("text"), lit(" extra token padding")).as("text"))
      .unionByName(train.filter(col("doc_id") >= 15 && col("doc_id") < 20)
        .select((col("doc_id") + 50000000L).as("doc_id"), col("text")))
    val exact = Dedup.ngramContamination(train, eval, "doc_id", "text",
        n = 13)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bloomed = Dedup.ngramContaminationBloom(train, eval, "doc_id",
        "text", n = 13)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(bloomed === exact)
    assert(exact.nonEmpty, "fixture produced no contamination pairs — " +
      "the equivalence test is vacuous")
  }

  test("probe sits below the exchange: map-side filter before shuffle") {
    val train = Seq((1L, "a b c d e f g h i j k l m n o p")).toDF("id", "text")
    val eval = Seq((2L, "a b c d e f g h i j k l m zz yy")).toDF("id", "text")
    val plan = Dedup.ngramContaminationBloom(train, eval, "id", "text",
        n = 13).queryExecution.executedPlan
    assert(plan.toString.contains("might_contain"),
      s"bloom probe missing from plan:\n$plan")
    // structural: the probe must live in the SUBTREE of a shuffle exchange
    // (i.e. evaluate before rows ship), not above all exchanges.
    // collect() does not descend into AdaptiveSparkPlanExec — unwrap it.
    val root = plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val belowShuffle = root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }.exists(_.child.toString.contains("might_contain"))
    assert(belowShuffle,
      s"might_contain not below any Exchange — probe is not map-side:\n$plan")
  }
}
