package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Domain-mixture sampling — composing a training set from weighted
  * domains/sources under a token budget (the DoReMi/"data mixture" step of
  * an LLM pipeline). Beyond anything in the reference; first-class here
  * because a 100-TB corpus is always a mixture, never one pot.
  *
  * Three sampling semantics behind one rate derivation:
  *
  *  - [[sampleByRate]] — per-domain Bernoulli keep with a DETERMINISTIC
  *    hash threshold: keep iff `(a·id + b) mod P < rate·P`. One scan, no
  *    shuffle, no sort; hits each domain's token target in expectation.
  *    This is the 100-TB path: the decision is a pure function of the row,
  *    so it scales, replays across engines, and re-running over a grown
  *    corpus keeps previously-kept rows kept (rates aside) — the property
  *    curation pipelines need for incremental rebuilds.
  *  - [[sampleToBudget]] — EXACT per-domain token quota: rows ordered by
  *    the same hash, kept while the exclusive running token sum is under
  *    target. Needs a per-domain sort (one shuffle + window); right when
  *    the budget is a hard contract, e.g. a fixed eval-token draw.
  *  - [[repeatByRate]] — epoch weighting for targets ABOVE one epoch:
  *    floor(r) deterministic copies per row plus a fractional Bernoulli
  *    copy from the same hash; r ≤ 1 reduces bit-exactly to
  *    [[sampleByRate]]. Zero shuffles (map-side explode).
  *
  * Rates/targets derive from `weights` (relative, any positive scale) and
  * measured per-domain token totals, so the caller states intent
  * ("2:1:1 web:code:books, 30B tokens") and the operator does the math.
  */
object Mixture {

  /** Fixed affine-hash parameters (engine-replayable, like MinHash's). */
  val HashP: Long = 2147483647L // 2^31 - 1
  val HashA: Long = 1103515245L % HashP
  val HashB: Long = 12345L

  /** Uniform-ish deterministic hash of a numeric id into [0, P). The id
    * is reduced into [0, P) BEFORE the multiply: A·(P−1) ≈ 2.4e18 fits a
    * long, whereas A·id overflows for id ≥ ~8.4e9 (a real doc count at
    * 100 TB — ANSI mode would throw mid-scan, and DuckDB's BIGINT multiply
    * errors rather than wraps, so the oracle could never replay it).
    * pmod keeps negative ids in [0, P) identically in both engines. */
  def idHash(id: Column): Column =
    pmod(lit(HashA) * pmod(id.cast("long"), lit(HashP)) + lit(HashB), lit(HashP))

  /** Explicit contract shared by every [[idHash]] consumer (here and
    * [[Packing]]): a non-integral id would `cast("long")` to null, turning
    * the sample filter all-null (silently EMPTY mixture) and the packing
    * shard null — no error anywhere downstream. Same guard as
    * [[Sampling.deterministicOrderIndex]]. */
  private[operators] def requireIntegralId(df: DataFrame, idCol: String,
      op: String): Unit = {
    import org.apache.spark.sql.types._
    require(Set[DataType](ByteType, ShortType, IntegerType, LongType)
        .contains(df.schema(idCol).dataType),
      s"$op needs an integral id column for the deterministic hash; " +
        s"'$idCol' is ${df.schema(idCol).dataType.catalogString} — hash it to a long first")
  }

  /** The DuckDB spelling of [[idHash]] — ONE definition shared by every
    * oracle (a drifted hand copy makes that area's oracle fail, the
    * classic cross-engine trap). */
  def idHashSql(idExpr: String): String =
    s"(($HashA * ((($idExpr % $HashP) + $HashP) % $HashP) + $HashB) % $HashP)"

  /** Temperature-adjusted mixture weights: `w_d^(1/T)` (renormalization
    * happens in [[domainTargets]]). T = 1 keeps the stated proportions;
    * T > 1 flattens toward uniform (upsamples small domains — the usual
    * multilingual/low-resource knob); T < 1 sharpens toward the largest
    * domain; T → ∞ is uniform over the domains with positive weight.
    * Zero weights stay zero at every temperature (an excluded domain
    * must never be resurrected by flattening). */
  def temperedWeights(weights: Map[String, Double],
      temperature: Double): Map[String, Double] = {
    require(temperature > 0, s"mixture temperature must be > 0, got $temperature")
    weights.map { case (d, w) =>
      require(w >= 0, s"mixture weight for '$d' must be >= 0, got $w")
      // T = 2 routes through sqrt, which IEEE 754 REQUIRES correctly
      // rounded — pow does not — so the common multilingual setting is
      // bit-replayable by a SQL oracle (`mix_temperature`); other
      // temperatures carry pow's ≤1-ulp engine latitude
      d -> (if (w == 0d) 0d
        else if (temperature == 2d) math.sqrt(w)
        else math.pow(w, 1d / temperature))
    }
  }

  /** Per-domain token targets: `budget · w_d / Σw`. Domains present in
    * `weights` but absent from the data get no entry; data domains missing
    * from `weights` get weight 0 (excluded). An EMPTY weight map is a
    * legitimate empty domain set (e.g. a gate rejected every document) and
    * yields empty targets → an empty sample; only a non-empty map whose
    * weights sum to ≤ 0 is a misconfiguration. */
  def domainTargets(weights: Map[String, Double],
      budgetTokens: Long): Map[String, Double] = {
    if (weights.isEmpty) return Map.empty
    // fold in SORTED-domain order: addition is not associative, and a
    // Map-iteration-order sum of irrational weights (tempered, T≠1)
    // would differ from the oracle's in the last ulp; an ordered fold
    // both sides pins the bits (integer weights sum exactly either way)
    val sumW = weights.toSeq.sortBy(_._1).foldLeft(0d)(_ + _._2)
    require(sumW > 0, "mixture weights must have positive sum")
    weights.map { case (d, w) => d -> budgetTokens * w / sumW }
  }

  /** Measured per-domain token totals (one aggregate scan). */
  def domainTotals(df: DataFrame, domainCol: String,
      tokenCol: String): Map[String, Long] =
    df.groupBy(col(domainCol)).agg(sum(col(tokenCol)).as("__t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Keep rates per domain: `min(1, target_d / total_d)`. */
  def domainRates(df: DataFrame, domainCol: String, tokenCol: String,
      weights: Map[String, Double], budgetTokens: Long): Map[String, Double] =
    domainRatesFromTotals(domainTotals(df, domainCol, tokenCol), weights, budgetTokens)

  /** [[domainRates]] when the caller already measured the totals (e.g. one
    * fused aggregate also derived the weights/budget) — ONE copy of the
    * rate formula either way. */
  def domainRatesFromTotals(totals: Map[String, Long],
      weights: Map[String, Double], budgetTokens: Long): Map[String, Double] = {
    val targets = domainTargets(weights, budgetTokens)
    totals.map { case (d, tot) =>
      d -> math.min(1d, targets.getOrElse(d, 0d) / math.max(1L, tot)) }
  }

  /** UNCAPPED epochs per domain: `target_d / total_d` — a value above 1
    * means the domain's corpus is SMALLER than its weighted share of the
    * budget and must repeat (the quantity [[domainRatesFromTotals]]
    * silently caps at 1). Same operand order as the rate formula so the
    * DuckDB oracle replays it bit-identically. */
  def domainEpochsFromTotals(totals: Map[String, Long],
      weights: Map[String, Double], budgetTokens: Long): Map[String, Double] = {
    val targets = domainTargets(weights, budgetTokens)
    totals.map { case (d, tot) =>
      d -> targets.getOrElse(d, 0d) / math.max(1L, tot) }
  }

  /** Deterministic fractional REPEAT — the epoch-weighting sampler: each
    * row emits `floor(r_d)` copies plus one more iff
    * `idHash(id) < floor(frac(r_d) · P)`, so a domain at r = 2.5 runs 2
    * full epochs and a deterministic half epoch. Expected tokens per
    * domain = r_d · total_d; the integer part is exact, only the
    * fraction is Bernoulli. One scan, zero shuffles (the explode is
    * map-side). For r_d ≤ 1 the kept row set is BIT-IDENTICAL to
    * [[sampleByRate]] (same hash, same threshold) with `copy` = 0 —
    * repeat strictly generalizes the Bernoulli sample.
    *
    * Output adds `copy` (0-based): downstream epoch shuffling
    * ([[Sampling.deterministicOrderIndex]] keyed by (id, copy)) spreads
    * the repeats across the run instead of leaving them adjacent. */
  def repeatByRate(df: DataFrame, idCol: String, domainCol: String,
      rates: Map[String, Double]): DataFrame = {
    requireIntegralId(df, idCol, "repeatByRate")
    require(rates.valuesIterator.forall(_ >= 0), "negative epoch rate")
    require(!df.columns.contains("copy"),
      "repeatByRate emits a `copy` column; rename the existing one")
    val spark = df.sparkSession
    import spark.implicits._
    val rateDf = rates.toSeq.map { case (d, r) =>
      (d, math.floor(r).toLong, math.floor((r - math.floor(r)) * HashP).toLong)
    }.toDF(domainCol, "__full", "__fthresh")
    df.join(broadcast(rateDf), Seq(domainCol), "inner")
      .withColumn("__n", col("__full") +
        (idHash(col(idCol)) < col("__fthresh")).cast("long"))
      .filter(col("__n") >= 1) // sequence(0, -1) would run backwards
      .withColumn("copy", explode(sequence(lit(0L), col("__n") - 1)))
      .drop("__full", "__fthresh", "__n")
  }

  /** One integral key for a [[repeatByRate]] (id, copy) pair, for
    * consumers keyed by a single column (epoch shuffling via
    * [[Sampling.deterministicOrderIndex]] most of all): `id · K + copy`.
    * Loud per-row guards: a copy ≥ K or an id past Long.MaxValue / K
    * would silently collide two different (id, copy) pairs into one
    * shuffle position. */
  def repeatKey(id: Column, copy: Column, maxCopies: Int): Column = {
    require(maxCopies >= 1, s"maxCopies must be >= 1, got $maxCopies")
    val k = maxCopies.toLong
    val idL = id.cast("long")
    when(copy >= k || copy < 0,
      raise_error(concat(lit(s"repeatKey: copy out of [0, $k): "), copy.cast("string"))))
      // explicit range bounds, NOT abs: abs(Long.MinValue) overflows to a
      // negative under non-ANSI semantics, so an id of Long.MinValue would
      // slip past an abs guard and idL * k would wrap silently. The upper
      // bound reserves headroom for the largest copy (k-1): at exactly
      // Long.MaxValue / k, idL·k + copy still wraps once copy exceeds
      // Long.MaxValue % k (ADVICE r5)
      .when(idL > (Long.MaxValue - (k - 1)) / k || idL < Long.MinValue / k,
        raise_error(concat(lit(s"repeatKey: id outside the overflow-safe ±range for k=$k: "), idL.cast("string"))))
      .otherwise(idL * k + copy)
  }

  /** Bernoulli mixture sample: keep iff `idHash(id) < floor(rate_d · P)`.
    * The rate map rides in a broadcast-joined literal table (a `when`
    * chain would re-plan per domain count; a tiny join scales to any
    * domain cardinality). */
  def sampleByRate(df: DataFrame, idCol: String, domainCol: String,
      rates: Map[String, Double]): DataFrame = {
    requireIntegralId(df, idCol, "sampleByRate")
    val spark = df.sparkSession
    import spark.implicits._
    val rateDf = rates.toSeq.map { case (d, r) =>
      (d, math.floor(r * HashP).toLong) }.toDF(domainCol, "__thresh")
    df.join(broadcast(rateDf), Seq(domainCol), "inner")
      .filter(idHash(col(idCol)) < col("__thresh"))
      .drop("__thresh")
  }

  /** Exact token-budget quota: per domain, order rows by (idHash, id) and
    * keep while the EXCLUSIVE running token sum is under the domain
    * target — the first row to cross the boundary is still kept, so every
    * non-empty domain with a positive target yields at least one row and
    * the kept set is a prefix (stable under corpus growth only in hash
    * order, documented).
    *
    * Distributed two-phase quota (the [[Sampling.deterministicOrderIndex]]
    * pattern), NOT a per-domain window: `Window.partitionBy(domain)` puts a
    * domain's ENTIRE row set through one task's sort + running sum — at the
    * 100-TB target a corpus has few domains and huge ones, so the largest
    * domain serializes through a single straggling (or OOMing) reducer.
    * Instead: range-partition by (domain, hash, id) — a big domain SPANS
    * partitions, each bounded by partition size, and the range order means
    * per-domain hash order is the concatenation of its partition slices —
    * then one tiny driver pass (domains × partitions rows) turns
    * per-(partition, domain) token totals into exclusive offsets, and a
    * second map seeds each slice's local running sum at its offset. One
    * full shuffle total, same as the window had, with no single-task
    * domain anywhere. */
  def sampleToBudget(df: DataFrame, idCol: String, domainCol: String,
      tokenCol: String, weights: Map[String, Double],
      budgetTokens: Long): DataFrame = {
    requireIntegralId(df, idCol, "sampleToBudget")
    // same loud-contract style as the id guard: a non-numeric token column
    // would cast to null and sum as 0, silently keeping every row of the
    // domain (the budget never fills) — name the violation instead
    require({
      import org.apache.spark.sql.types._
      Set[DataType](ByteType, ShortType, IntegerType, LongType)
        .contains(df.schema(tokenCol).dataType)
    }, s"sampleToBudget sums token COUNTS; '$tokenCol' is " +
      s"${df.schema(tokenCol).dataType.catalogString} — cast to an integral type first")
    val spark = df.sparkSession
    import spark.implicits._
    val targets = domainTargets(weights, budgetTokens)
    val targetDf = targets.toSeq.toDF(domainCol, "__target")
    val n = spark.sessionState.conf.numShufflePartitions
    // partition index rides as DATA stamped at checkpoint materialization
    // (TaskContext.getPartitionId collapses under a downstream coalesce);
    // the checkpoint pins ONE partitioning that both passes must see
    val keyed = Materialize.eager(df.join(broadcast(targetDf), Seq(domainCol), "inner")
      .withColumn("__h", idHash(col(idCol)))
      .withColumn("__tok", col(tokenCol).cast("long"))
      .repartitionByRange(n, col(domainCol), col("__h"), col(idCol))
      .sortWithinPartitions(col(domainCol), col("__h"), col(idCol))
      .withColumn("__p", spark_partition_id()),
      "Mixture.sampleToBudget.keyed")
    val dI = keyed.schema.fieldIndex(domainCol)
    val tI = keyed.schema.fieldIndex("__tok")
    val gI = keyed.schema.fieldIndex("__target")
    val pI = keyed.schema.fieldIndex("__p")
    // pass 1 — per-(partition, domain) token totals: shuffle-free (each
    // partition streams its own handful of (p, domain, sum) rows). Null
    // tokens count 0 here exactly as in pass 2 — without the coalesce the
    // non-nullable tuple encoder would throw on the first null, where the
    // window implementation's sum() silently skipped it
    val sums = keyed
      .select(col("__p"), col(domainCol), coalesce(col("__tok"), lit(0L)))
      .as[(Int, String, Long)]
      .mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[(Int, String), Long]
        it.foreach { case (p, d, t) => m((p, d)) = m.getOrElse((p, d), 0L) + t }
        m.iterator.map { case ((p, d), t) => (p, d, t) }
      }.collect()
    // driver — exclusive prefix offsets per domain over partitions in
    // range order (partition ids ascend with the range boundaries)
    val offsets: Map[(Int, String), Long] = sums.groupBy(_._2).iterator.flatMap {
      case (d, rows) =>
        val byP = rows.sortBy(_._1)
        byP.map(_._1).zip(byP.map(_._3).scanLeft(0L)(_ + _))
          .map { case (p, off) => (p, d) -> off }
    }.toMap
    val bc = spark.sparkContext.broadcast(offsets)
    // pass 2 — local exclusive running sum seeded at the slice's offset;
    // rows arrive (domain, hash, id)-sorted within each partition, so each
    // (partition, domain) slice is contiguous
    val kept = keyed.rdd.mapPartitions { it =>
      var curP = -1; var curD: String = null; var run = 0L
      it.filter { r =>
        val p = r.getInt(pI); val d = r.getString(dI)
        if (p != curP || d != curD) { curP = p; curD = d; run = bc.value((p, d)) }
        val before = run
        run += (if (r.isNullAt(tI)) 0L else r.getLong(tI)) // sum() skips nulls
        before < r.getDouble(gI)
      }
    }
    spark.createDataFrame(kept, keyed.schema)
      .select(df.columns.map(col): _*)
  }
}
