package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Distributed EXACT order statistics — the scale-safe spelling of a
  * rank cut. `df.orderBy(...).limit(k)` with k ∝ corpus (keep the best
  * 60%!) executes as TakeOrderedAndProject: every partition's top-k
  * converges on ONE task, a single-node materialization of O(corpus)
  * rows at 100 TB (VERDICT r9 #1, the `perplexityKeep` scale-killer).
  * Threshold selection replaces it: find the exact VALUE at rank k with
  * a handful of bounded passes, then cut map-side with a plain `filter`
  * — nothing wider than counts and two quantile probes ever reaches the
  * driver, and peak per-task memory is independent of k.
  *
  * The algorithm is iterative quantile-probe narrowing (the classic
  * distributed selection): per round, one `approxQuantile` pass brackets
  * the target rank with two probe values (Greenwald–Khanna sketches,
  * rank error ≤ relErr·n, O(1/relErr) driver memory), then ONE exact
  * aggregate counts rows above/equal to each probe and the search
  * restricts to whichever side holds rank k — adjusting k by the rows
  * shed. Correctness NEVER depends on the sketch (exact counts decide
  * every branch; a bad probe only slows convergence); each round
  * shrinks the candidate set to ≈ 4·relErr·n + boundary ties, so at
  * relErr 0.01 two rounds take 10¹¹ rows below any `localLimit`, and a
  * value whose tie mass straddles the target rank returns exactly (the
  * equality checks). Below `localLimit` rows the remaining candidates —
  * a bounded driver fetch of ONE double column — sort locally.
  *
  * Ties are fine (the returned value `t` satisfies
  * `count(x above t) < k ≤ count(x above-or-equal t)`); resolve a
  * deterministic boundary inside the tie mass with a secondary key cut
  * (see [[LanguageModel.perplexityKeep]]). NaN/null are the caller's to
  * exclude — both compare false everywhere and would corrupt ranks. */
object Selection {

  /** Candidate-set size under which the remaining column values collect
    * and sort on the driver: 2^18 doubles ≈ 2 MB — a bounded model-sized
    * fetch, not a data fetch. */
  val DefaultLocalLimit: Int = 1 << 18

  /** Quantile-sketch rank error for the narrowing probes. */
  val DefaultRelErr: Double = 0.01

  /** Bound on the boundary tie mass a [[topK]] cut resolves by key: rows
    * sharing the EXACT boundary value are duplicate-content mass in
    * practice; a larger tie set signals a degenerate ordering column and
    * fails loudly rather than degrading to a single-task sort. */
  val DefaultMaxBoundaryTies: Int = 1 << 17

  /** Exact k-th LARGEST value of numeric column `c` (1-based,
    * 1 ≤ k ≤ rows; null rows must be pre-filtered). Pass `knownN` when
    * the caller has already counted the rows — it spares the first
    * round's untargeted probe. */
  def kthLargest(df: DataFrame, c: String, k: Long,
      localLimit: Int = DefaultLocalLimit,
      relErr: Double = DefaultRelErr, knownN: Long = -1L): Double =
    kthOrderStat(df, c, k, largest = true, localLimit, relErr, knownN)

  /** Exact k-th SMALLEST value of numeric column `c`. */
  def kthSmallest(df: DataFrame, c: String, k: Long,
      localLimit: Int = DefaultLocalLimit,
      relErr: Double = DefaultRelErr, knownN: Long = -1L): Double =
    kthOrderStat(df, c, k, largest = false, localLimit, relErr, knownN)

  /** EXACT discrete quantiles of numeric column `c`: for each
    * probability p, the lower order statistic at rank
    * `max(1, ceil(p·n))` — the `quantile_disc` convention, so results
    * replay bit-exactly in SQL. One narrow single-column persist +
    * count serves every probe; each quantile is then a bounded
    * [[kthSmallest]] selection (~2 probe rounds, nothing wider than
    * counts and two quantile probes to the driver) — the scale-safe,
    * EXACT alternative to both `orderBy().limit(k)` rank extraction
    * (single-task merge at 100 TB) and `percentile_approx` (sketch
    * error). Nulls/NaN are excluded — they have no rank. Prefer
    * binary-exact probabilities (k/2^m) when an external system must
    * reproduce the rank: `ceil(p·n)` is then the same integer in every
    * IEEE-double implementation. */
  def quantiles(df: DataFrame, c: String,
      ps: Seq[Double]): Seq[(Double, Double)] = {
    require(ps.nonEmpty, "quantiles: need at least one probability")
    ps.foreach(p =>
      require(p >= 0d && p <= 1d, s"probability $p outside [0, 1]"))
    val defined = df.select(col(c).cast("double").as("__q"))
      .where(col("__q").isNotNull && !isnan(col("__q")))
    Materialize.cachedScoped(defined, "Selection.quantiles") { xs =>
      val n = xs.count()
      require(n >= 1, s"quantiles: no non-null rows in $c")
      ps.map { p =>
        val k = math.max(1L, math.ceil(p * n).toLong)
        p -> kthSmallest(xs, "__q", k, knownN = n)
      }
    }
  }

  /** Keep EXACTLY the top-`keep` rows of `df` under
    * `(orderCol desc, tieCol asc)` — the scale-safe spelling of
    * `df.orderBy(desc(orderCol), asc(tieCol)).limit(keep)` for keeps
    * proportional to the data (a keep-fraction quality cut, a capacity
    * eviction watermark): find the exact boundary value with
    * [[kthLargest]], resolve the boundary tie mass with a bounded
    * `tieCol` cut, and filter map-side. The kept SET is identical to the
    * rank cut by construction; `keep` is a Long — no Int-limit ceiling.
    *
    * `orderCol` must cast to double losslessly for ordering purposes
    * (numerics; micro-precision timestamps keep ≥4× ulp margin through
    * 2100) and contain no nulls/NaN (checked loudly). The narrow
    * (tieCol, orderCol) projection is persisted for the probes and
    * dropped before return — the upstream plan evaluates once here plus
    * once when the returned frame is consumed. */
  def topK(df: DataFrame, orderCol: String, tieCol: String, keep: Long,
      maxBoundaryTies: Int = DefaultMaxBoundaryTies,
      localLimit: Int = DefaultLocalLimit): DataFrame =
    topCore(df, orderCol, tieCol, _ => keep, maxBoundaryTies, localLimit)

  /** [[topK]] with the keep count derived from the row count:
    * `keep = ceil(frac · n)` — one persist+count serves both the sizing
    * and the probes. */
  def topFrac(df: DataFrame, orderCol: String, tieCol: String, frac: Double,
      maxBoundaryTies: Int = DefaultMaxBoundaryTies,
      localLimit: Int = DefaultLocalLimit): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, s"frac must be in (0, 1], got $frac")
    topCore(df, orderCol, tieCol, n => math.ceil(frac * n).toLong,
      maxBoundaryTies, localLimit)
  }

  private def topCore(df: DataFrame, orderCol: String, tieCol: String,
      keepOf: Long => Long, maxBoundaryTies: Int, localLimit: Int): DataFrame = {
    require(!df.columns.exists(c => c == "__ord" || c == "__tiekeep"),
      "topK reserves columns __ord, __tiekeep — rename them first")
    val spark = df.sparkSession
    val ordD = col(orderCol).cast("double")
    val keyed = df.select(col(tieCol), ordD.as("__ord"))
    Materialize.cachedScoped(keyed, "Selection.topCore") { key =>
      val n = key.count()
      val keep = keepOf(n)
      require(keep >= 0, s"negative keep $keep")
      if (keep == 0) df.limit(0)
      else if (n == 0L || keep >= n) df
      else {
        require(key.where(col("__ord").isNull).limit(1).count() == 0L,
          s"topK: null/NaN values in $orderCol corrupt ranks — filter them first")
        val t = kthLargest(key, "__ord", keep, localLimit = localLimit, knownN = n)
        val cGt = key.where(col("__ord") > t).count()
        val r = keep - cGt // ≥ 1 by the kthLargest contract
        val ties = key.where(col("__ord") === t)
        val tieCount = ties.limit(maxBoundaryTies + 1).count()
        if (tieCount == r) df.filter(ordD >= t)
        else {
          require(tieCount <= maxBoundaryTies,
            s"topK: > $maxBoundaryTies rows share the boundary value $t of " +
              s"$orderCol — a degenerate ordering column has no meaningful " +
              "rank cut; dedup first or raise maxBoundaryTies")
          // boundary key cut: the r smallest tieCol values inside the
          // (bounded) tie mass, materialized locally so the returned plan
          // carries only literals and a broadcast-sized local relation
          val tieKeep = ties.orderBy(asc(tieCol)).limit(r.toInt)
            .select(tieCol).collect()
          val tieKeepDf = spark.createDataFrame(
            spark.sparkContext.parallelize(tieKeep.toSeq, 1),
            org.apache.spark.sql.types.StructType(Seq(df.schema(tieCol))))
          // one scan of `df`: the broadcast marker join restricts ONLY the
          // boundary rows (a union of two filters would evaluate the
          // upstream plan twice)
          df.filter(ordD >= t)
            .join(broadcast(tieKeepDf.withColumn("__tiekeep", lit(1))),
              Seq(tieCol), "left")
            .filter(ordD > t || col("__tiekeep").isNotNull)
            .select(df.columns.map(col): _*) // USING-join hoists the key
        }
      }
    }
  }

  /** Keep the top `frac` of rows WITHIN EVERY GROUP under
    * `(orderCol desc, tieCol asc)` — the CCNet shape (keep the best X%
    * per LANGUAGE, not globally). The naive spelling —
    * `row_number() OVER (PARTITION BY group ORDER BY …)` — sorts each
    * group inside ONE task: a 30%-of-corpus language is a single-task
    * sort at 100 TB. Here every group's threshold is found
    * SIMULTANEOUSLY: per round, one grouped `percentile_approx` pass
    * sketches a quantile grid for every unresolved group at once, one
    * exact-count pass brackets each group's rank (exact counts decide
    * every branch — the sketch only steers), and each group's candidate
    * interval shrinks geometrically; groups whose remainder is small
    * resolve from one bounded driver fetch. The kept set is identical
    * to the per-group rank cut by construction (exact thresholds, exact
    * per-group boundary tie cuts by `tieCol`).
    *
    * Loud contracts: ≤ `maxGroups` distinct groups (driver state is
    * per-group), no nulls/NaN in `orderCol`, per-group boundary tie
    * masses ≤ `maxBoundaryTies` (total ≤ `maxTotalTies`). The narrow
    * (group, tieCol, value) projection persists for the probes and
    * drops before return. */
  def topFracByGroup(df: DataFrame, groupCol: String, orderCol: String,
      tieCol: String, frac: Double,
      maxBoundaryTies: Int = DefaultMaxBoundaryTies,
      localTotalLimit: Int = 1 << 20,
      maxGroups: Int = 1 << 16,
      maxTotalTies: Int = 1 << 21): DataFrame = {
    groupCutArtifacts(df, groupCol, orderCol, tieCol, frac,
        maxBoundaryTies, localTotalLimit, maxGroups, maxTotalTies) match {
      case None => df // every group keeps everything
      case Some(cuts) =>
        val ordD = col(orderCol).cast("double")
        joinCutMarkers(df, groupCol, tieCol, cuts, "")
          .filter(cutPredicate(ordD, ""))
          .select(df.columns.map(col): _*)
    }
  }

  /** Label every row with its per-group quality BUCKET — CCNet's
    * head/middle/tail: `fracs` are ascending cumulative keep fractions
    * (e.g. 0.33, 0.67) and `names` has one more entry than `fracs`;
    * a row ranked within the first `ceil(fracs(i)·n_g)` of its group
    * (under orderCol desc, tieCol asc) gets the earliest such bucket.
    * Built on the SAME grouped threshold artifacts as
    * [[topFracByGroup]] — one pass set per boundary, then a purely
    * MAP-SIDE labeler (broadcast thresholds + bounded tie markers);
    * joining kept-id sets instead would shuffle a third of the corpus
    * per boundary. */
  def bucketByGroup(df: DataFrame, groupCol: String, orderCol: String,
      tieCol: String, fracs: Seq[Double], names: Seq[String],
      bucketCol: String = "bucket",
      maxBoundaryTies: Int = DefaultMaxBoundaryTies,
      localTotalLimit: Int = 1 << 20,
      maxGroups: Int = 1 << 16,
      maxTotalTies: Int = 1 << 21): DataFrame = {
    require(fracs.nonEmpty && fracs == fracs.sorted && fracs.forall(f => f > 0 && f < 1),
      s"fracs must be ascending cumulative keep fractions in (0,1): $fracs")
    require(names.size == fracs.size + 1,
      s"need ${fracs.size + 1} bucket names for ${fracs.size} boundaries, got ${names.size}")
    require(!df.columns.contains(bucketCol),
      s"bucket column '$bucketCol' already exists")
    val ordD = col(orderCol).cast("double")
    val cuts = fracs.map(f => groupCutArtifacts(df, groupCol, orderCol,
      tieCol, f, maxBoundaryTies, localTotalLimit, maxGroups, maxTotalTies))
    val joined = cuts.zipWithIndex.foldLeft(df) {
      case (acc, (None, _)) => acc
      case (acc, (Some(c), i)) => joinCutMarkers(acc, groupCol, tieCol, c, s"_$i")
    }
    val bucket = cuts.zipWithIndex.foldRight(lit(names.last): Column) {
      case ((cut, i), acc) =>
        val in = cut match {
          case None => lit(true) // keep-all boundary: every row inside
          case Some(_) => cutPredicate(ordD, s"_$i")
        }
        when(in, lit(names(i))).otherwise(acc)
    }
    joined.select(df.columns.map(col) :+ bucket.as(bucketCol): _*)
  }

  /** The per-group cut artifacts: thresholds, groups whose boundary
    * equality mass exactly fills the rank, and the bounded tie-cut
    * marker rows. `suffix`-renamed on join so several cuts compose. */
  private final case class GroupCuts(thr: DataFrame, fullEq: DataFrame,
    tieKeep: Option[DataFrame])

  private def joinCutMarkers(df: DataFrame, groupCol: String, tieCol: String,
      cuts: GroupCuts, suffix: String): DataFrame = {
    val out = df.join(broadcast(cuts.thr
        .withColumnRenamed("__selg", groupCol)
        .withColumnRenamed("__selthr", s"__selthr$suffix")),
      Seq(groupCol), "left")
    val withTie = cuts.tieKeep match {
      case None => out.withColumn(s"__seltie$suffix", lit(null).cast("int"))
      case Some(tk) => out.join(broadcast(tk
          .withColumnRenamed("__selg", groupCol)
          .withColumn(s"__seltie$suffix", lit(1))),
        Seq(groupCol, tieCol), "left")
    }
    withTie.join(broadcast(cuts.fullEq
        .withColumnRenamed("__selg", groupCol)
        .withColumn(s"__selfull$suffix", lit(1))),
      Seq(groupCol), "left")
  }

  /** Row-in-cut predicate over [[joinCutMarkers]] output: keep-all
    * groups (no threshold row), rows above the threshold, boundary rows
    * of exactly-filled groups, and tie-cut-marked boundary rows. */
  private def cutPredicate(ordD: Column, suffix: String): Column =
    col(s"__selthr$suffix").isNull || ordD > col(s"__selthr$suffix") ||
      (ordD === col(s"__selthr$suffix") &&
        (col(s"__selfull$suffix").isNotNull ||
          col(s"__seltie$suffix").isNotNull))

  /** Core of the grouped selection (see [[topFracByGroup]]): returns
    * None when every group keeps everything. */
  private def groupCutArtifacts(df: DataFrame, groupCol: String,
      orderCol: String, tieCol: String, frac: Double,
      maxBoundaryTies: Int, localTotalLimit: Int, maxGroups: Int,
      maxTotalTies: Int): Option[GroupCuts] = {
    require(frac > 0.0 && frac <= 1.0, s"frac must be in (0, 1], got $frac")
    require(!df.columns.exists(c => c.startsWith("__sel")),
      "grouped selection reserves __sel* columns — rename them first")
    val spark = df.sparkSession
    val ordD = col(orderCol).cast("double")
    val keyed = df.select(col(groupCol).as("__selg"), col(tieCol), ordD.as("__selx"))
    Materialize.cachedScoped(keyed, "Selection.groupCutArtifacts") { key =>
      val gType = df.schema(groupCol).dataType
      def gDf(rows: Seq[Row], extra: Seq[org.apache.spark.sql.types.StructField]) =
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1),
          org.apache.spark.sql.types.StructType(
            org.apache.spark.sql.types.StructField("__selg", gType) +: extra))
      import org.apache.spark.sql.types.{DoubleType, StructField}

      val sizes = key.groupBy("__selg").agg(count(lit(1)).as("n")).collect()
      require(sizes.length <= maxGroups,
        s"${sizes.length} groups exceed maxGroups=$maxGroups — per-group " +
          "driver state must stay bounded; coarsen the grouping")
      require(key.where(col("__selx").isNull).limit(1).count() == 0L,
        s"grouped selection: null/NaN values in $orderCol corrupt ranks — filter them first")

      val keeps = sizes.map(r => (r.get(0), r.getLong(1),
        math.ceil(frac * r.getLong(1)).toLong))
      val thrByG = groupRankValues(key,
        keeps.collect { case (g, n, keep) if keep < n => (g, n, keep) },
        localTotalLimit)
      // exact boundary resolution, every group at once
      val cut = keeps.collect { case (g, n, keep) if keep < n =>
        (g, thrByG(g), keep)
      }
      if (cut.isEmpty) None
      else {
        val thrDf = gDf(cut.map { case (g, t, _) => Row(g, t) },
          Seq(StructField("__selthr", DoubleType, nullable = false)))
        val bCnts = key.join(broadcast(thrDf), Seq("__selg"))
          .groupBy("__selg").agg(
            count(when(col("__selx") > col("__selthr"), 1)).as("cGt"),
            count(when(col("__selx") === col("__selthr"), 1)).as("cEq"))
          .collect().map(r => r.get(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        val needTie = cut.filter { case (g, _, keep) =>
          val (cGt, cEq) = bCnts(g); keep - cGt != cEq
        }
        needTie.foreach { case (g, _, keep) =>
          val (cGt, cEq) = bCnts(g)
          require(cEq <= maxBoundaryTies,
            s"group $g: $cEq rows share the boundary value — a degenerate " +
              "distribution has no meaningful rank cut; dedup first or raise " +
              "maxBoundaryTies")
          require(keep - cGt >= 1 && keep - cGt <= cEq, s"group $g: boundary " +
            s"accounting broken (keep=$keep cGt=$cGt cEq=$cEq); report a bug")
        }
        require(needTie.map(g => bCnts(g._1)._2).sum <= maxTotalTies,
          "total boundary tie mass across groups exceeds maxTotalTies — " +
            "the tie-cut window must stay bounded; dedup or raise the cap")
        // per-group tie cut: rank over the BOUNDED tie rows only (each
        // group's tie mass ≤ maxBoundaryTies, total ≤ maxTotalTies — this
        // window sorts a few thousand rows, never the data)
        val tieKeepDf =
          if (needTie.isEmpty) None
          else {
            val tieG = gDf(needTie.map { case (g, t, _) => Row(g, t) },
              Seq(StructField("__selthr", DoubleType, nullable = false)))
            val rByG = gDf(needTie.map { case (g, _, keep) =>
              Row(g, Long.box(keep - bCnts(g)._1)) },
              Seq(StructField("__selr", org.apache.spark.sql.types.LongType,
                nullable = false)))
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(col("__selg")).orderBy(col(tieCol).asc)
            Some(Materialize.eager(key.join(broadcast(tieG), Seq("__selg"))
              .filter(col("__selx") === col("__selthr"))
              .select(col("__selg"), col(tieCol))
              .withColumn("__selrn", row_number().over(w))
              .join(broadcast(rByG), Seq("__selg"))
              .filter(col("__selrn") <= col("__selr"))
              .select(col("__selg"), col(tieCol)),
              "Selection.groupCutArtifacts.tieKeep"))
          }
        val needTieG = needTie.map(_._1).toSet
        val fullEqDf = gDf(
          cut.collect { case (g, t, _) if !needTieG(g) => Row(g) }, Nil)
        Some(GroupCuts(thrDf, fullEqDf, tieKeepDf))
      }
    }
  }

  /** The grouped rank-value search shared by the row-cut artifacts and
    * [[quantilesByGroup]]: for every `(group, n, keep)` target, the
    * exact value at DESCENDING rank `keep` within the group
    * (`count(x > v) < keep ≤ count(x ≥ v)`), found SIMULTANEOUSLY for
    * all groups — per round one grouped `percentile_approx` pass
    * sketches a probe grid for every unresolved group at once, one
    * exact-count pass brackets each group's rank (exact counts decide
    * every branch; the sketch only steers), and candidate intervals
    * shrink geometrically until the remainder fits one bounded driver
    * fetch. `key` must be the persisted `(__selg, __selx)` projection,
    * null/NaN-free, and every target must satisfy 1 ≤ keep ≤ n. */
  private def groupRankValues(key: DataFrame,
      targets: Seq[(Any, Long, Long)],
      localTotalLimit: Int): Map[Any, Double] = {
    if (targets.isEmpty) return Map.empty
    val spark = key.sparkSession
    val gType = key.schema("__selg").dataType
    def gDf(rows: Seq[Row], extra: Seq[org.apache.spark.sql.types.StructField]) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        org.apache.spark.sql.types.StructType(
          org.apache.spark.sql.types.StructField("__selg", gType) +: extra))
    import org.apache.spark.sql.types.{DoubleType, StructField}

    // per-group search state: rank still sought within the OPEN
    // candidate interval (gt, lt); resolved groups carry a threshold
    final case class St(var kk: Long, var n: Long,
      var gt: Option[Double], var lt: Option[Double],
      var thr: Option[Double])
    val state = scala.collection.mutable.LinkedHashMap[Any, St]()
    targets.foreach { case (g, n, keep) =>
      require(keep >= 1 && keep <= n,
        s"group $g: rank $keep outside [1, $n]")
      state(g) = St(keep, n, None, None, None)
    }

    val grid = (0 to 20).map(_ / 20.0) // 5% steps
    var rounds = 0
    def unresolved = state.filter { case (_, s) => s.thr.isEmpty }
    def remainingTotal = unresolved.valuesIterator.map(_.n).sum
    while (unresolved.nonEmpty && remainingTotal > localTotalLimit) {
      rounds += 1
      require(rounds <= 64, "grouped selection failed to converge in 64 " +
        "rounds — this cannot happen with exact-count branching; report a bug")
      val boundsDf = gDf(
        unresolved.toSeq.map { case (g, s) =>
          Row(g, s.gt.map(Double.box).orNull, s.lt.map(Double.box).orNull) },
        Seq(StructField("__selgt", DoubleType), StructField("__sellt", DoubleType)))
      val cand = key.join(broadcast(boundsDf), Seq("__selg"))
        .filter((col("__selgt").isNull || col("__selx") > col("__selgt")) &&
          (col("__sellt").isNull || col("__selx") < col("__sellt")))
      // pass 1: quantile grid per unresolved group
      val grids = cand.groupBy("__selg")
        .agg(percentile_approx(col("__selx"),
          array(grid.map(lit): _*), lit(10000)).as("qs"))
        .collect().map(r => r.get(0) -> r.getSeq[Double](1)).toMap
      // choose bracketing probes per group: the grid points one step
      // either side of the target ascending-rank position
      val probes = unresolved.toSeq.map { case (g, s) =>
        val qs = grids(g)
        val p = 1.0 - (s.kk.toDouble - 0.5) / s.n
        val idx = math.max(0, math.min(grid.size - 1, (p * 20).round.toInt))
        val lo = qs(math.max(0, idx - 1))
        val hi = qs(math.min(grid.size - 1, idx + 1))
        g -> (math.min(lo, hi), math.max(lo, hi))
      }.toMap
      val probesDf = gDf(
        probes.toSeq.map { case (g, (lo, hi)) => Row(g, lo, hi) },
        Seq(StructField("__selplo", DoubleType, nullable = false),
          StructField("__selphi", DoubleType, nullable = false)))
      // pass 2: exact counts above/equal each probe, every group at once
      val cnts = cand.join(broadcast(probesDf), Seq("__selg"))
        .groupBy("__selg").agg(
          count(when(col("__selx") > col("__selphi"), 1)).as("aHi"),
          count(when(col("__selx") === col("__selphi"), 1)).as("eHi"),
          count(when(col("__selx") > col("__selplo"), 1)).as("aLo"),
          count(when(col("__selx") === col("__selplo"), 1)).as("eLo"),
          count(lit(1)).as("n"))
        .collect().map(r => r.get(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
        .toMap
      unresolved.toSeq.foreach { case (g, s) =>
        val (aHi, eHi, aLo, eLo, n) = cnts(g)
        val (pLo, pHi) = probes(g)
        s.n = n
        if (aHi < s.kk && s.kk <= aHi + eHi) s.thr = Some(pHi)
        else if (aLo < s.kk && s.kk <= aLo + eLo) s.thr = Some(pLo)
        else if (aHi >= s.kk) { s.gt = Some(pHi); s.n = aHi }
        else if (s.kk > aLo + eLo) { s.kk -= aLo + eLo; s.lt = Some(pLo); s.n = n - aLo - eLo }
        else { s.kk -= aHi + eHi; s.gt = Some(pLo); s.lt = Some(pHi); s.n = aLo - aHi - eHi }
      }
    }
    // final: one bounded fetch resolves every remaining group locally
    if (unresolved.nonEmpty) {
      val boundsDf = gDf(
        unresolved.toSeq.map { case (g, s) =>
          Row(g, s.gt.map(Double.box).orNull, s.lt.map(Double.box).orNull) },
        Seq(StructField("__selgt", DoubleType), StructField("__sellt", DoubleType)))
      val rest = key.join(broadcast(boundsDf), Seq("__selg"))
        .filter((col("__selgt").isNull || col("__selx") > col("__selgt")) &&
          (col("__sellt").isNull || col("__selx") < col("__sellt")))
        .select("__selg", "__selx").collect()
      rest.groupBy(_.get(0)).foreach { case (g, rows) =>
        val s = state(g)
        val xs = rows.map(_.getDouble(1))
        java.util.Arrays.sort(xs)
        require(s.kk <= xs.length,
          s"group $g: rank ${s.kk} exceeds ${xs.length} remaining rows")
        s.thr = Some(xs(xs.length - s.kk.toInt))
      }
    }
    state.map { case (g, s) => g -> s.thr.get }.toMap
  }

  /** EXACT discrete quantiles PER GROUP — the per-language corpus
    * profile (`quantile_disc ... GROUP BY lang`), spelled without a
    * per-group single-task sort: for each probability the ascending
    * rank `max(1, ceil(p·n_g))` is the descending rank
    * `n_g − k + 1`, and [[groupRankValues]] finds every group's value
    * simultaneously with bounded probe passes. Returns
    * `(groupCol, p, value)` rows. Loud contracts as
    * [[topFracByGroup]]: ≤ `maxGroups` groups, no null/NaN values.
    * Prefer binary-exact probabilities (see [[quantiles]]). */
  def quantilesByGroup(df: DataFrame, groupCol: String, c: String,
      ps: Seq[Double], localTotalLimit: Int = 1 << 20,
      maxGroups: Int = 1 << 16): DataFrame = {
    require(ps.nonEmpty, "quantilesByGroup: need at least one probability")
    ps.foreach(p =>
      require(p >= 0d && p <= 1d, s"probability $p outside [0, 1]"))
    val spark = df.sparkSession
    val defined = df.select(col(groupCol).as("__selg"),
        col(c).cast("double").as("__selx"))
      .where(col("__selx").isNotNull && !isnan(col("__selx")))
    Materialize.cachedScoped(defined, "Selection.quantilesByGroup") { key =>
      val sizes = key.groupBy("__selg").agg(count(lit(1)).as("n")).collect()
      require(sizes.nonEmpty, s"quantilesByGroup: no non-null rows in $c")
      require(sizes.length <= maxGroups,
        s"${sizes.length} groups exceed maxGroups=$maxGroups — per-group " +
          "driver state must stay bounded; coarsen the grouping")
      val rows = ps.flatMap { p =>
        val targets = sizes.toSeq.map { r =>
          val n = r.getLong(1)
          val k = math.max(1L, math.ceil(p * n).toLong)
          (r.get(0), n, n - k + 1) // ascending rank k = descending n−k+1
        }
        val vals = groupRankValues(key, targets, localTotalLimit)
        targets.map { case (g, _, _) => Row(g, p, vals(g)) }
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        org.apache.spark.sql.types.StructType(Seq(
          df.schema(groupCol).copy(name = groupCol),
          org.apache.spark.sql.types.StructField("p",
            org.apache.spark.sql.types.DoubleType, nullable = false),
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.DoubleType, nullable = false))))
    }
  }

  private def kthOrderStat(df: DataFrame, c: String, k: Long,
      largest: Boolean, localLimit: Int, relErr: Double,
      knownN: Long): Double = {
    require(k >= 1, s"k must be ≥ 1, got $k")
    require(localLimit >= 1 && relErr > 0 && relErr < 0.5,
      s"bad selection params localLimit=$localLimit relErr=$relErr")
    var cur = df.select(col(c).cast("double").as("__x"))
    var kk = k
    var n = knownN // −1 = unknown until the first round's agg counts it
    var rounds = 0
    while (true) {
      rounds += 1
      require(rounds <= 64,
        "selection failed to converge in 64 rounds — this cannot happen " +
          "with exact-count branching; report a bug")
      if (n >= 0 && n <= localLimit) {
        // bounded driver fetch: one double column of ≤ localLimit rows
        val arr = cur.collect().map(_.getDouble(0))
        require(kk <= arr.length,
          s"rank $kk exceeds ${arr.length} remaining rows (k > n, or " +
            "null/NaN rows corrupted counts — pre-filter them)")
        java.util.Arrays.sort(arr)
        return if (largest) arr(arr.length - kk.toInt) else arr(kk.toInt - 1)
      }
      // bracket the target rank with two sketch probes. Ascending-order
      // quantile position of the k-th largest is 1 − (k − 0.5)/n; of the
      // k-th smallest, (k − 0.5)/n. Unknown n (first round) probes the
      // full [0,1] spread minus nothing — the exact counts still branch.
      val q =
        if (n < 0) 0.5
        else if (largest) 1.0 - (kk.toDouble - 0.5) / n
        else (kk.toDouble - 0.5) / n
      val pLo = math.max(0.0, q - 2 * relErr)
      val pHi = math.min(1.0, q + 2 * relErr)
      val probes = cur.stat.approxQuantile("__x", Array(pLo, pHi), relErr)
      // vNear = the probe DEEPER in the search direction (fewest rows
      // "above" it): for largest, the higher value; for smallest, the
      // lower. Target rank k sits at vNear, at vFar, or in one of the
      // three regions they delimit — exact counts decide which.
      val (vNear, vFar) =
        if (largest) (probes(1), probes(0)) else (probes(0), probes(1))
      def above(v: Double) =
        if (largest) col("__x") > v else col("__x") < v
      val row = cur.agg(
        count(when(above(vNear), 1)).as("aNear"),
        count(when(col("__x") === vNear, 1)).as("eNear"),
        count(when(above(vFar), 1)).as("aFar"),
        count(when(col("__x") === vFar, 1)).as("eFar"),
        count(lit(1)).as("n")).head()
      val (aNear, eNear, aFar, eFar) =
        (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
      n = row.getLong(4)
      require(kk <= n,
        s"rank $kk exceeds $n rows (k > n, or null/NaN rows corrupted " +
          "counts — pre-filter them)")
      // exact-value hits: the tie mass of a probe straddles the rank
      if (aNear < kk && kk <= aNear + eNear) return vNear
      if (aFar < kk && kk <= aFar + eFar) return vFar
      if (aNear >= kk) {
        cur = cur.where(above(vNear)); n = aNear
      } else if (aFar + eFar < kk) {
        kk -= aFar + eFar
        cur = cur.where(!above(vFar) && col("__x") =!= vFar)
        n = n - aFar - eFar
      } else {
        // strictly between the probes (both probes' tie masses excluded)
        kk -= aNear + eNear
        cur = cur.where(!above(vNear) && col("__x") =!= vNear &&
          above(vFar))
        n = aFar - aNear - eNear
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
