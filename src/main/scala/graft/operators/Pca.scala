package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Principal-component analysis over an embedding column — the
  * DATA-DEPENDENT sibling of [[Ann.rpEncode]]'s random projection
  * (Johnson–Lindenstrauss preserves distances obliviously; PCA finds the
  * directions the corpus actually varies in, the standard pre-reduction
  * before clustering/SemDeDup and the cheap whitening step for embedding
  * pipelines).
  *
  * Scale shape (the 100-TB contract):
  *  - FIT is ONE corpus scan: each row packs `[1, x_1..x_d, upper-triangle
  *    x_i·x_j]` into a single array, a posexplode + hash agg sums it
  *    element-wise (map-side partial aggregation reduces every partition
  *    to `1 + d + d(d+1)/2` rows before the shuffle — the shuffle carries
  *    O(partitions · d²) skinny rows, independent of corpus size), and
  *    the driver assembles mean + covariance from the bounded fetch and
  *    eigensolves the d×d matrix locally (cyclic Jacobi — d ≤
  *    [[MaxFitDim]] by loud contract, so the driver work is O(d³)
  *    micro-scale).
  *  - TRANSFORM is embarrassingly parallel: a per-row `(x − μ)ᵀ·V_k`
  *    against broadcast literal arrays, O(k·d) flops, no shuffle.
  *
  * Determinism: the distributed covariance sums are float accumulations
  * (partition-order-dependent last ulps), so fitted components are NOT
  * bit-replayable in SQL — PCA queries use the verification-literal
  * oracle class (`text_vocab_approx` / `ann_*` pattern): in-query checks
  * prove orthonormality, eigen-residual, projected-variance == eigenvalue
  * and decorrelation, and the oracle pins the booleans TRUE. The
  * TRANSFORM given a model is a plain ordered fold, and the model
  * round-trips exactly through [[pcaSave]]/[[pcaLoad]] (doubles as
  * `toString`/`toDouble`, lossless for finite values). */
object Pca {

  /** Loud bound on the fit dimensionality: the packed row is
    * O(d²) elements and the driver eigensolve O(d³) — at d = 512 that is
    * a 131k-element pack and a ~134M-flop solve (fine); beyond it, pick a
    * random-projection pre-reduction ([[Ann.rpEncode]]) first. */
  val MaxFitDim = 512

  /** A fitted PCA basis: `mean` (length d), `components` (k rows × d,
    * orthonormal, descending eigenvalue), `eigenvalues` (length k,
    * SAMPLE covariance eigenvalues — divisor n−1), `totalVariance`
    * (trace of the sample covariance — Σ over ALL d eigenvalues, so
    * `eigenvalues.map(_ / totalVariance)` is the explained-variance
    * ratio). Sign canon: each component's largest-|coefficient| entry is
    * non-negative (first such index on ties). */
  final case class PcaModel(
      mean: Array[Double],
      components: Array[Array[Double]],
      eigenvalues: Array[Double],
      totalVariance: Double) {
    def dim: Int = mean.length
    def k: Int = components.length
  }

  /** The SUFFICIENT STATISTIC of a PCA fit: row count, per-dim first
    * moments, and upper-triangle raw second moments, packed as
    * `[n, Σx_1..Σx_d, Σx_i·x_j for i ≤ j]`. Moments are ADDITIVE —
    * `moments(A ∪ B) = moments(A) merge moments(B)` elementwise — which
    * is what makes [[pcaUpdate]] the same maintenance contract as
    * `lmUpdate`/`dsirUpdate`: update == refit at the statistic level
    * (up to float summation order), with the state a fixed
    * `1 + d + d(d+1)/2` doubles regardless of corpus size. */
  final case class PcaMoments(d: Int, sums: Array[Double]) {
    require(sums.length == 1 + d + d * (d + 1) / 2,
      s"moment pack length ${sums.length} != ${1 + d + d * (d + 1) / 2} for d=$d")
    def n: Double = sums(0)
    def merge(other: PcaMoments): PcaMoments = {
      require(other.d == d,
        s"cannot merge PCA moments of dim ${other.d} into dim $d")
      PcaMoments(d, Array.tabulate(sums.length)(i => sums(i) + other.sums(i)))
    }
  }

  /** Accumulate the moment pack over one corpus scan: each task folds
    * its rows into a single `1 + d + d(d+1)/2` double accumulator and a
    * depth-2 `treeAggregate` combines task accumulators executor-side —
    * no per-element row amplification (the posexplode spelling
    * materialized `rows × pack` intermediate rows and measured ~18 s at
    * the 52.5k rehearsal; this kernel sub-second), no shuffle, and the
    * driver receives exactly ONE pack regardless of corpus size or
    * partition count. The imperative fold is the point here — this is
    * the genuine per-partition-accumulator case, the same pattern as
    * the budget pools. */
  def moments(data: DataFrame, featureCol: String): PcaMoments = {
    val dimRow = data.select(size(col(featureCol))).head
    val d = dimRow.getInt(0)
    require(d >= 1 && d <= MaxFitDim,
      s"PCA fit dim $d outside [1, $MaxFitDim] — pre-reduce with " +
        "Ann.rpEncode (JL) before fitting at higher ambient dims")
    val len = 1 + d + d * (d + 1) / 2
    val spark = data.sparkSession
    import spark.implicits._
    val sums = data.select(col(featureCol).cast("array<double>"))
      .as[Array[Double]].rdd
      .treeAggregate(new Array[Double](len))(
        seqOp = (s, x) => {
          require(x.length == d,
            s"ragged $featureCol: row of dim ${x.length}, corpus dim $d")
          s(0) += 1d
          var i = 0
          var p = 1 + d
          while (i < d) {
            val xi = x(i)
            s(1 + i) += xi
            var j = i
            while (j < d) { s(p) += xi * x(j); p += 1; j += 1 }
            i += 1
          }
          s
        },
        combOp = (a, b) => {
          var i = 0
          while (i < len) { a(i) += b(i); i += 1 }
          a
        },
        depth = 2)
    PcaMoments(d, sums)
  }

  /** Eigensolve a moment pack into a model — driver-local, O(d³) under
    * the [[MaxFitDim]] contract. Requires n ≥ 2 and 1 ≤ k ≤ d. */
  def fitFromMoments(mom: PcaMoments, k: Int): PcaModel = {
    val d = mom.d
    require(k >= 1 && k <= d, s"k=$k must be in [1, d=$d]")
    val sums = mom.sums
    val n = sums(0)
    require(n >= 2, s"PCA fit needs at least 2 rows, got ${n.toLong}")
    val mean = Array.tabulate(d)(i => sums(1 + i) / n)
    // sample covariance from raw second moments:
    // cov_ij = (Σ x_i x_j − n·μ_i·μ_j) / (n − 1)
    val cov = Array.ofDim[Double](d, d)
    var p = 1 + d
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = (sums(p) - n * mean(i) * mean(j)) / (n - 1d)
        cov(i)(j) = c; cov(j)(i) = c
        p += 1; j += 1
      }
      i += 1
    }
    val trace = (0 until d).map(i => cov(i)(i)).sum

    val (valsAll, vecsAll) = jacobiEigen(cov)
    // descending eigenvalue, index tie-break, canonical sign
    val order = valsAll.zipWithIndex.sortBy { case (ev, idx) => (-ev, idx) }
    val comps = order.take(k).map { case (_, idx) =>
      val vct = vecsAll.map(_(idx))
      val m = vct.indices.maxBy(ii => (math.abs(vct(ii)), -ii))
      if (vct(m) < 0) vct.map(-_) else vct
    }
    PcaModel(mean, comps.toArray, order.take(k).map(_._1).toArray, trace)
  }

  /** Fit a k-component PCA on `featureCol` (array<float/double>) — one
    * corpus scan, bounded shuffle, driver-local eigensolve (see object
    * scaladoc). Requires n ≥ 2 rows and 1 ≤ k ≤ d ≤ [[MaxFitDim]]. */
  def fit(data: DataFrame, featureCol: String, k: Int): PcaModel =
    fitFromMoments(moments(data, featureCol), k)

  /** Incremental maintenance: fold a new batch into persisted moments —
    * ONE scan of the BATCH only (the old corpus is never re-read), the
    * same fixed-state append contract as `lmUpdate`. The merged
    * statistic equals the full-refit statistic exactly up to float
    * summation order, so `fitFromMoments(pcaUpdate(momA, B), k)` is the
    * refit-on-union model to machine precision. */
  def pcaUpdate(mom: PcaMoments, batch: DataFrame,
      featureCol: String): PcaMoments =
    mom.merge(moments(batch, featureCol))

  /** Cyclic Jacobi eigensolver for a symmetric matrix: returns
    * (eigenvalues, eigenvector matrix with eigenvector i in COLUMN i).
    * Deterministic sweep order; converges quadratically — 30 sweeps is
    * far past machine precision for d ≤ [[MaxFitDim]]. */
  private[operators] def jacobiEigen(
      m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = Array.tabulate(d, d)((i, j) => m(i)(j))
    val vv = Array.tabulate(d, d)((i, j) => if (i == j) 1d else 0d)
    val eps = 1e-14 * math.max(1d,
      (0 until d).map(i => math.abs(a(i)(i))).sum)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 30 && off > eps) {
      off = 0d
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          off = math.max(off, math.abs(apq))
          if (math.abs(apq) > eps * 1e-3) {
            // classic 2×2 rotation (Golub & Van Loan §8.4)
            val theta = (a(q)(q) - a(p)(p)) / (2d * apq)
            val t =
              (if (theta >= 0) 1d else -1d) /
                (math.abs(theta) + math.sqrt(theta * theta + 1d))
            val c = 1d / math.sqrt(t * t + 1d)
            val s = t * c
            var ii = 0
            while (ii < d) {
              val aip = a(ii)(p); val aiq = a(ii)(q)
              a(ii)(p) = c * aip - s * aiq
              a(ii)(q) = s * aip + c * aiq
              ii += 1
            }
            var jj = 0
            while (jj < d) {
              val apj = a(p)(jj); val aqj = a(q)(jj)
              a(p)(jj) = c * apj - s * aqj
              a(q)(jj) = s * apj + c * aqj
              val vip = vv(jj)(p); val viq = vv(jj)(q)
              vv(jj)(p) = c * vip - s * viq
              vv(jj)(q) = s * vip + c * viq
              jj += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), vv)
  }

  /** Column name for the projected vector ([[pcaEncode]] output). */
  val PcaCol = "__pca"

  /** Project `vec` onto the fitted basis: output j is the ascending-i
    * ordered fold `Σ_i (x_i − μ_i)·V[j][i]` — the same fold
    * [[projectLocal]] and any replay spell. */
  def project(vec: Column, model: PcaModel): Column = {
    val mu = typedLit(model.mean.toSeq)
    val comps = typedLit(model.components.map(_.toSeq).toSeq)
    transform(sequence(lit(1), lit(model.k)), j =>
      aggregate(sequence(lit(1), lit(model.dim)),
        lit(0d), (acc, i) =>
          acc + (element_at(vec, i).cast("double") -
            element_at(mu, i)) * element_at(element_at(comps, j), i)))
  }

  /** Driver-side twin of [[project]] (same fold order). */
  def projectLocal(vec: Seq[Float], model: PcaModel): Array[Double] =
    Array.tabulate(model.k) { j =>
      var acc = 0d
      var i = 0
      while (i < model.dim) {
        acc += (vec(i).toDouble - model.mean(i)) * model.components(j)(i)
        i += 1
      }
      acc
    }

  /** Materialize projections next to the original vectors (the
    * [[Ann.rpEncode]] analog — at scale, project once at build time and
    * store; queries then scan k doubles per row). */
  def pcaEncode(data: DataFrame, featureCol: String, model: PcaModel): DataFrame =
    data.withColumn(PcaCol, project(col(featureCol), model))

  /** Whitened projection: each PCA coordinate scaled by 1/√eigenvalue,
    * so every output dim has UNIT sample variance (and zero mean) — the
    * standard decorrelate-and-normalize step before cosine/Euclidean
    * similarity on embeddings whose raw axes have wildly different
    * scales. Requires strictly positive eigenvalues for the kept k
    * (a zero eigenvalue means the data has no variance along that
    * component — drop it by fitting a smaller k). */
  def whiten(vec: Column, model: PcaModel): Column = {
    require(model.eigenvalues.forall(_ > 0d),
      "whitening needs strictly positive eigenvalues for all kept " +
        s"components (got ${model.eigenvalues.mkString(",")}) — fit a " +
        "smaller k to drop zero-variance directions")
    val inv = typedLit(model.eigenvalues.map(ev => 1d / math.sqrt(ev)).toSeq)
    zip_with(project(vec, model), inv, (p, w) => p * w)
  }

  /** Column name for the whitened vector ([[pcaWhitenEncode]] output). */
  val WhitenCol = "__pca_w"

  /** Materialize whitened projections ([[whiten]]). */
  def pcaWhitenEncode(data: DataFrame, featureCol: String,
      model: PcaModel): DataFrame =
    data.withColumn(WhitenCol, whiten(col(featureCol), model))

  /** PCA-shortlist kNN over a pre-encoded table, ranked by projected
    * squared L2 through [[Ann.shortlistRerank]]. For an orthonormal basis
    * the projected distance LOWER-BOUNDS the ambient distance, so the
    * shortlist is the same contraction argument as
    * [[Ann.rpSearchEncoded]] with learned, variance-optimal axes. */
  def pcaSearchEncoded(encoded: DataFrame, query: Seq[Float],
      model: PcaModel, cfg: SearchConfig, refine: Int = 10): DataFrame = {
    require(refine >= 1, s"refine=$refine")
    require(!cfg.higherIsBetter,
      "pcaSearchEncoded shortlists by projected L2 distance — configure a " +
        "distance (lower-is-better) score function")
    require(encoded.columns.contains(PcaCol),
      s"pcaSearchEncoded needs the $PcaCol column — encode with pcaEncode first")
    val qp = projectLocal(query, model)
    val dist2 = (1 to model.k).map { j =>
      val diff = element_at(col(PcaCol), j) - lit(qp(j - 1)); diff * diff
    }.reduce(_ + _)
    Ann.shortlistRerank(encoded, dist2, descending = false, query, cfg,
      refine, PcaCol)
  }

  /** Persist a fitted model — and optionally its moment pack, enabling
    * [[pcaUpdate]]-then-resolve maintenance without re-reading the old
    * corpus — as one atomically-swapped sidecar (both are k·d / d²
    * driver artifacts). Layout: a `pca_v2\t<d>\t<k>` header (the one
    * format [[pcaLoad]] reads), then `mean\t...`, `eig\t...`,
    * `tvar\t...`, one `comp\t<j>\t...` line per component, and
    * `mom\t<d>\t...` when moments are supplied; doubles round-trip
    * exactly via `toString`/`toDouble`. */
  def pcaSave(spark: SparkSession, dir: String, model: PcaModel,
      moments: Option[PcaMoments] = None): Unit = {
    moments.foreach(m => require(m.d == model.dim,
      s"moment pack dim ${m.d} != model dim ${model.dim}"))
    val lines = Seq(s"pca_v2\t${model.dim}\t${model.k}") ++
      Seq("mean\t" + model.mean.mkString(",")) ++
      Seq("eig\t" + model.eigenvalues.mkString(",")) ++
      Seq("tvar\t" + model.totalVariance) ++
      model.components.zipWithIndex.map { case (c, j) =>
        s"comp\t$j\t" + c.mkString(",") } ++
      moments.toSeq.map(m => s"mom\t${m.d}\t" + m.sums.mkString(","))
    graft.model.VersionedDir.writeSidecar(spark, dir, "pca_model.tsv", lines)
  }

  private def readModelLines(spark: SparkSession,
      dir: String): (Array[String], Seq[Array[String]]) = {
    val lines = graft.model.VersionedDir.readSidecar(spark, dir, "pca_model.tsv")
    val h = lines.head.split("\t")
    require(h(0) == "pca_v2",
      s"$dir/pca_model.tsv header tag '${h(0)}' is not pca_v2 — an older or " +
        "unknown PCA model format; rebuild it with pcaSave")
    (h, lines.tail.map(_.split("\t")))
  }

  /** Load a persisted model ([[pcaSave]]). */
  def pcaLoad(spark: SparkSession, dir: String): PcaModel = {
    val (h, rows) = readModelLines(spark, dir)
    val kk = h(2).toInt
    val fields = rows.map(p => (p(0), p)).toMap
    val comps = Array.ofDim[Array[Double]](kk)
    rows.foreach { p =>
      if (p(0) == "comp") comps(p(1).toInt) = p(2).split(",").map(_.toDouble)
    }
    PcaModel(
      fields("mean")(1).split(",").map(_.toDouble),
      comps,
      fields("eig")(1).split(",").map(_.toDouble),
      fields("tvar")(1).toDouble)
  }

  /** Load the persisted moment pack — loud when the model was saved
    * without moments (maintenance then needs one full refit via
    * [[moments]] to seed the pack). */
  def pcaLoadMoments(spark: SparkSession, dir: String): PcaMoments = {
    val (_, rows) = readModelLines(spark, dir)
    rows.find(_(0) == "mom") match {
      case Some(p) => PcaMoments(p(1).toInt, p(2).split(",").map(_.toDouble))
      case None => throw new IllegalArgumentException(
        s"pca_model.tsv at $dir carries no moment pack — re-save with " +
          "pcaSave(..., moments = Some(moments(corpus, col))) to enable " +
          "pcaUpdate maintenance")
    }
  }
}
