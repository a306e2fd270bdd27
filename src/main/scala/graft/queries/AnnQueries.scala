package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.VersionedDir
import graft.operators.{Ann, Search, SearchConfig}

/** ANN operators (SURVEY.md §2.4 J2) as driver queries. Every query is
  * DuckDB-oracled through the `text_vocab_approx` pattern (VERDICT r4 #3):
  * the query runs the approximate path AND its exact twin, reduces them to
  * deterministic counts plus in-query verification booleans, and the
  * oracle emits the expected literals — the driver's hash compare then
  * pins the booleans TRUE. Verified per query: `self_top1_all` (every
  * query vector, being a corpus member, must come back as its own top-1
  * at distance 0 — deterministic by construction: its own cluster is the
  * nearest probe cell / its own hash bucket always matches) and
  * `recall_floor_ok` (mean recall@k vs the exact scan over a calibrated
  * floor; RecallProbe measured both bench SFs, floors carry ≥0.15
  * margin). The synthetic embeddings are near-uniform on the sphere, so
  * recall HERE is a corpus property — floors are deliberately loose, and
  * the operator-recall specs on the real 512-dim news fixture (AnnSpec,
  * ≥0.8/0.98) remain the tight evidence. `ann_lsh_multi` carries no
  * recall floor at all (measured ~0.23 on this corpus — banding cannot
  * beat a structure-free corpus; its exact-twin evidence is the self-hit
  * and the news-fixture spec).
  *
  * The IVF index is built ONCE per source dir into a persisted
  * cluster-partitioned layout ([[Ann.ivfSave]]) and every query run probes
  * the STORED index — the reference's own lifecycle (Annoy builds/saves the
  * index out-of-band and queries mmap it, data/newsync.go:169-222); round-1
  * rebuilt KMeans inside the query, which benchmarked the build, not the
  * search. */
object AnnQueries {

  private def cfg = SearchConfig(
    scoreFuncName = "VectorDistance", higherIsBetter = false, limit = 10,
    featureCol = "embedding", keyCols = Seq("vec_id"), tieBreakCol = Some("vec_id"),
    assumeUniqueKeys = true)

  private def queryVec(s: SparkSession, dir: String): Seq[Float] =
    Tables(s, dir, "embeddings").filter(col("vec_id") === 0)
      .select("embedding").head.getSeq[Float](0)

  private val IvfK = 8

  /** A stored IVF index ([[Ann.ivfSave]]) over `dir`'s embeddings, built
    * once per source fingerprint and params ([[Artifacts]]). */
  private def storedIvf(s: SparkSession, dir: String, params: String)(
      build: DataFrame => (DataFrame, Array[Array[Double]]))
      : (DataFrame, Array[Array[Double]]) =
    Artifacts.stored(s, Artifacts.key("ivf", dir, "embeddings", params),
        Ann.IvfSidecar) { d =>
      val (indexed, centroids) = build(Tables(s, dir, "embeddings"))
      Ann.ivfSave(d, indexed, centroids)
    }(Ann.ivfLoad(s, _))

  private def ivfIndex(s: SparkSession, dir: String): (DataFrame, Array[Array[Double]]) =
    storedIvf(s, dir, s"_k$IvfK")(
      Ann.ivfBuild(_, "embedding", k = IvfK, normalize = false))

  /** Auto-sized stored IVF index ([[Ann.ivfBuild]] with k ≤ 0): the cell
    * count comes out of [[Ann.ivfAutoK]], not the caller — the round-11
    * decade's fixed-k finding. `AutoCellRows` = 64 (not the production
    * [[Ann.IvfTargetCellRows]]) so the driver SFs exercise real k
    * variation: 500 embeddings → 8 cells, 2000 → 32. The chosen k is a
    * pure function of the corpus count, so the DuckDB oracle replays it
    * as GREATEST(kMin, CEIL(count/64)). */
  private val AutoCellRows = 64L

  private def ivfAutoIndex(s: SparkSession, dir: String): (DataFrame, Array[Array[Double]]) =
    storedIvf(s, dir, s"_auto$AutoCellRows")(Ann.ivfBuild(_, "embedding",
      k = -1, normalize = false, targetCellRows = AutoCellRows))

  /** Auto-k IVF probe: same single-query shape as [[ivf]], but the index
    * is auto-sized and the query EMITS the chosen cell count for the
    * oracle to replay; nProbe scales with k (half the cells — the same
    * probed-corpus fraction as `ann_ivf_knn`'s k=8/nProbe=4, whose 0.5
    * floor is calibrated across SFs). */
  private def ivfAuto(s: SparkSession, dir: String): DataFrame = {
    val (indexed, centroids) = ivfAutoIndex(s, dir)
    val k = centroids.length
    val qv = queryVec(s, dir)
    annVerified(
      withQ(Ann.ivfSearch(indexed, centroids, qv, cfg,
        nProbe = math.max(1, k / 2)), 0L),
      withQ(Search.search(Tables(s, dir, "embeddings"), qv, cfg), 0L),
      Some(0.5))
      .withColumn("k_cells", lit(k.toLong))
  }

  /** Stored PQ index (same keying discipline as [[ivfIndex]]). */
  private def pqIndex(s: SparkSession, dir: String): (DataFrame, graft.functions.PqCodebook) =
    Artifacts.stored(s, Artifacts.key("pq", dir, "embeddings", "_m8k16"),
        Ann.PqSidecar) { d =>
      val emb = Tables(s, dir, "embeddings")
      val cb = Ann.pqTrain(emb, "embedding", m = 8, ksub = 16)
      Ann.pqSave(d, Ann.pqEncode(emb, "embedding", cb), cb)
    }(Ann.pqLoad(s, _))

  /** Stored SQ8 index (same keying discipline as [[ivfIndex]]): the
    * encode pass is the build step, the query reads codes+scale from the
    * stored table — codes are deterministic integer math, so the stored
    * and freshly-encoded tables are value-identical and the DuckDB oracle
    * (which replays encode from the raw embeddings) still hash-matches. */
  private def sq8Index(s: SparkSession, dir: String): DataFrame =
    Artifacts.encoding(s, Artifacts.key("sq8", dir, "embeddings"))(
      Ann.sq8Encode(Tables(s, dir, "embeddings"), "embedding")
        .write.mode("overwrite").parquet(_))

  /** One-row verification summary of an approximate result vs its exact
    * twin (see the object scaladoc): deterministic counts + booleans the
    * oracle replays as literals. */
  private[queries] def annVerified(approx0: DataFrame, exact0: DataFrame,
      recallFloor: Option[Double], includeRowCount: Boolean = true): DataFrame = {
    // ONE pass over approx ∪ exact (r12, guide §2.4): the first cut ran
    // three aggregations plus two joins over two eagerly-checkpointed
    // inputs (~8 AQE stages per ann_* query); a single full-outer join on
    // (q, vec_id) + one groupBy(q) computes nr / top-1 / hits / ne
    // together, each input is consumed exactly once (no checkpoint jobs),
    // and the tiny join broadcasts. Queries missing from either side are
    // filtered (nr/ne > 0) — the inner-join semantics of the old per⋈ne.
    // Precondition: (q, vec_id) is unique per side — top-k outputs dedup
    // by key, so the join never fans out. Checked in the same aggregate: a
    // repeated key makes a side's row count exceed its distinct ids.
    def unique(side: String) = count(col(side)) ===
      size(collect_set(when(col(side).isNotNull, col("vec_id"))))
    val a = approx0.select(col(Search.QueryIdCol).as("q"), col("vec_id"),
      col(Search.ScoreCol).cast("double").as("s"), lit(1).as("__a"))
    val e = exact0.select(col(Search.QueryIdCol).as("q"), col("vec_id"),
      lit(1).as("__e"))
    val j = a.join(e, Seq("q", "vec_id"), "full_outer")
      .groupBy("q").agg(
        when(unique("__a") && unique("__e"), count(col("__a")))
          .otherwise(raise_error(lit(
            "annVerified: (q, vec_id) repeats on a side; a top-k input must be unique per key")))
          .as("nr"),
        min(when(col("__a").isNotNull, struct(col("s"), col("vec_id"))))
          .as("t1"),
        count(col("__e")).as("ne"),
        count(when(col("__a").isNotNull && col("__e").isNotNull, 1))
          .as("hits"))
      .where(col("nr") > 0 && col("ne") > 0)
      .select(col("q"), col("nr"),
        (col("t1.s") === 0.0 && col("t1.vec_id") === col("q")).as("ok1"),
        (col("hits").cast("double") / col("ne")).as("r"))
    val base = j.agg(
      count(lit(1)).as("n_queries"),
      sum(col("nr")).as("n_rows"),
      (count(when(col("ok1"), 1)) === count(lit(1))).as("self_top1_all"),
      avg(col("r")).as("__mr"))
    val withRecall = recallFloor.fold(base.drop("__mr"))(f =>
      base.withColumn("recall_floor_ok", col("__mr") >= f).drop("__mr"))
    if (includeRowCount) withRecall else withRecall.drop("n_rows")
  }

  private def withQ(df: DataFrame, q: Long): DataFrame =
    df.withColumn(Search.QueryIdCol, lit(q))

  private def batchQueries(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings").filter(col("vec_id") < 100)
      .select(col("vec_id").as(Search.QueryIdCol), col("embedding"))

  private def exactBatch5(s: SparkSession, dir: String): DataFrame =
    Search.multiSearch(Tables(s, dir, "embeddings"), batchQueries(s, dir),
      cfg.copy(limit = 5))

  private def lsh(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val qv = queryVec(s, dir)
    annVerified(withQ(Ann.lshSearch(emb, qv, cfg), 0L),
      withQ(Search.search(emb, qv, cfg), 0L), Some(0.6))
  }

  private def ivf(s: SparkSession, dir: String): DataFrame = {
    val (indexed, centroids) = ivfIndex(s, dir)
    val qv = queryVec(s, dir)
    annVerified(
      withQ(Ann.ivfSearch(indexed, centroids, qv, cfg, nProbe = 4), 0L),
      withQ(Search.search(Tables(s, dir, "embeddings"), qv, cfg), 0L), Some(0.5))
  }

  /** Batch ANN: 100 queries probe the stored index in one plan (broadcast
    * equi-join on cluster), exact re-score, bounded top-k per query. */
  private def ivfMulti(s: SparkSession, dir: String): DataFrame = {
    val (indexed, centroids) = ivfIndex(s, dir)
    annVerified(
      Ann.ivfMultiSearch(indexed, centroids, batchQueries(s, dir),
        cfg.copy(limit = 5), nProbe = 4),
      exactBatch5(s, dir), Some(0.6))
  }

  /** Stored IVF×PQ composition index: the IVF layout's rows encoded once
    * into cluster+codes and persisted — the query must probe the STORED
    * table, not pay a full-corpus encode per run (the round-1
    * benchmark-the-build mistake this file's header documents). */
  private def ivfPqEncoded(s: SparkSession, dir: String,
      cb: graft.functions.PqCodebook): DataFrame =
    Artifacts.encoding(s, Artifacts.key("ivfpq", dir, "embeddings", s"_k${IvfK}m8k16"))(
      Ann.pqEncode(ivfIndex(s, dir)._1, "embedding", cb)
        .write.mode("overwrite").partitionBy("cluster").parquet(_))

  /** Batch IVF×PQ: 100 queries, pruned cells + code-only ADC scan +
    * bounded shortlists + exact refine — one plan over the stored index. */
  private def ivfPqMulti(s: SparkSession, dir: String): DataFrame = {
    val (_, centroids) = ivfIndex(s, dir)
    val (_, cb) = pqIndex(s, dir)
    val encoded = ivfPqEncoded(s, dir, cb)
    annVerified(
      Ann.ivfPqMultiSearch(encoded, centroids, cb, batchQueries(s, dir),
        cfg.copy(limit = 5), nProbe = 4, refine = 8),
      exactBatch5(s, dir), Some(0.4))
  }

  /** Stored IVF×SQ8 layout: the ivf-assigned corpus sq8-encoded and
    * persisted partitioned by cluster, same discipline as
    * [[ivfPqEncoded]]. */
  private def ivfSq8Encoded(s: SparkSession, dir: String): DataFrame =
    Artifacts.encoding(s, Artifacts.key("ivfsq8", dir, "embeddings", s"_k$IvfK"))(
      Ann.sq8Encode(ivfIndex(s, dir)._1, "embedding")
        .write.mode("overwrite").partitionBy("cluster").parquet(_))

  /** Batch IVF×SQ8: 100 queries, pruned cells + dequantized int8 scoring
    * against the broadcast query column (no driver LUTs) + bounded
    * shortlists + exact refine — one plan over the stored layout. */
  private def ivfSq8Multi(s: SparkSession, dir: String): DataFrame = {
    val (_, centroids) = ivfIndex(s, dir)
    val encoded = ivfSq8Encoded(s, dir)
    annVerified(
      Ann.ivfSq8MultiSearch(encoded, centroids, batchQueries(s, dir),
        cfg.copy(limit = 5), nProbe = 4, refine = 4),
      exactBatch5(s, dir), Some(0.6))
  }

  /** Batch LSH: 100 queries through the E2LSH (band, bucket) equi-join —
    * ONE scan of the keyed corpus for the whole batch, where the
    * single-query LSH path pays a full hash scan per query. The index is
    * the seeded hyperplane set (data-independent, regenerable) — there is
    * no stored artifact to probe.
    *
    * This query benches PLAN SHAPE AND COST (rows-only in the driver):
    * the synthetic embeddings are near-uniform on the unit sphere (no
    * neighbor structure), so approximate recall is meaningless here —
    * it is spec-tested on the real 512-dim news fixture (AnnSpec). */
  private def lshMulti(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    annVerified(
      Ann.lshMultiSearch(emb, batchQueries(s, dir), cfg.copy(limit = 5),
        graft.operators.Dedup.hyperplanes(dim, count = 16), bands = 4),
      exactBatch5(s, dir),
      recallFloor = None, // structure-free corpus: see object scaladoc
      includeRowCount = false) // queries with < limit candidates are legal
  }

  /** PQ-compressed scan: ADC over codes (no vector math), exact refine. */
  private def pq(s: SparkSession, dir: String): DataFrame = {
    val (encoded, cb) = pqIndex(s, dir)
    val qv = queryVec(s, dir)
    annVerified(
      withQ(Ann.pqSearch(encoded, cb, qv, cfg, refine = 8), 0L),
      withQ(Search.search(Tables(s, dir, "embeddings"), qv, cfg), 0L), Some(0.4))
  }

  /** SQ8 scan over the STORED encoded table ([[sq8Index]]): int8
    * shortlist + exact refine. The ONLY approximate-search query with a
    * full DuckDB oracle — the quantizer is deterministic integer math, so
    * the oracle replays encode, approximate ordering and refine
    * bit-exactly from the raw embeddings. */
  private def sq8(s: SparkSession, dir: String): DataFrame =
    Ann.sq8Search(sq8Index(s, dir), queryVec(s, dir), cfg, refine = 4)
      .select(col("vec_id"), round(col(Search.ScoreCol), 6).as("score"))

  /** Rademacher random-projection shortlist + exact rerank: the second
    * query with a FULL DuckDB replay ([[sq8]]'s class of evidence) —
    * signs are integer hash parity, projections/distances ordered double
    * folds, so the whole approximate ordering replays bit-exactly. */
  private val RpDim = 8
  private val RpRefine = 4

  /** Stored projection table ([[sq8Index]] discipline): encode once,
    * every query scans 8 stored doubles per row instead of paying the
    * O(d·projDim) projection per scan. Stored and fresh projections are
    * value-identical (pure function of the vector), so the full-replay
    * oracle — which recomputes from raw embeddings — keeps holding. */
  private def rpIndex(s: SparkSession, dir: String): DataFrame =
    Artifacts.encoding(s, Artifacts.key("rp", dir, "embeddings", s"_p$RpDim"))(
      Ann.rpEncode(Tables(s, dir, "embeddings"), "embedding", RpDim)
        .write.mode("overwrite").parquet(_))

  /** Binary sign-bit quantization: the third query family with a FULL
    * DuckDB replay — bit j of word w is `v[w·64+j] > 0`, so the packed
    * XOR-popcount Hamming shortlist replays as an unpacked sign-mismatch
    * count. The stored code table is 1 long per row at d=64 (64× under
    * the float vectors — the cheapest shortlist scan in the family). */
  private val BqRefine = 4

  private def bqIndex(s: SparkSession, dir: String): DataFrame =
    Artifacts.encoding(s, Artifacts.key("bq", dir, "embeddings")) { path =>
      val emb = Tables(s, dir, "embeddings")
      val dim = emb.select(size(col("embedding"))).head.getInt(0)
      Ann.bqEncode(emb, "embedding", dim).write.mode("overwrite").parquet(path)
    }

  private def bq(s: SparkSession, dir: String): DataFrame =
    Ann.bqSearchEncoded(bqIndex(s, dir), queryVec(s, dir), cfg,
        refine = BqRefine)
      .select(col("vec_id"), round(col(Search.ScoreCol), 6).as("score"))

  private def bqMulti(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    Ann.bqMultiSearch(emb, batchQueries(s, dir), cfg.copy(limit = 5),
        dim = dim, refine = BqRefine)
      .select(col(Search.QueryIdCol), col("vec_id"),
        round(col(Search.ScoreCol), 6).as("score"))
  }

  /** PCA family: the DATA-DEPENDENT projection ([[graft.operators.Pca]]).
    * Components come out of a distributed float reduction, so they are
    * not bit-replayable in SQL — both queries use the
    * verification-literal oracle class (`text_vocab_approx` pattern):
    * the Spark side PROVES the claims in-query (orthonormality and
    * eigen-structure driver-side; projected-variance==eigenvalue,
    * decorrelation and centering DISTRIBUTED over the encoded corpus),
    * and the oracle pins the booleans TRUE. (k, refine) and the floor
    * calibrated by the PcaRecallProbe grid over ALL THREE sfs — the
    * corpus is isotropic (no spectrum decay, PCA's worst case), so
    * recall decays with corpus size at fixed shortlist: at k=16
    * refine=32 the verified query (vec_id 0) measured recall@10
    * 1.00/0.90/0.90 (sf0.001/0.01/0.1; 20-query means 0.99/0.99/0.86)
    * — floor 0.5 keeps a ≥0.4 margin on the weakest sample at the
    * largest benched sf. */
  private val PcaK = 16
  private val PcaRefine = 32

  /** The PCA encoding plus its model sidecar, committed together under
    * the encoding's [[Artifacts.Current]] swap. */
  private def pcaIndex(s: SparkSession, dir: String): (DataFrame, graft.operators.Pca.PcaModel) = {
    import graft.operators.Pca
    Artifacts.stored(s, Artifacts.key("pca", dir, "embeddings", s"_k$PcaK"),
        Artifacts.Current) { d =>
      VersionedDir.commit(s, d, Artifacts.Current, Seq(_)) { path =>
        val emb = Tables(s, dir, "embeddings")
        val m = Pca.fit(emb, "embedding", k = PcaK)
        Pca.pcaEncode(emb, "embedding", m).write.mode("overwrite").parquet(path)
        Pca.pcaSave(s, d, m)
      }
    }(d => (Artifacts.current(s, d), Pca.pcaLoad(s, d)))
  }

  /** Fit diagnostics as a one-row verification frame: driver-side basis
    * checks + distributed moment checks over the encoded corpus. */
  private def pcaVar(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Pca
    val (enc, m) = pcaIndex(s, dir)
    // driver-side: orthonormal basis, strictly descending spectrum,
    // explained ratio within (0, 1]
    val ortho = (0 until m.k).forall { i =>
      (0 until m.k).forall { j =>
        val dot = (0 until m.dim).map(x => m.components(i)(x) * m.components(j)(x)).sum
        math.abs(dot - (if (i == j) 1d else 0d)) < 1e-9
      }
    }
    val descending = m.eigenvalues.sliding(2).forall(p => p(0) >= p(1))
    val ratioOk = {
      val r = m.eigenvalues.map(_ / m.totalVariance)
      r.forall(_ > 0d) && r.sum <= 1d + 1e-12
    }
    // distributed: per-dim sample variance == eigenvalue (rel 1e-6),
    // means centered, max |corr| between distinct dims < 1e-6. All
    // three derive from ONE moment pack of the projected column (the
    // same treeAggregate kernel the fit uses — a 153-double driver
    // fetch instead of a 137-aggregate-column plan, which measured
    // 2.99 s of bench at sf0.1 in the column-per-statistic spelling)
    val mom = Pca.moments(enc.select(col(Pca.PcaCol)), Pca.PcaCol)
    val n = mom.n.toLong
    def cov(i: Int, j: Int): Double = { // 1-based dims over the pack
      val (a, b) = if (i <= j) (i - 1, j - 1) else (j - 1, i - 1)
      val sij = mom.sums(1 + m.k + a * m.k - a * (a - 1) / 2 + (b - a))
      (sij - mom.sums(1 + a) * mom.sums(1 + b) / n) / (n - 1d)
    }
    val dims = (1 to m.k)
    val varOk = dims.forall { j =>
      math.abs(cov(j, j) - m.eigenvalues(j - 1)) <=
        1e-6 * math.max(m.eigenvalues(j - 1), 1e-12)
    }
    val meanOk = dims.forall(j => math.abs(mom.sums(j) / n) < 1e-6)
    val corrOk = (for (i <- dims; j <- dims if i < j) yield (i, j))
      .forall { case (i, j) =>
        math.abs(cov(i, j) / math.sqrt(cov(i, i) * cov(j, j))) < 1e-6 }
    // whitened coordinates (1/√eigenvalue scaling off the RAW vectors)
    // have unit sample variance per dim — same kernel on the real
    // whiten() column
    val wmom = Pca.moments(
      Pca.pcaWhitenEncode(Tables(s, dir, "embeddings"), "embedding", m)
        .select(col(Pca.WhitenCol)), Pca.WhitenCol)
    val whitenOk = dims.forall { j =>
      val v = (wmom.sums(1 + m.k + (j - 1) * m.k - (j - 1) * (j - 2) / 2) -
        wmom.sums(j) * wmom.sums(j) / n) / (n - 1d)
      math.abs(v - 1d) < 1e-6
    }
    import s.implicits._
    Seq((m.k.toLong, n, ortho, descending, ratioOk, varOk, meanOk, corrOk,
        whitenOk))
      .toDF("k", "n_rows", "orthonormal_ok", "spectrum_desc",
        "explained_ratio_ok", "var_matches_eigen", "centered_ok",
        "decorrelated_ok", "whitened_unit_var")
  }

  /** Incremental-fit maintenance proof ([[graft.operators.Pca.pcaUpdate]]):
    * split the corpus by id parity, fit moments on the even half, fold
    * the odd half in via pcaUpdate, and compare statistic + resolved
    * model against the one-shot full fit — the `lm_update_score`-style
    * update==retrain evidence, as verification literals. */
  private def pcaUpdateQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Pca
    val emb = Tables(s, dir, "embeddings")
    val momA = Pca.moments(emb.filter(col("vec_id") % 2 === 0), "embedding")
    val updated = Pca.pcaUpdate(momA,
      emb.filter(col("vec_id") % 2 =!= 0), "embedding")
    val full = Pca.moments(emb, "embedding")
    val momsOk = updated.sums.zip(full.sums).forall { case (u, f) =>
      math.abs(u - f) <= 1e-9 * math.max(1d, math.abs(f)) }
    val mU = Pca.fitFromMoments(updated, PcaK)
    val mF = Pca.fitFromMoments(full, PcaK)
    val eigOk = mU.eigenvalues.zip(mF.eigenvalues).forall { case (u, f) =>
      math.abs(u - f) <= 1e-9 * math.max(1d, f) }
    val compOk = mU.components.zip(mF.components).forall { case (cu, cf) =>
      cu.zip(cf).forall { case (u, f) => math.abs(u - f) < 1e-7 } }
    import s.implicits._
    Seq((updated.n.toLong, momsOk, eigOk, compOk))
      .toDF("n_rows", "moments_match", "eig_match", "components_match")
  }

  private def pcaKnn(s: SparkSession, dir: String): DataFrame = {
    val (enc, m) = pcaIndex(s, dir)
    val qv = queryVec(s, dir)
    annVerified(
      withQ(graft.operators.Pca.pcaSearchEncoded(enc, qv, m, cfg,
        refine = PcaRefine), 0L),
      withQ(Search.search(Tables(s, dir, "embeddings"), qv, cfg), 0L),
      Some(0.5))
  }

  private def rp(s: SparkSession, dir: String): DataFrame =
    Ann.rpSearchEncoded(rpIndex(s, dir), queryVec(s, dir), cfg,
        projDim = RpDim, refine = RpRefine)
      .select(col("vec_id"), round(col(Search.ScoreCol), 6).as("score"))

  private def rpMulti(s: SparkSession, dir: String): DataFrame =
    Ann.rpMultiSearch(Tables(s, dir, "embeddings"), batchQueries(s, dir),
        cfg.copy(limit = 5), projDim = RpDim, refine = RpRefine)
      .select(col(Search.QueryIdCol), col("vec_id"),
        round(col(Search.ScoreCol), 6).as("score"))

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_rp_knn" -> (rp _),
    "ann_rp_multi" -> (rpMulti _),
    "ann_bq_knn" -> (bq _),
    "ann_bq_multi" -> (bqMulti _),
    "emb_pca_var" -> (pcaVar _),
    "emb_pca_update" -> (pcaUpdateQ _),
    "ann_pca_knn" -> (pcaKnn _),
    "ann_lsh_knn" -> (lsh _),
    "ann_lsh_multi" -> (lshMulti _),
    "ann_ivf_knn" -> (ivf _),
    "ann_ivf_auto" -> (ivfAuto _),
    "ann_ivf_multi" -> (ivfMulti _),
    "ann_ivfpq_multi" -> (ivfPqMulti _),
    "ann_ivfsq8_multi" -> (ivfSq8Multi _),
    "ann_pq_knn" -> (pq _),
    "ann_sq8_knn" -> (sq8 _))

  /** Expected literals for the verification summaries ([[annVerified]]).
    * Counts are structural: 1 query × k=10 for the single paths, 100
    * queries × limit 5 for the batch paths; the booleans are the claims
    * the in-query verification must have proven. */
  private def annLiteralOracle(nQueries: Int, nRows: Option[Int],
      recallCol: Boolean): String = {
    val cols = Seq(s"${nQueries}::BIGINT AS n_queries") ++
      nRows.map(r => s"${r}::BIGINT AS n_rows") ++
      Seq("TRUE AS self_top1_all") ++
      (if (recallCol) Seq("TRUE AS recall_floor_ok") else Nil)
    s"SELECT ${cols.mkString(", ")}"
  }

  /** The Rademacher sign as a SQL expression over flat index `e`. */
  private def rpSignSql(e: String): String =
    s"(CASE WHEN ${graft.operators.Mixture.idHashSql(e)} % 2 = 0 THEN 1.0 ELSE -1.0 END)"

  def oracle: Map[String, String] = Map(
    "ann_rp_knn" ->
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 0),
        |qp AS (SELECT list_transform(generate_series(0, ${RpDim - 1}), j ->
        |         list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |           list_transform(generate_series(1, len(qv)), i ->
        |             qv[i] * ${rpSignSql(s"((i - 1) * $RpDim + j)")})),
        |           (a, b) -> a + b)) AS rp
        |       FROM q),
        |p AS (SELECT vec_id, embedding,
        |        list_transform(generate_series(0, ${RpDim - 1}), j ->
        |          list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |            list_transform(generate_series(1, len(embedding)), i ->
        |              embedding[i]::DOUBLE * ${rpSignSql(s"((i - 1) * $RpDim + j)")})),
        |            (a, b) -> a + b)) AS rp
        |      FROM embeddings),
        |short AS (SELECT p.vec_id, p.embedding
        |          FROM p CROSS JOIN qp
        |          ORDER BY list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |              list_transform(generate_series(1, $RpDim), j ->
        |                (p.rp[j] - qp.rp[j]) * (p.rp[j] - qp.rp[j]))),
        |              (a, b) -> a + b) ASC,
        |            p.vec_id ASC
        |          LIMIT ${10 * RpRefine})
        |SELECT s.vec_id,
        |       round(list_distance(CAST(s.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM short s CROSS JOIN q
        |ORDER BY score ASC, s.vec_id ASC LIMIT 10""".stripMargin,
    "ann_rp_multi" ->
      s"""WITH qs AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |            FROM embeddings WHERE vec_id < 100),
        |qp AS (SELECT query_id, qv,
        |         list_transform(generate_series(0, ${RpDim - 1}), j ->
        |           list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |             list_transform(generate_series(1, len(qv)), i ->
        |               qv[i] * ${rpSignSql(s"((i - 1) * $RpDim + j)")})),
        |             (a, b) -> a + b)) AS rp
        |       FROM qs),
        |p AS (SELECT vec_id, embedding,
        |        list_transform(generate_series(0, ${RpDim - 1}), j ->
        |          list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |            list_transform(generate_series(1, len(embedding)), i ->
        |              embedding[i]::DOUBLE * ${rpSignSql(s"((i - 1) * $RpDim + j)")})),
        |            (a, b) -> a + b)) AS rp
        |      FROM embeddings),
        |short AS (SELECT qp.query_id, qp.qv, p.vec_id, p.embedding
        |          FROM p CROSS JOIN qp
        |          QUALIFY row_number() OVER (PARTITION BY qp.query_id
        |            ORDER BY list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |                list_transform(generate_series(1, $RpDim), j ->
        |                  (p.rp[j] - qp.rp[j]) * (p.rp[j] - qp.rp[j]))),
        |                (a, b) -> a + b) ASC,
        |              p.vec_id ASC) <= ${5 * RpRefine})
        |SELECT query_id, vec_id,
        |       round(list_distance(CAST(embedding AS DOUBLE[]), qv), 6) AS score
        |FROM short
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY list_distance(CAST(embedding AS DOUBLE[]), qv) ASC,
        |           vec_id ASC) <= 5""".stripMargin,
    "ann_bq_knn" ->
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 0),
        |h AS (SELECT e.vec_id, e.embedding,
        |        -- unpacked twin of the engine's packed XOR-popcount: bit
        |        -- j of word w is (v[w*64+j] > 0), so Hamming over packed
        |        -- words == the count of mismatched signs
        |        list_reduce(list_prepend(0,
        |          list_transform(generate_series(1, len(e.embedding)), i ->
        |            CASE WHEN (e.embedding[i]::DOUBLE > 0) <> (q.qv[i] > 0)
        |                 THEN 1 ELSE 0 END)),
        |          (a, b) -> a + b) AS ham
        |      FROM embeddings e CROSS JOIN q),
        |short AS (SELECT vec_id, embedding FROM h
        |          ORDER BY ham ASC, vec_id ASC LIMIT ${10 * BqRefine})
        |SELECT s.vec_id,
        |       round(list_distance(CAST(s.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM short s CROSS JOIN q
        |ORDER BY score ASC, s.vec_id ASC LIMIT 10""".stripMargin,
    "ann_bq_multi" ->
      s"""WITH qs AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |            FROM embeddings WHERE vec_id < 100),
        |h AS (SELECT qs.query_id, qs.qv, e.vec_id, e.embedding,
        |        list_reduce(list_prepend(0,
        |          list_transform(generate_series(1, len(e.embedding)), i ->
        |            CASE WHEN (e.embedding[i]::DOUBLE > 0) <> (qs.qv[i] > 0)
        |                 THEN 1 ELSE 0 END)),
        |          (a, b) -> a + b) AS ham
        |      FROM embeddings e CROSS JOIN qs),
        |short AS (SELECT query_id, qv, vec_id, embedding FROM h
        |          QUALIFY row_number() OVER (PARTITION BY query_id
        |            ORDER BY ham ASC, vec_id ASC) <= ${5 * BqRefine})
        |SELECT query_id, vec_id,
        |       round(list_distance(CAST(embedding AS DOUBLE[]), qv), 6) AS score
        |FROM short
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY list_distance(CAST(embedding AS DOUBLE[]), qv) ASC,
        |           vec_id ASC) <= 5""".stripMargin,
    "ann_lsh_knn" -> annLiteralOracle(1, Some(10), recallCol = true),
    "ann_pca_knn" -> annLiteralOracle(1, Some(10), recallCol = true),
    "emb_pca_var" ->
      s"""SELECT ${PcaK}::BIGINT AS k,
        |       (SELECT count(*) FROM embeddings)::BIGINT AS n_rows,
        |       TRUE AS orthonormal_ok, TRUE AS spectrum_desc,
        |       TRUE AS explained_ratio_ok, TRUE AS var_matches_eigen,
        |       TRUE AS centered_ok, TRUE AS decorrelated_ok,
        |       TRUE AS whitened_unit_var""".stripMargin,
    "emb_pca_update" ->
      """SELECT (SELECT count(*) FROM embeddings)::BIGINT AS n_rows,
        |       TRUE AS moments_match, TRUE AS eig_match,
        |       TRUE AS components_match""".stripMargin,
    "ann_ivf_knn" -> annLiteralOracle(1, Some(10), recallCol = true),
    "ann_ivf_auto" ->
      s"""SELECT GREATEST(${graft.operators.Ann.IvfAutoKMin},
        |         CAST(ceil(count(*) / ${AutoCellRows}.0) AS BIGINT)) AS k_cells,
        |       1::BIGINT AS n_queries, 10::BIGINT AS n_rows,
        |       TRUE AS self_top1_all, TRUE AS recall_floor_ok
        |FROM embeddings""".stripMargin,
    "ann_pq_knn" -> annLiteralOracle(1, Some(10), recallCol = true),
    "ann_ivf_multi" -> annLiteralOracle(100, Some(500), recallCol = true),
    "ann_ivfpq_multi" -> annLiteralOracle(100, Some(500), recallCol = true),
    "ann_ivfsq8_multi" -> annLiteralOracle(100, Some(500), recallCol = true),
    "ann_lsh_multi" -> annLiteralOracle(100, None, recallCol = false),
    "ann_sq8_knn" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        |e AS (SELECT vec_id, embedding,
        |        list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127 AS scale
        |      FROM embeddings),
        |c AS (SELECT vec_id, embedding,
        |        -- ::FLOAT replays the engine's array<float> cast of the
        |        -- dequantized values (VectorScore scores float32 inputs)
        |        CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0.0::FLOAT)
        |             ELSE list_transform(embedding, x ->
        |               (greatest(-127.0, least(127.0, floor(x::DOUBLE / scale + 0.5))) * scale)::FLOAT)
        |        END AS deq
        |      FROM e),
        |short AS (SELECT c.vec_id, c.embedding
        |          FROM c CROSS JOIN q
        |          ORDER BY round(list_distance(c.deq, q.qv), 6) ASC, c.vec_id ASC
        |          LIMIT 40)
        |SELECT s.vec_id,
        |       round(list_distance(CAST(s.embedding AS DOUBLE[]), q.qv), 6) AS score
        |FROM short s CROSS JOIN q
        |ORDER BY score ASC, s.vec_id ASC LIMIT 10""".stripMargin)
}
