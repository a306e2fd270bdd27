package graft.operators

import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH, BucketedRandomProjectionLSHModel}
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.functions.{NearestCellsExpr, ScoreFunctions, VectorCells}

/** Approximate-nearest-neighbour search — the Spark-native stand-in for the
  * reference's Annoy index scan (SURVEY.md §2.4 J2, data/search.go:301-344).
  * Every index is opt-in; exact brute force ([[Search]]) stays the semantic
  * reference, like the reference's fallback when the index is absent.
  *
  * The family:
  *  - LSH: MLlib BucketedRandomProjectionLSH for one query ([[lshSearch]]),
  *    E2LSH band keys for a batch ([[lshMultiSearch]]). Cosine/angular
  *    configs hash L2-normalized vectors (angular NN on the unit sphere ==
  *    euclidean NN).
  *  - IVF: a seeded KMeans coarse quantizer; queries probe the `nProbe`
  *    nearest cells only ([[ivfSearch]], [[ivfMultiSearch]]). Stored
  *    partitioned by `cluster`, a probe is a partition-pruned scan of
  *    nProbe/k of the table — the classic 100-TB ANN layout.
  *  - Compressed shortlist scans: PQ ([[pqSearch]], ADC over codes), SQ8
  *    ([[sq8Search]], int8 codes), RP ([[rpSearch]], Rademacher JL
  *    projection), BQ ([[bqSearch]], sign-bit Hamming), PCA
  *    ([[Pca.pcaSearchEncoded]]), their batch forms ([[rpMultiSearch]],
  *    [[bqMultiSearch]]) and the IVF×PQ / IVF×SQ8 batch compositions.
  *
  * Every compressed shortlist keeps ONE contract — Jégou et al.'s
  * shortlist-then-rerank (ICASSP 2011), the reference's post-filter
  * re-score (search.go:323-343):
  *  1. [[shortlistGuard]] before the bounded top-k: JSON filters, a
  *     non-null feature and a defined (non-null, non-NaN) approximate
  *     score. A filter-blind shortlist of k·refine rows keeps only
  *     ~selectivity·k·refine survivors, and Spark orders nulls first
  *     ascending and NaN first descending, so undefined rows would crowd
  *     out every real candidate;
  *  2. the best `limit·refine` rows by approximate score, ties cut by the
  *     config's tie-break;
  *  3. the exact rerank: [[Search.search]] for one query
  *     ([[shortlistRerank]]), [[Search.multiSearch]] joined on the carried
  *     query id for a batch ([[multiShortlistRerank]]). Filters, context
  *     re-scoring, null/NaN drops and key dedup are the exact path's own,
  *     so a batch answers each query exactly as the single path does.
  * LSH and IVF candidates (bucket or cell members, no approximate score)
  * go straight to the same exact re-score. */
object Ann {

  /** L2-normalize an array<float> column (null-safe; zero vectors pass
    * through unchanged). */
  def l2Normalize(v: Column): Column = {
    val d = v.cast("array<double>")
    val n = sqrt(aggregate(d, lit(0d), (acc, x) => acc + x * x))
    when(n === 0d, d).otherwise(transform(d, x => x / n))
  }

  private def needsNormalize(scoreFuncName: String): Boolean =
    ScoreFunctions.resolve(scoreFuncName) match {
      case graft.functions.ScoreKind.Cosine | graft.functions.ScoreKind.Angular => true
      case _ => false
    }

  // ------------------------------------------------------------------ LSH

  /** The (optionally normalized) LSH feature as an array<double> column. */
  private def lshFeature(cfg: SearchConfig): Column = {
    val norm = needsNormalize(cfg.scoreFuncName)
    if (norm) l2Normalize(col(cfg.featureCol)) else col(cfg.featureCol).cast("array<double>")
  }

  /** Prepare `data` for the LSH model: [[lshFeature]] as an MLlib vector
    * column `__v`. */
  private def lshPrepare(data: DataFrame, cfg: SearchConfig): DataFrame =
    data.withColumn("__v", array_to_vector(lshFeature(cfg)))

  /** Fit the BRP-LSH model. The fit is data-independent (random
    * projections from the seed + dimensionality), so it is cheap — but the
    * MODEL must persist across queries/restarts or hash buckets change:
    * see [[lshSave]]/[[lshLoad]] (the Annoy index save/load analog,
    * data/newsync.go:169-222).
    *
    * `bucketLength <= 0` (the default) sizes buckets from the data: BRP
    * projects onto UNIT random vectors, so an isotropic-ish corpus
    * projects with spread ≈ rms(‖v‖)/√d — for unit-normalized embeddings
    * that is ~1/√d, and a fixed bucketLength of 1.0 degenerates to TWO
    * buckets per table (measured: every "pruned" probe then scans ~half
    * the corpus). 2× the estimated spread yields a useful 10-30 buckets
    * per table; estimated on a bounded sample, deterministic. */
  def lshFit(data: DataFrame, cfg: SearchConfig,
      numHashTables: Int = 8, bucketLength: Double = 0.0): BucketedRandomProjectionLSHModel = {
    val w =
      if (bucketLength > 0) bucketLength
      else {
        val f = lshFeature(cfg)
        // deterministic bounded sample: order by the vector hash, take 256
        // (TakeOrderedAndProject — one scan with a 256-row heap, no sort).
        // A bare limit(256) depended on partition/file layout, so refitting
        // the same corpus after a repartition could silently move bucket
        // boundaries; hash order is a pure function of the data.
        val r = data
          .select(aggregate(f, lit(0d), (a, x) => a + x * x).as("n2"), size(f).as("d"),
            xxhash64(f).as("__ord"))
          .orderBy("__ord").limit(256).agg(avg(col("n2")), first(col("d"))).head
        if (r.isNullAt(0) || r.isNullAt(1) || r.getInt(1) <= 0) 1.0
        else math.max(2.0 * math.sqrt(r.getDouble(0) / r.getInt(1)), 1e-9)
      }
    new BucketedRandomProjectionLSH()
      .setInputCol("__v").setOutputCol("__h")
      .setNumHashTables(numHashTables).setBucketLength(w)
      .setSeed(42L)
      .fit(lshPrepare(data, cfg))
  }

  /** Persist / restore the LSH model (MLlib native format). */
  def lshSave(dir: String, model: BucketedRandomProjectionLSHModel): Unit =
    model.write.overwrite().save(dir)
  def lshLoad(dir: String): BucketedRandomProjectionLSHModel =
    BucketedRandomProjectionLSHModel.load(dir)

  /** J2 probe path against a fitted/loaded model: hash-bucket candidate
    * generation, exact re-score, top-k. */
  def lshSearchWith(model: BucketedRandomProjectionLSHModel, data: DataFrame,
      query: Seq[Float], cfg: SearchConfig, candidateMultiple: Int = 4): DataFrame = {
    val norm = needsNormalize(cfg.scoreFuncName)
    val prepared = lshPrepare(data, cfg)
    val qRaw = query.map(_.toDouble).toArray
    val qArr =
      if (!norm) qRaw
      else {
        val n = math.sqrt(qRaw.map(x => x * x).sum)
        if (n == 0) qRaw else qRaw.map(_ / n)
      }
    // candidate pool is a multiple of k; exact re-score decides the final k
    val candidates = model
      .approxNearestNeighbors(prepared, Vectors.dense(qArr), cfg.limit * candidateMultiple)
      .drop("__v", "__h", "distCol")
    Search.search(candidates, query, cfg)
  }

  /** J2 via LSH: fit + probe in one call (`data` is scanned once to fit
    * and once to probe). */
  def lshSearch(data: DataFrame, query: Seq[Float], cfg: SearchConfig,
      numHashTables: Int = 8, bucketLength: Double = 0.0,
      candidateMultiple: Int = 4): DataFrame =
    lshSearchWith(lshFit(data, cfg, numHashTables, bucketLength),
      data, query, cfg, candidateMultiple)

  /** E2LSH band keys: an array of `bands` (band, bucket) structs where
    * each bucket Murmur3-combines r = planes/bands FLOORED projections
    * (floor(dot(v, pᵢ)/w)). AND-composing r floors gives each band a real
    * multi-dimensional grid cell — unlike one-projection-per-table BRP,
    * whose bucket count collapses to (projection range / bucketLength)
    * and degenerates to ~2 buckets per table on unit-normalized
    * embeddings (measured; the "pruned" probe then scans half the corpus
    * per table). Dot products run through the codegen'd vector kernel.
    * Unlike sign bits, floors keep MAGNITUDE information, so the keys
    * serve euclidean neighbors on unnormalized vectors. */
  private def e2BandKeys(vecCol: Column, planes: Seq[Array[Float]],
      bands: Int, w: Double): Column = {
    require(planes.nonEmpty && planes.size % bands == 0,
      s"planes ${planes.size} not divisible by bands $bands")
    require(w > 0, s"bucket width must be positive, got $w")
    val r = planes.size / bands
    val ks = (0 until bands).map { b =>
      val floors = planes.slice(b * r, (b + 1) * r).map { p =>
        floor(ScoreFunctions.vectorMultiplication(
          vecCol.cast("array<float>"), lit(p)) / w)
      }
      struct(lit(b).as("band"), hash(floors: _*).as("bucket"))
    }
    array(ks: _*)
  }

  /** Batch ANN through E2LSH — the batch-routing parity partner of
    * [[ivfMultiSearch]]: key BOTH sides with b bands of r floored
    * projections ([[e2BandKeys]]), explode per-band (band, bucket) keys,
    * and push the batch through the same broadcast equi-join +
    * bounded-top-k merge as every other batch path. ONE scan of the keyed
    * data regardless of batch size, vs `approxNearestNeighbors`' full
    * hash scan PER query (the MLlib limitation that makes single-query
    * LSH the latency path only). The index is the (planes, bands, width)
    * tuple — a few KB, regenerable by [[Dedup.hyperplanes]]; there is
    * nothing to persist.
    *
    * `bucketWidth <= 0` (default) estimates the projection spread from a
    * bounded sample: for Gaussian planes Var(dot(v, p)) = ‖v‖², so the
    * spread is rms(‖v‖) and w = that spread puts ~6 floors across ±3σ
    * per projection. Cosine/angular configs key NORMALIZED vectors
    * (angular NN on the unit sphere == euclidean NN), same as
    * [[lshFit]]; candidates re-score with the exact function either way.
    *
    * A pair is a candidate when it agrees on ANY band's bucket, so the
    * same (query, row) legitimately arrives via several bands — the
    * per-(query, key) best-score dedup collapses them, which is why this
    * path forces `assumeUniqueKeys = false` regardless of the config
    * (unique SOURCE keys do not make the exploded join unique). */
  def lshMultiSearch(data: DataFrame, queries: DataFrame, cfg: SearchConfig,
      planes: Seq[Array[Float]], bands: Int = 8,
      bucketWidth: Double = 0.0): DataFrame = {
    val joinKeys = Seq("__band", "__bucket")
    require((joinKeys :+ "__bk").forall(!data.columns.contains(_)),
      s"lshMultiSearch reserves columns ${joinKeys.mkString(", ")}, __bk")
    val f = lshFeature(cfg)
    val w =
      if (bucketWidth > 0) bucketWidth
      else {
        // same deterministic bounded sample as lshFit's width estimate
        val r = data.select(aggregate(f, lit(0d), (a, x) => a + x * x).as("n2"),
            xxhash64(f).as("__ord"))
          .orderBy("__ord").limit(256).agg(avg(col("n2"))).head
        if (r.isNullAt(0) || r.getDouble(0) <= 0) 1.0
        else math.sqrt(r.getDouble(0))
      }
    def keyed(df: DataFrame, keep: Seq[Column]): DataFrame =
      df.select(keep :+ explode(e2BandKeys(f, planes, bands, w)).as("__bk"): _*)
        .select(col("*"), col("__bk.band").as("__band"),
          col("__bk.bucket").as("__bucket"))
        .drop("__bk")
    val hd = keyed(data, data.columns.toSeq.map(col))
    val pq = keyed(
      queries.select(col(Search.QueryIdCol), col(cfg.featureCol)),
      Seq(col(Search.QueryIdCol), col(cfg.featureCol)))
    Search.multiSearch(hd, pq, cfg.copy(assumeUniqueKeys = false),
        joinCols = joinKeys)
      .drop(joinKeys: _*)
  }

  // ------------------------------------------------------------------ IVF

  /** Target rows per cell for AUTO-SIZED IVF builds ([[ivfAutoK]]).
    * Probe cost is nProbe · rowsPerCell, so holding rows-per-cell
    * ~constant holds per-query probe cost ~flat as the corpus grows —
    * the round-11 decade measured FIXED k=256 probes growing 15.6× at
    * 10× rows (BASELINE.md round 11) because rows-per-cell grew
    * linearly. 2048 rows/cell keeps a 100-query nProbe=8 batch at the
    * ~2 s the 525k leg measured, at every corpus size. */
  val IvfTargetCellRows: Long = 2048L

  /** Clamp floor for [[ivfAutoK]]: below ~4 cells "pruning" scans most
    * of the corpus anyway and KMeans degenerates. */
  val IvfAutoKMin: Int = 4

  /** Clamp ceiling for [[ivfAutoK]]: 65536 cells × 2048 rows/cell covers
    * ~134G rows; past that the coarse quantizer itself should go
    * hierarchical (IVF over centroids), not grow flat k. */
  val IvfAutoKMax: Int = 65536

  /** Bound on the AUTO-mode KMeans FIT input ([[ivfBuild]] with k ≤ 0):
    * the fit makes maxIter full passes at O(rows · k · dim), so at
    * auto k ≈ n/2048 an unsampled fit would grow QUADRATICALLY with the
    * corpus. ~400k sampled rows keep ≥150 rows/cell in the sample up to
    * the clamp while the fit stays ~constant-cost; the single
    * assignment pass still covers everything (the documented
    * `fitFraction` rationale — the reference likewise rebuilds its
    * index sized to the data each cycle, data/newsync.go:204-207). */
  val IvfAutoFitRows: Long = 400000L

  /** Auto-sized IVF cell count: k ≈ n / targetCellRows, clamped. The
    * same measured-dispatch discipline as
    * [[Dedup.cosineNearDupsLSHAuto]]'s bits/band = log₂(n)−1: a 100-TB
    * operator cannot eyeball the corpus size a caller-fixed k was tuned
    * for. */
  def ivfAutoK(n: Long, targetCellRows: Long = IvfTargetCellRows,
      kMin: Int = IvfAutoKMin, kMax: Int = IvfAutoKMax): Int = {
    require(targetCellRows > 0,
      s"ivfAutoK: targetCellRows must be positive, got $targetCellRows")
    require(kMin >= 1 && kMax >= kMin, s"ivfAutoK: bad clamp [$kMin, $kMax]")
    val raw = math.ceil(n.toDouble / targetCellRows).toLong
    math.min(kMax.toLong, math.max(kMin.toLong, raw)).toInt
  }

  /** Coarse quantizer: seeded KMeans over (optionally normalized) vectors.
    * Returns (data + `cluster` column, centroid arrays). At scale, persist
    * the result bucketed by `cluster`.
    *
    * `k <= 0` AUTO-SIZES the cell count from the corpus
    * ([[ivfAutoK]] at `targetCellRows`) and bounds the KMeans fit input
    * to [[IvfAutoFitRows]] sampled rows (tightened further by an
    * explicit `fitFraction`) — rows-per-cell, and therefore probe cost,
    * stays ~constant as the corpus grows where a caller-fixed k grows
    * it linearly (the round-11 decade's 15.6×-per-decade finding). The
    * chosen k is logged with the statistic that drove it.
    *
    * `fitFraction` < 1 fits the quantizer on a seeded sample — KMeans
    * makes maxIter full passes over its input, and centroid quality
    * converges long before the full corpus is seen, so a 100-TB build
    * samples the fit and runs only the single assignment pass
    * (`transform`) over everything. */
  def ivfBuild(data: DataFrame, featureCol: String, k: Int,
      normalize: Boolean, seed: Long = 42L,
      fitFraction: Double = 1.0,
      targetCellRows: Long = IvfTargetCellRows,
      knownRows: Long = -1L): (DataFrame, Array[Array[Double]]) = {
    val (kk, fitFrac) =
      if (k > 0) (k, fitFraction)
      else {
        // cataloged corpora skip the sizing count via knownRows — the
        // jaccardPairsAuto/simhashPairsAuto convention (at 100 TB a
        // count() is itself a full scan)
        val n = if (knownRows >= 0) knownRows else data.count()
        require(n > 0,
          "ivfBuild: no rows to auto-size cells on — ingest before building the index")
        val auto = ivfAutoK(n, targetCellRows)
        val boundedFrac = math.min(fitFraction, IvfAutoFitRows.toDouble / n)
        org.slf4j.LoggerFactory.getLogger(getClass).info(
          s"ivfBuild: auto-sized k=$auto for n=$n rows " +
            s"(target $targetCellRows rows/cell, ~${n / auto} actual); " +
            f"fit sample fraction $boundedFrac%.4f")
        (auto, boundedFrac)
      }
    val featExpr = if (normalize) l2Normalize(col(featureCol)) else col(featureCol).cast("array<double>")
    val prepared = data.withColumn("__v", array_to_vector(featExpr))
    val fitOn =
      if (fitFrac >= 1.0) prepared
      else prepared.sample(withReplacement = false, fitFrac, seed)
    // k-means|| init runs a DRIVER-SIDE local KMeans++ over ~2·k·steps
    // candidates — at auto-sized k (thousands of cells) that is minutes
    // of single-threaded driver time for a coarse quantizer whose cells
    // only need to partition space reasonably (candidates re-score
    // exactly either way). Random init + the 5 Lloyd passes is the
    // standard large-quantizer recipe; small quantizers keep k-means||
    // (their calibrated recall floors were measured under it).
    val initMode = if (kk > ProbeCellsInlineMaxK) "random" else "k-means||"
    val km = new KMeans().setK(kk).setSeed(seed).setMaxIter(5)
      .setInitMode(initMode)
      .setFeaturesCol("__v").setPredictionCol("cluster")
    // fail LOUDLY on an empty fit set (KMeans otherwise dies with a raw
    // executor stack): an empty-corpus bootstrap should ingest first,
    // then build — the same contract every persisted layout states
    require(!fitOn.isEmpty,
      s"ivfBuild: no rows to fit $kk cells on (fitFraction=$fitFrac) — " +
        "ingest before building the index")
    val model = km.fit(fitOn)
    (model.transform(prepared).drop("__v"), model.clusterCenters.map(_.toArray))
  }

  /** The `nProbe` cell ids nearest `vec` (a vector's boxed floats, no
    * nulls), by squared L2 to the (normalized when `normalize`) vector,
    * ties by cell id — [[VectorCells.nearest]], the one routing every IVF
    * path uses. A null element or a dimension other than the centroids'
    * fails loudly. */
  private def nearestCells(cells: VectorCells.Cells, vec: Seq[Any],
      normalize: Boolean, nProbe: Int): Array[Int] =
    VectorCells.nearest(new GenericArrayData(vec.toArray), cells, isFloat = true,
      normalize, nProbe).toIntArray()

  /** J2 via IVF: probe the `nProbe` cells whose centroids are nearest the
    * query (tiny driver-side argmin over the model, [[nearestCells]]), then
    * exact kNN inside the probed cells — a partition-pruned scan when the
    * table is stored partitioned by `cluster`. */
  def ivfSearch(indexed: DataFrame, centroids: Array[Array[Double]],
      query: Seq[Float], cfg: SearchConfig, nProbe: Int): DataFrame = {
    val probes = nearestCells(new VectorCells.Cells(centroids), query,
      needsNormalize(cfg.scoreFuncName), nProbe)
    Search.search(indexed.filter(col("cluster").isin(probes: _*)), query, cfg)
  }

  /** The cell count past which [[ivfBuild]] seeds KMeans with random
    * init instead of k-means|| (whose driver-side KMeans++ over ~2·k·steps
    * candidates takes minutes at auto-sized k). */
  val ProbeCellsInlineMaxK: Int = 64

  /** A batch's query rows routed to their cells on the driver, as the
    * kernel's query set: [[Search.queryFrame]] collected once, in one job
    * labelled `Ann.routedQueries` and bounded so the routed rows stay
    * within [[Search.MaxQueryRows]], then every row with a non-null vector
    * routed by [[nearestCells]] — the single-query path's own routing, so
    * single and batch IVF probe the same cells. One (query_id, vector,
    * cluster) row per probe; a null vector routes nowhere. */
  private def routedQueries(queries: DataFrame, cfg: SearchConfig,
      centroids: Array[Array[Double]], nProbe: Int): KnnKernel.Queries = {
    val cells = new VectorCells.Cells(centroids)
    val norm = needsNormalize(cfg.scoreFuncName)
    val q = Search.queryFrame(queries, cfg, Nil)
    val rows = Materialize.collect(q, "Ann.routedQueries",
      Search.MaxQueryRows / math.max(1, math.min(nProbe, centroids.length)))
    val routed = rows.filterNot(_.isNullAt(1)).flatMap { r =>
      nearestCells(cells, r.getSeq[Any](1), norm, nProbe).map(c => Row(r.get(0), r.get(1), c))
    }
    KnnKernel.Queries(routed,
      Some(q.schema.add(StructField("cluster", IntegerType, nullable = false))))
  }

  /** A driver-side frame of `rows` under `schema` (a local relation). */
  private def localFrame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Batch ANN (VERDICT round-1 missing #1): every query in `queries`
    * probes its `nProbe` nearest cells, and the exact re-score + bounded
    * top-k of [[Search.multiSearch]] routes each (query, cell) row to the
    * data rows of that cell only — nProbe/k of the table. The queries are
    * collected and routed on the driver once ([[routedQueries]]); that one
    * routed set is the kernel's query set and names the cells a
    * cluster-partitioned stored layout is statically pruned to, so the
    * bounded collect is the only job at call time and the result is lazy.
    * The reference routes batch searches through the same index as single
    * ones (data/search.go:136-141 from search.go:254-298). */
  def ivfMultiSearch(indexed: DataFrame, centroids: Array[Array[Double]],
      queries: DataFrame, cfg: SearchConfig, nProbe: Int): DataFrame = {
    val qs = routedQueries(queries, cfg, centroids, nProbe)
    Search.knn(pruneToCells(indexed, qs), qs, cfg, Seq("cluster"))
  }

  /** Statically restrict a cluster-partitioned stored table to the cells
    * a routed batch probes, so the scan reads ONLY those hive partitions
    * (the single-query path's `isin` pruning, batch-shaped). Routing
    * alone gives per-ROW pruning but still SCANS every partition — the
    * r12 decade measured the difference at 5.25M rows / k=2564:
    * all-partition scan ~30 s vs pruned ~2 s for a 100-query batch. The
    * cell list is bounded by k (distinct cells), never by batch size; a
    * batch probing most cells degenerates to the full scan, which is then
    * genuinely the right plan. */
  private def pruneToCells(indexed: DataFrame, routed: KnnKernel.Queries): DataFrame = {
    val cells = routed.rows.map(_.getInt(2)).distinct
    if (cells.isEmpty) indexed.filter(lit(false))
    else indexed.filter(col("cluster").isin(cells.toSeq: _*))
  }

  // -------------------------------------------------------- index persist

  /** Persist an IVF index: data hive-partitioned by `cluster` (probes
    * become partition-pruned scans) + a tiny sidecar — the analog of
    * Annoy's index save + atomic swap (data/newsync.go:169-222).
    *
    * Swap protocol: each save writes data into a FRESH versioned subdir,
    * then atomically renames a sidecar whose first line names that subdir
    * and whose remaining lines are the centroids. Readers resolve the
    * sidecar first, so a torn write (crash between data write and sidecar
    * rename) leaves the previous sidecar pointing at the previous,
    * complete data+centroids — never new data under old centroids (a
    * fresh KMeans fit's cluster ids bear no relation to old centroid
    * indices). Superseded data dirs are swept best-effort AFTER the swap. */
  /** The IVF index sidecar ([[ivfSave]]). */
  val IvfSidecar = "centroids.csv"

  def ivfSave(dir: String, indexed: DataFrame,
      centroids: Array[Array[Double]]): Unit =
    graft.model.VersionedDir.commit(indexed.sparkSession, dir, IvfSidecar,
        _ +: centroids.map(_.mkString(",")).toSeq) { path =>
      // ONE writer task per cell: without the repartition every shuffled
      // task holds rows of ~every cluster and writes a file into ~every
      // partition dir — ~k × tasks tiny files (the r12 decade measured the
      // 5.25M auto-k probe at 29.6 s against ~330k such files, vs ~2 s
      // against one-file-per-cell). The extra shuffle is build-time cost,
      // which amortizes; probes pay the file count forever.
      indexed.repartition(col("cluster"))
        .write.mode("overwrite").partitionBy("cluster").parquet(path)
    }

  /** The IVF sidecar: (version the data lives in, centroids). */
  private def readIvfSidecar(spark: org.apache.spark.sql.SparkSession,
      dir: String): (String, Array[Array[Double]]) = {
    val lines = graft.model.VersionedDir.readSidecar(spark, dir, IvfSidecar)
    (lines.head, lines.tail.map(_.split(",").map(_.toDouble)).toArray)
  }

  /** Load a persisted IVF index: (partitioned data, centroids), resolving
    * the versioned data dir through the sidecar (see [[ivfSave]]). */
  def ivfLoad(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, Array[Array[Double]]) = {
    val (version, centroids) = readIvfSidecar(spark, dir)
    (spark.read.parquet(s"$dir/$version"), centroids)
  }

  /** Assignment-only index maintenance: append `rows` to a persisted IVF
    * index WITHOUT refitting the coarse quantizer — each appended row gets
    * the cluster id of its nearest STORED centroid
    * ([[graft.functions.NearestCellsExpr]] at nProbe = 1) and lands as new
    * files inside the sidecar-named version's partitioned layout, so
    * existing probes see it immediately. The
    * incremental analog of the reference's insert-count-gated Annoy
    * rebuild (data/newsync.go:98-101, 169-222), shaped for streaming: a
    * KMeans refit per micro-batch would rescan the corpus, assignment is
    * one map over the batch. Centroids drift from the true cell means as
    * appends accumulate — schedule a full [[ivfBuild]]+[[ivfSave]] when
    * recall degrades (the reference's periodic full rebuild; the swap
    * protocol makes it safe under readers). Same single-writer contract
    * as [[ivfSave]]: a concurrent save could swap+sweep the version this
    * append resolved. Returns the assigned batch. */
  def ivfAppend(spark: org.apache.spark.sql.SparkSession, dir: String,
      rows: DataFrame, featureCol: String, normalize: Boolean): DataFrame = {
    val (version, centroids) = readIvfSidecar(spark, dir)
    // a null vector has no nearest centroid; letting it through would file
    // the row under a null hive partition no probe ever scans — refuse
    // loudly instead (the row is unreachable, which is never intended); a
    // null element or a dimension mismatch fails inside the kernel
    val cell = when(col(featureCol).isNotNull,
      element_at(NearestCellsExpr(col(featureCol), centroids, normalize, 1), 1))
      .otherwise(raise_error(lit(
        s"ivfAppend: NULL in feature column '$featureCol' — a null vector " +
          "cannot be indexed; filter or fill before appending")))
    val assigned = rows.withColumn("cluster", cell)
    // REBALANCE by the partition column (guide §6): an un-rebalanced
    // append opens (batch partitions × clusters touched) files; AQE
    // sizes the rebalanced partitions so appended file count tracks
    // batch volume (the ivfSave one-writer-per-cell rationale)
    assigned.hint("rebalance", col("cluster"))
      .write.mode("append").partitionBy("cluster").parquet(s"$dir/$version")
    assigned
  }

  /** Purge-side index maintenance, the delete counterpart of
    * [[ivfAppend]]: rewrite the stored layout keeping only `keepIds`
    * (e.g. the survivors of a [[Dedup.purge]]), under the SAME versioned
    * sidecar swap as a full save — readers keep serving the previous
    * complete version until the rename, and a crash mid-rewrite changes
    * nothing. Centroids are preserved as stored (compaction removes rows,
    * it does not move cells); cluster partitioning is preserved by
    * writing through [[ivfSave]], and the rewrite parallelizes per
    * partition. Appended rows ([[ivfAppend]]) survive when their id is
    * kept — the rewrite reads THROUGH the sidecar, so it sees them.
    * Same single-writer contract as every saver here. */
  def ivfCompact(spark: org.apache.spark.sql.SparkSession, dir: String,
      keepIds: DataFrame, idCol: String): (DataFrame, Array[Array[Double]]) = {
    val (kept, centroids) = ivfKept(spark, dir, keepIds, idCol, "ivfCompact")
    ivfSave(dir, kept, centroids)
    (kept, centroids)
  }

  /** The stored index's rows whose `idCol` is in `keepIds`, materialized,
    * with the stored centroids. `site` names the caller in the errors for
    * a stored index missing `idCol` or any of `needCols`. */
  private def ivfKept(spark: org.apache.spark.sql.SparkSession, dir: String,
      keepIds: DataFrame, idCol: String, site: String,
      needCols: String*): (DataFrame, Array[Array[Double]]) = {
    val (stored, centroids) = ivfLoad(spark, dir)
    for (c <- idCol +: needCols)
      require(stored.columns.contains(c),
        s"$site: stored index has no column '$c' (has ${stored.columns.mkString(", ")})")
    // the rewrite reads the OLD version while writing the NEW one: the
    // semi-joined plan must materialize before ivfSave opens writers,
    // or executor-side readers could race the sweep of a concurrent
    // save (single-writer holds, but lazy evaluation would also thrash
    // the scan once per partition writer)
    val kept = Materialize.eager(stored.join(
      keepIds.select(col(idCol)).distinct(), Seq(idCol), "left_semi"),
      "Ann.ivfKept")
    (kept, centroids)
  }

  /** [[ivfCompact]] with AUTOMATIC re-k: after the keep-rewrite, if the
    * surviving row count has drifted past `driftFactor`× away from what
    * the stored cell count was sized for ([[ivfAutoK]] at
    * `targetCellRows`), the coarse quantizer is REFIT at the auto-sized
    * k instead of preserving centroids — [[ivfAppend]] accumulation
    * grows rows-per-cell (probe cost) linearly and heavy purges leave
    * near-empty cells, and neither self-heals under a fixed quantizer
    * (the reference's periodic rebuild sizes its index to the data,
    * data/newsync.go:204-207). Within the drift band this IS
    * [[ivfCompact]]: centroids preserved, no fit. The decision and the
    * statistic that drove it are logged. Same single-writer contract
    * and versioned-sidecar swap as every saver here. */
  def ivfCompactAuto(spark: org.apache.spark.sql.SparkSession, dir: String,
      keepIds: DataFrame, idCol: String, featureCol: String,
      normalize: Boolean, targetCellRows: Long = IvfTargetCellRows,
      driftFactor: Double = 2.0,
      seed: Long = 42L): (DataFrame, Array[Array[Double]]) = {
    require(driftFactor >= 1.0,
      s"ivfCompactAuto: driftFactor must be >= 1, got $driftFactor")
    // materialized: counted AND rewritten below
    val (kept, centroids) =
      ivfKept(spark, dir, keepIds, idCol, "ivfCompactAuto", featureCol)
    val n = kept.count()
    val kStored = centroids.length
    val kAuto = ivfAutoK(n, targetCellRows)
    val drifted = kAuto.toDouble / kStored > driftFactor ||
      kStored.toDouble / kAuto > driftFactor
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    if (!drifted) {
      log.info(s"ivfCompactAuto: $n rows, stored k=$kStored within " +
        s"${driftFactor}x of auto k=$kAuto -> centroids preserved")
      ivfSave(dir, kept, centroids)
      (kept, centroids)
    } else {
      log.info(s"ivfCompactAuto: $n rows, stored k=$kStored drifted past " +
        s"${driftFactor}x of auto k=$kAuto -> quantizer refit at k=$kAuto")
      // kept is checkpointed, so the assignment map re-reads the
      // checkpoint (never the old version's files) — safe under the swap
      val (indexed, cents) = ivfBuild(kept.drop("cluster"), featureCol,
        k = -1, normalize, seed, targetCellRows = targetCellRows)
      ivfSave(dir, indexed, cents)
      (indexed, cents)
    }
  }

  // ------------------------------------------------------------------- PQ

  /** Train a product-quantization codebook: `m` seeded KMeans fits, one
    * per `dim/m`-dim subspace (Jégou et al. 2011). `fitFraction` samples
    * the fit like [[ivfBuild]] — PQ centroids converge on a sample, the
    * encode pass covers everything. PQ is the MEMORY side of 100-TB ANN:
    * a 64-dim float vector (256 B) compresses to `m` codes (m bytes at
    * ksub ≤ 256), so the scan-side index is ~32× smaller and the ADC scan
    * does one table lookup per subspace instead of vector math. */
  /** `normalize = true` trains on L2-normalized vectors — REQUIRED when
    * the codebook will serve cosine/angular searches: ADC is squared-L2,
    * which only ranks like cosine on the unit sphere. The flag is carried
    * in the codebook so encode/search cannot silently mismatch it. */
  def pqTrain(data: DataFrame, featureCol: String, m: Int, ksub: Int = 16,
      seed: Long = 42L, fitFraction: Double = 1.0,
      normalize: Boolean = false): graft.functions.PqCodebook = {
    val dim = data.select(size(col(featureCol))).head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    val feat =
      if (normalize) l2Normalize(col(featureCol)) else col(featureCol).cast("array<double>")
    // m sequential fits × maxIter passes each would rescan the source
    // ~m·maxIter times — cache the (sampled) fit input once
    val fitInput =
      (if (fitFraction >= 1.0) data
       else data.sample(withReplacement = false, fitFraction, seed))
        .select(feat.as("__f"))
    Materialize.cachedScoped(fitInput, "Ann.pqTrain") { base =>
      val centers = (0 until m).map { j =>
        val sub = base.select(array_to_vector(
          slice(col("__f"), j * subDim + 1, subDim)).as("__v"))
        new KMeans().setK(ksub).setSeed(seed + j).setMaxIter(5)
          .setFeaturesCol("__v").fit(sub)
          .clusterCenters.map(_.toArray.map(_.toFloat))
      }.toArray
      graft.functions.PqCodebook(m, subDim, centers, normalized = normalize)
    }
  }

  /** Encode: adds a `codes` column (array<int>, one code per subspace) —
    * a single codegen'd pass ([[graft.functions.PqEncode]]), normalizing
    * first when the codebook was trained normalized. */
  def pqEncode(data: DataFrame, featureCol: String,
      cb: graft.functions.PqCodebook): DataFrame = {
    val feat =
      if (cb.normalized) Ann.l2Normalize(col(featureCol)).cast("array<float>")
      else col(featureCol).cast("array<float>")
    data.withColumn("codes", graft.functions.PqEncode(feat, cb))
  }

  // ------------------------------------------- shortlist → exact rerank

  /** The approximate score every shortlist ranks by. */
  private val ApproxCol = "__approx"

  /** Step 1 of the object-level contract: which rows may enter a
    * shortlist. Runs on the frame that carries [[ApproxCol]]. */
  private def shortlistGuard(df: DataFrame, cfg: SearchConfig): DataFrame = {
    val filterCols =
      (if (cfg.filters.nonEmpty) Seq(cfg.labelCol) else Nil) ++
        (if (cfg.groupFilters.nonEmpty) Seq(cfg.groupLabelCol) else Nil)
    require(filterCols.forall(df.columns.contains),
      s"JSON filters configured but ${filterCols.filterNot(df.columns.contains).mkString(",")} " +
        "missing from the shortlist scan — carry the label columns into the codes table " +
        "or the shortlist is filter-blind and returns fewer than k rows")
    df.filter(Search.passesFilters(cfg))
      .filter(col(cfg.featureCol).isNotNull)
      .filter(Search.definedScore(col(ApproxCol)))
  }

  /** One query's shortlist → exact rerank: guard `df`, keep its best
    * `limit·refine` rows by `approx` (descending when `descending`) as a
    * `TakeOrderedAndProject` bounded heap, drop the approximate columns
    * `drop`, and re-score the shortlist with [[Search.search]]. */
  private[operators] def shortlistRerank(df: DataFrame, approx: Column,
      descending: Boolean, query: Seq[Float], cfg: SearchConfig, refine: Int,
      drop: String*): DataFrame = {
    val a = col(ApproxCol)
    val shortlist = shortlistGuard(df.withColumn(ApproxCol, approx), cfg)
      .orderBy((if (descending) a.desc else a.asc) +:
        cfg.tieBreakCol.map(col(_).asc).toSeq: _*)
      .limit(cfg.limit * refine)
      .drop(ApproxCol +: drop: _*)
    Search.search(shortlist, query, cfg)
  }

  /** A batch's shortlist → exact rerank. `pairs` holds one row per
    * (`query_id`, candidate); `approx` scores the pair, smaller is better.
    * After the guard, `stage` keeps each query's best `k = limit·refine`
    * pairs as (`query_id`, candidate row), and [[Search.multiSearch]]
    * re-scores each candidate against exactly ITS query through the
    * carried `__cand_q`. */
  private def multiShortlistRerank(pairs: DataFrame, approx: Column,
      queries: DataFrame, cfg: SearchConfig, refine: Int)(
      stage: (DataFrame, Int) => DataFrame): DataFrame = {
    val short = stage(shortlistGuard(pairs.withColumn(ApproxCol, approx), cfg),
      cfg.limit * refine)
    Search.multiSearch(short.withColumnRenamed(Search.QueryIdCol, "__cand_q"),
        queries.withColumn("__cand_q", col(Search.QueryIdCol)), cfg,
        joinCols = Seq("__cand_q"))
      .drop("__cand_q")
  }

  /** Heap stage of [[multiShortlistRerank]]: a partial-aggregating
    * `CollectTopK` per query that carries `payloadCols`, so at most k rows
    * per query per partition cross the one shuffle. */
  private def heapStage(payloadCols: Seq[String], cfg: SearchConfig)(
      guarded: DataFrame, k: Int): DataFrame = {
    val item = struct(
      struct(col(ApproxCol).as("__a") +:
        cfg.tieBreakCol.map(c => col(c).as("__t")).toSeq: _*).as("__o"),
      struct(payloadCols.map(col): _*).as("__p"))
    guarded.groupBy(col(Search.QueryIdCol))
      .agg(Search.collectTopK(item, k).as("__arr"))
      .select(col(Search.QueryIdCol), explode(col("__arr")).as("__e"))
      .select(col(Search.QueryIdCol) +:
        payloadCols.map(c => col(s"__e.__p.$c").as(c)): _*)
  }

  /** Window stage of [[multiShortlistRerank]]: rank NARROW (query, `tie`,
    * score) triples — a `WindowGroupLimit` partial top-k, so at most k
    * skinny rows per query per partition cross the shuffle and the wide
    * corpus columns never ride the window — then broadcast the shortlisted
    * ids back onto `data`. */
  private def windowStage(data: DataFrame, tie: String)(
      guarded: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(Search.QueryIdCol))
      .orderBy(col(ApproxCol).asc, col(tie).asc)
    val ids = guarded.select(col(Search.QueryIdCol), col(tie), col(ApproxCol))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col(Search.QueryIdCol), col(tie))
    data.join(broadcast(ids), Seq(tie))
  }

  /** PQ search: the driver builds the query's m×ksub distance lookup
    * table and the shortlist scores CODES only (codegen'd
    * [[graft.functions.PqAdc]], no vector math). Quantization makes ADC
    * ties frequent (distinct vectors, same codes); the tie-break keeps
    * the shortlist deterministic. */
  def pqSearch(encoded: DataFrame, cb: graft.functions.PqCodebook,
      query: Seq[Float], cfg: SearchConfig, refine: Int = 4): DataFrame = {
    requirePqScoreSpace(cb, cfg)
    shortlistRerank(encoded, graft.functions.PqAdc(col("codes"), pqLut(cb, query)),
      descending = false, query, cfg, refine, "codes")
  }

  /** An ADC shortlist ranks by squared L2 — valid for cosine/angular
    * configs ONLY over a normalized codebook (unit sphere: monotone in
    * cosine). A mismatch silently collapses recall (large-norm high-cosine
    * rows never shortlist), so it fails loudly instead. */
  private def requirePqScoreSpace(cb: graft.functions.PqCodebook,
      cfg: SearchConfig): Unit =
    require(!needsNormalize(cfg.scoreFuncName) || cb.normalized,
      s"score ${cfg.scoreFuncName} needs a codebook trained with " +
        "pqTrain(..., normalize = true): squared-L2 ADC only ranks like " +
        "cosine/angular on the unit sphere")

  /** Batch IVF×PQ — the full 100-TB batch-ANN composition: the queries
    * are collected and routed once on the driver ([[routedQueries]]), the
    * same rows build each query's LUT, and the routed (query, cell) rows
    * join the codes on `cluster` as a broadcast local frame over the
    * statically pruned stored layout. The probed cells are scored on
    * CODES only (one codegen'd LUT lookup per subspace per (row, query) —
    * [[graft.functions.PqAdcMulti]] carries the whole batch's LUTs as one
    * reference object), and each query's shortlist comes from the bounded
    * heap ([[heapStage]]). One scan of the codes + two bounded-top-k
    * shuffles, regardless of batch size; the batch is broadcast-sized by
    * contract, exactly like [[Search.multiSearch]]'s broadcast. */
  def ivfPqMultiSearch(encodedIndexed: DataFrame, centroids: Array[Array[Double]],
      cb: graft.functions.PqCodebook, queries: DataFrame, cfg: SearchConfig,
      nProbe: Int, refine: Int = 8): DataFrame = {
    requirePqScoreSpace(cb, cfg)
    val qs = routedQueries(queries, cfg, centroids, nProbe)
    // one LUT per query, in the routed rows' order; a null query vector
    // routes nowhere, so it has no LUT and scores nothing
    def id(r: Row): Any = KnnKernel.normKey(r.get(0))
    val vecs = qs.rows.map(r => id(r) -> r.getSeq[Float](1)).toMap
    val ids = qs.rows.map(id).distinct
    val qIdx = ids.zipWithIndex.toMap
    val luts = ids.map(i => pqLut(cb, vecs(i)))
    val probed = localFrame(encodedIndexed.sparkSession,
      qs.rows.toSeq.map(r => Row(r.get(0), qIdx(id(r)), r.getInt(2))),
      StructType(Seq(qs.schema.get.fields(0),
        StructField("__qidx", IntegerType, nullable = false),
        StructField("cluster", IntegerType, nullable = false))))
    multiShortlistRerank(
      pruneToCells(encodedIndexed, qs).join(broadcast(probed), Seq("cluster")),
      graft.functions.PqAdcMulti(col("codes"), col("__qidx"), luts),
      queries, cfg, refine)(
      heapStage(encodedIndexed.columns.filterNot(_ == "codes").toSeq, cfg))
  }

  /** Batch IVF×SQ8 — the codebook-free sibling of [[ivfPqMultiSearch]]:
    * the queries are collected and routed once on the driver
    * ([[routedQueries]]), and the routed (query, cell) rows, each carrying
    * its query vector, join the codes on `cluster` as a broadcast local
    * frame over the statically pruned stored layout. Probed cells score
    * DEQUANTIZED int8 codes against the carried query vector
    * (`code · scale` through the codegen'd score kernel — no LUTs at
    * all). One scan of the codes + two bounded-top-k shuffles, regardless
    * of batch size. Approximate scores round to 6 like [[sq8Search]], so
    * single-query and batch shortlists bucket borderline candidates
    * identically. */
  def ivfSq8MultiSearch(encodedIndexed: DataFrame, centroids: Array[Array[Double]],
      queries: DataFrame, cfg: SearchConfig, nProbe: Int,
      refine: Int = 4): DataFrame = {
    require(!encodedIndexed.columns.contains("__qv"),
      "ivfSq8MultiSearch reserves column __qv")
    val qs = routedQueries(queries, cfg, centroids, nProbe)
    val fields = qs.schema.get.fields
    val probed = localFrame(encodedIndexed.sparkSession, qs.rows.toSeq,
      StructType(Seq(fields(0), fields(1).copy(name = "__qv"), fields(2))))
    val deq = transform(col("codes"), c => c.cast("double") * col("__scale"))
    val approx = round(ScoreFunctions.score(cfg.scoreFuncName, deq, col("__qv")), 6)
    // the heap keeps the smallest: negate higher-is-better scores, the
    // exact merge's convention
    multiShortlistRerank(
      pruneToCells(encodedIndexed, qs).join(broadcast(probed), Seq("cluster")),
      if (cfg.higherIsBetter) -approx else approx, queries, cfg, refine)(
      heapStage(encodedIndexed.columns.filterNot(c => c == "codes" || c == "__scale").toSeq,
        cfg))
  }

  /** The query's m×ksub squared-L2 lookup table vs every sub-centroid. */
  private def pqLut(cb: graft.functions.PqCodebook, query: Seq[Float]): Array[Array[Double]] = {
    val qRaw = query.toArray
    require(qRaw.length == cb.dim,
      s"pq query dim ${qRaw.length} != codebook dim ${cb.dim}")
    // a normalized codebook compares unit vectors — the query must join
    // them on the sphere or the ADC ranking is query-norm-skewed
    val q =
      if (!cb.normalized) qRaw
      else {
        val n = math.sqrt(qRaw.map(x => x.toDouble * x).sum)
        if (n == 0) qRaw else qRaw.map(x => (x / n).toFloat)
      }
    Array.tabulate(cb.m, cb.ksub) { (j, c) =>
      val cent = cb.centers(j)(c)
      val off = j * cb.subDim
      var d = 0.0
      var i = 0
      val n = math.min(cb.subDim, math.max(0, q.length - off))
      while (i < n) {
        val diff = q(off + i) - cent(i)
        d += diff * diff
        i += 1
      }
      d
    }
  }

  /** The PQ index sidecar ([[pqSave]]): a `version;m;subDim;normalized`
    * header, then the codebook's sub-centroids. */
  val PqSidecar = "codebook.csv"

  /** Persist / load a PQ index: encoded codes table + codebook sidecar,
    * same versioned atomic-swap protocol as [[ivfSave]]. */
  def pqSave(dir: String, encoded: DataFrame,
      cb: graft.functions.PqCodebook): Unit =
    graft.model.VersionedDir.commit(encoded.sparkSession, dir, PqSidecar,
        version => s"$version;${cb.m};${cb.subDim};${cb.normalized}" +:
          cb.centers.flatMap(_.map(_.mkString(","))).toSeq)(
      encoded.write.mode("overwrite").parquet(_))

  def pqLoad(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, graft.functions.PqCodebook) = {
    val lines = graft.model.VersionedDir.readSidecar(spark, dir, PqSidecar)
    val header = lines.head.split(";")
    require(header.length == 4,
      s"$dir/$PqSidecar header '${lines.head}' is not version;m;subDim;normalized " +
        "— an older PQ index format; rebuild it with pqSave")
    val (version, m, subDim, normalized) =
      (header(0), header(1).toInt, header(2).toInt, header(3).toBoolean)
    val flat = lines.tail.map(_.split(",").map(_.toFloat)).toArray
    val centers = flat.grouped(flat.length / m).toArray
    (spark.read.parquet(s"$dir/$version"),
      graft.functions.PqCodebook(m, subDim, centers, normalized))
  }

  // ------------------------------------------------------------------ SQ8

  /** Scalar int8 quantization: per-vector symmetric scale
    * (`max|x| / 127`), codes in [-127, 127] as bytes — 4× smaller than
    * float32 on the scan side with none of PQ's codebook training. The
    * rounding is `floor(x/scale + 0.5)` rather than `round` because both
    * engines define THAT identically (round-half-up), so the codes — and
    * therefore the whole approximate search — replay bit-exactly in the
    * DuckDB oracle, unlike the recall-tested PQ/LSH paths. */
  def sq8Encode(data: DataFrame, featureCol: String): DataFrame = {
    val f = col(featureCol).cast("array<double>")
    val scale = array_max(transform(f, x => abs(x))) / 127d
    data.withColumn("__scale", scale)
      .withColumn("codes",
        when(col("__scale") === 0d, transform(f, _ => lit(0).cast("byte")))
          .otherwise(transform(f, x =>
            greatest(lit(-127d), least(lit(127d),
              floor(x / col("__scale") + 0.5d))).cast("byte"))))
  }

  /** Approximate kNN over SQ8 codes: the shortlist scores the
    * DEQUANTIZED codes (`code · scale`) with the config's own score
    * function, rounded to 6 so both engines bucket borderline candidates
    * identically. */
  def sq8Search(encoded: DataFrame, query: Seq[Float], cfg: SearchConfig,
      refine: Int = 4): DataFrame = {
    val deq = transform(col("codes"), c => c.cast("double") * col("__scale"))
    shortlistRerank(encoded,
      round(ScoreFunctions.score(cfg.scoreFuncName, deq, lit(query.toArray)), 6),
      cfg.higherIsBetter, query, cfg, refine, "__scale", "codes")
  }

  // --------------------------------------- Rademacher random projection

  /** Deterministic Rademacher sign for flat index `e` (= i·projDim + j):
    * the parity of the [[Mixture.idHash]] affine hash — plain integer
    * math both engines replay bit-exactly (the reason this is ±1 signs
    * from a hash and not a seeded Gaussian matrix: a JL projection needs
    * only sub-Gaussian entries — Achlioptas 2001 — and the Rademacher
    * choice makes the whole projection integer-deterministic). */
  private def rpSignCol(e: Column): Column =
    when(pmod(Mixture.idHash(e), lit(2)) === 0, lit(1d)).otherwise(lit(-1d))

  private def rpSignLocal(e: Long): Double = {
    val h = (Mixture.HashA * (e % Mixture.HashP) + Mixture.HashB) % Mixture.HashP
    if (h % 2 == 0) 1d else -1d
  }

  /** Project a float/double array column to `projDim` dims:
    * `p_j = Σ_i v_i · s(i·projDim + j)`, summed in ascending-i order —
    * the ordered fold the DuckDB oracle mirrors with `list_reduce`.
    * (No `1/√projDim` scale: it cancels in distance COMPARISONS, and
    * dropping it keeps every arithmetic step a ±-signed add.) */
  def rpProject(vec: Column, projDim: Int): Column =
    transform(sequence(lit(0), lit(projDim - 1)), j =>
      aggregate(
        transform(sequence(lit(1), size(vec)), i =>
          element_at(vec, i).cast("double") *
            rpSignCol((i - 1) * lit(projDim) + j)),
        lit(0d), (acc, x) => acc + x))

  /** Driver-side twin of [[rpProject]] (same fold order — bit-identical). */
  def rpProjectLocal(vec: Seq[Float], projDim: Int): Array[Double] =
    Array.tabulate(projDim) { j =>
      var acc = 0d
      var i = 0
      while (i < vec.length) {
        acc += vec(i).toDouble * rpSignLocal(i.toLong * projDim + j)
        i += 1
      }
      acc
    }

  /** J2 variant: Johnson–Lindenstrauss shortlist + exact rerank. The
    * corpus projects to `projDim` dims map-side (O(d·projDim) per row —
    * at scale, precompute once with [[rpEncode]] and store), and the
    * shortlist ranks by projected SQUARED L2 (`projDim` flops per row
    * instead of `d`). Fully oracle-replayable: signs are integer hash
    * parity, projections and distances are ordered double folds — the
    * `ann_rp_knn` query is a complete DuckDB replay (the [[sq8Search]]
    * class of evidence), not a recall floor. */
  def rpSearch(data: DataFrame, query: Seq[Float], cfg: SearchConfig,
      projDim: Int = 8, refine: Int = 10): DataFrame = {
    require(projDim >= 1 && refine >= 1, s"projDim=$projDim refine=$refine")
    require(!cfg.higherIsBetter,
      "rpSearch shortlists by projected L2 distance — configure a distance " +
        "(lower-is-better) score function; JL preserves distances, not " +
        "similarities")
    rpSearchEncoded(rpEncode(data, cfg.featureCol, projDim), query, cfg,
      projDim, refine)
  }

  /** Materialize the projections next to the original vectors — the
    * [[sq8Encode]] analog: at scale the projection is computed ONCE at
    * build/ingest time and stored, so a query scans `projDim` doubles
    * per row (8 vs 64+ float mults) instead of paying the O(d·projDim)
    * projection per scan. Projections are a pure deterministic function
    * of the vector, so a stored table and a fresh encode are
    * value-identical and the full-replay oracles keep holding. */
  def rpEncode(data: DataFrame, featureCol: String, projDim: Int): DataFrame =
    data.withColumn("__rp", rpProject(col(featureCol), projDim))

  /** Squared L2 between the stored `__rp` projection and `q(j)`, the
    * query's projected coordinate j (1-based), folded in ascending j from
    * 0 — the order the DuckDB oracles replay. */
  private def rpDist2(q: Int => Column, projDim: Int): Column =
    (1 to projDim).map { j =>
      val d = element_at(col("__rp"), j) - q(j); d * d
    }.foldLeft(lit(0d))(_ + _)

  /** [[rpSearch]] over a PRE-ENCODED table ([[rpEncode]] output): the
    * shortlist scores the stored `__rp` column with codegen'd fixed
    * arithmetic — no per-scan projection HOF. */
  def rpSearchEncoded(encoded: DataFrame, query: Seq[Float],
      cfg: SearchConfig, projDim: Int = 8, refine: Int = 10): DataFrame = {
    require(projDim >= 1 && refine >= 1, s"projDim=$projDim refine=$refine")
    require(!cfg.higherIsBetter,
      "rpSearchEncoded shortlists by projected L2 distance — configure a " +
        "distance (lower-is-better) score function")
    require(encoded.columns.contains("__rp"),
      "rpSearchEncoded needs the __rp column — encode with rpEncode first")
    val qp = rpProjectLocal(query, projDim)
    shortlistRerank(encoded, rpDist2(j => lit(qp(j - 1)), projDim),
      descending = false, query, cfg, refine, "__rp")
  }

  /** Batch JL shortlist + exact rerank ([[rpSearch]] for a query batch).
    * The corpus projects ONCE and candidate generation scores projected
    * pairs (projDim flops instead of d) through the [[windowStage]].
    * Fully oracle-replayable like the single-query path
    * (`ann_rp_multi`). */
  def rpMultiSearch(data: DataFrame, queries: DataFrame, cfg: SearchConfig,
      projDim: Int = 8, refine: Int = 10): DataFrame = {
    require(projDim >= 1 && refine >= 1, s"projDim=$projDim refine=$refine")
    require(!cfg.higherIsBetter,
      "rpMultiSearch shortlists by projected L2 distance — configure a " +
        "distance (lower-is-better) score function")
    val tie = cfg.tieBreakCol.getOrElse(throw new IllegalArgumentException(
      "rpMultiSearch needs tieBreakCol for a deterministic shortlist"))
    val pq = queries.select(col(Search.QueryIdCol),
      rpProject(col(cfg.featureCol), projDim).as("__qrp"))
    multiShortlistRerank(
      rpEncode(data, cfg.featureCol, projDim).crossJoin(broadcast(pq)),
      rpDist2(j => element_at(col("__qrp"), j), projDim),
      queries, cfg, refine)(windowStage(data, tie))
  }

  // ---------------------------------------------------------------- binary
  // Sign-bit (binary) quantization: 1 bit per dimension, packed into
  // longs — 64 dims per stored word (the d=64 synthetic embeddings pack
  // into a SINGLE long). Hamming distance between sign patterns is a
  // monotone proxy for angular distance (Charikar 2002: for unit
  // vectors, E[hamming] = d·θ/π under random hyperplanes; here the
  // hyperplanes are the coordinate axes — the SimHash idea applied to
  // the raw coordinate signs). The shortlist is the cheapest in the
  // quantization family: XOR + popcount per word (codegen `bit_count`),
  // 64× compression, then the usual exact rerank. Like SQ8/RP, the
  // whole approximate ordering is integer-deterministic — the oracle
  // replays the shortlist as a sign-mismatch count (bit j of word w is
  // `v[w·64+j] > 0`; XOR-popcount over packed words == Σ mismatched
  // signs, so the unpacked DuckDB spelling is bit-exact).
  //
  // Caveat (measured in BqSearchSpec): codes COLLAPSE for
  // near-identical vectors — a tight cluster shares one sign pattern,
  // so within-cluster order is invisible to the shortlist and ties cut
  // by id. Size `refine` to cover the expected duplicate/cluster
  // multiplicity, or use RP/SQ8 when within-cluster rank matters.

  /** Column name for the packed sign bits ([[bqEncode]] output). */
  val BqCol = "__bq"

  private def bqWords(dim: Int): Int = (dim + 63) / 64

  /** Pack the sign bits of an array<float/double> column into
    * array<long>: within word `w`, element `w·64+1` lands in the
    * highest shifted position (shift-then-or in ascending element
    * order — the exact fold [[bqPackLocal]] mirrors). Bitwise shifts
    * wrap, so bit 63 never trips ANSI overflow. Vectors SHORTER than
    * `dim` fail loudly (ANSI element_at) — binary codes are only
    * comparable at one fixed dimensionality. */
  def bqPack(vec: Column, dim: Int): Column = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    transform(sequence(lit(0), lit(bqWords(dim) - 1)), w =>
      aggregate(
        sequence(w * lit(64) + 1, least(lit(dim), (w + 1) * lit(64))),
        lit(0L),
        (acc, i) => shiftleft(acc, 1)
          .bitwiseOR(when(element_at(vec, i).cast("double") > 0d, 1L)
            .otherwise(0L))))
  }

  /** Driver-side twin of [[bqPack]] (same shift-then-or fold order —
    * bit-identical words). */
  def bqPackLocal(vec: Seq[Float]): Array[Long] = {
    val words = new Array[Long](bqWords(vec.length))
    var i = 0
    while (i < vec.length) {
      val w = i / 64
      words(w) = (words(w) << 1) | (if (vec(i) > 0f) 1L else 0L)
      i += 1
    }
    words
  }

  /** Hamming distance between a packed array<long> column and a packed
    * driver-side query: per-word XOR + `bit_count`, statically unrolled
    * over the word count (1 term at d=64) — a pure codegen integer
    * expression, no HOF in the scan. */
  def bqHamming(packed: Column, queryWords: Array[Long]): Column =
    queryWords.zipWithIndex.map { case (qw, w) =>
      bit_count(element_at(packed, w + 1).bitwiseXOR(lit(qw)))
    }.reduce(_ + _)

  /** [[bqHamming]] for two packed columns (the batch path). */
  def bqHammingCols(a: Column, b: Column, words: Int): Column =
    (1 to words).map { w =>
      bit_count(element_at(a, w).bitwiseXOR(element_at(b, w)))
    }.reduce(_ + _)

  /** Materialize packed sign bits next to the original vectors (the
    * [[sq8Encode]]/[[rpEncode]] analog): at scale the pack runs ONCE at
    * build/ingest and a query scans ONE long per 64 dims — 64× less
    * than the float vectors, the cheapest shortlist scan in the family.
    * Codes are a pure deterministic function of the vector, so stored
    * and fresh encodes are value-identical and full-replay oracles keep
    * holding. */
  def bqEncode(data: DataFrame, featureCol: String, dim: Int): DataFrame =
    data.withColumn(BqCol, bqPack(col(featureCol), dim))

  /** Binary-quantized search over a PRE-ENCODED table ([[bqEncode]]
    * output): the shortlist ranks by Hamming distance (XOR+popcount on
    * the packed words). Works for distance AND similarity exact scores —
    * sign-pattern Hamming approximates the ANGLE, so low Hamming is the
    * right shortlist for both ends. */
  def bqSearchEncoded(encoded: DataFrame, query: Seq[Float],
      cfg: SearchConfig, refine: Int = 10): DataFrame = {
    require(refine >= 1, s"refine=$refine")
    require(encoded.columns.contains(BqCol),
      s"bqSearchEncoded needs the $BqCol column — encode with bqEncode first")
    shortlistRerank(encoded, bqHamming(col(BqCol), bqPackLocal(query)),
      descending = false, query, cfg, refine, BqCol)
  }

  /** [[bqSearchEncoded]] with the encode inlined (one-shot scans; at
    * scale, encode once with [[bqEncode]] and store). */
  def bqSearch(data: DataFrame, query: Seq[Float], cfg: SearchConfig,
      refine: Int = 10): DataFrame =
    bqSearchEncoded(bqEncode(data, cfg.featureCol, query.length), query,
      cfg, refine)

  /** Batch binary-quantized search ([[rpMultiSearch]]'s plan shape over
    * packed words): the corpus packs ONCE and candidate generation
    * XOR-popcounts packed pairs through the [[windowStage]]. */
  def bqMultiSearch(data: DataFrame, queries: DataFrame, cfg: SearchConfig,
      dim: Int, refine: Int = 10): DataFrame = {
    require(refine >= 1, s"refine=$refine")
    val tie = cfg.tieBreakCol.getOrElse(throw new IllegalArgumentException(
      "bqMultiSearch needs tieBreakCol for a deterministic shortlist"))
    val pq = queries.select(col(Search.QueryIdCol),
      bqPack(col(cfg.featureCol), dim).as("__qbq"))
    multiShortlistRerank(
      bqEncode(data, cfg.featureCol, dim).crossJoin(broadcast(pq)),
      bqHammingCols(col(BqCol), col("__qbq"), bqWords(dim)),
      queries, cfg, refine)(windowStage(data, tie))
  }

  /** Name-prefix routing like the reference (search.go:136-141): "Annoy*"
    * score functions go to the approximate path, everything else to the
    * exact scan. */
  def route(data: DataFrame, query: Seq[Float], cfg: SearchConfig): DataFrame =
    if (ScoreFunctions.isApprox(cfg.scoreFuncName)) lshSearch(data, query, cfg)
    else Search.search(data, query, cfg)

  /** Batch routing: "Annoy*" goes through the IVF index, everything else
    * to the exact batch scan. IVF is the deliberate default for batches —
    * partition pruning on the stored layout beats the ×numHashTables data
    * explosion of the LSH bucket join; callers that specifically want the
    * LSH index route batches through [[lshMultiSearch]] themselves. */
  def multiRoute(data: DataFrame, queries: DataFrame, cfg: SearchConfig,
      index: => (DataFrame, Array[Array[Double]]), nProbe: Int = 4): DataFrame =
    if (ScoreFunctions.isApprox(cfg.scoreFuncName)) {
      val (indexed, centroids) = index
      ivfMultiSearch(indexed, centroids,
        queries, cfg.copy(scoreFuncName = ScoreFunctions.exactName(cfg.scoreFuncName)), nProbe)
    } else Search.multiSearch(data, queries, cfg)
}
